"""Outside-in tracing of the engine's layers for the traced run.

Spans are opened around calls into each layer's public functions, either
by the benchmark's own code (`Tracer.call`) or by wrappers installed on
those functions for the duration of a traced deck and removed afterwards.
No code of the engine is changed. Spans and counters live in memory and are
written out when the run ends.

Layer self time is a span's duration minus the durations of its direct
child spans, summed over the layer's spans.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
from collections import Counter
from typing import Callable, Dict, List, Optional

# wrappers that open spans: (module path, attribute path, layer)
SPAN_PATCHES = [
    ("framequery_spark.executor.executor", "parse", "parser"),
    ("framequery_spark.executor.executor", "Executor.execute", "executor"),
    ("framequery_spark.compiler.select", "QueryCompiler.compile_query",
     "compiler"),
    ("framequery_spark.alchemy.dbapi", "Cursor.execute", "alchemy"),
    ("framequery_spark.alchemy.dbapi", "Cursor.fetchall", "alchemy"),
]
# DataFrame methods that pin data; counted against the innermost layer
PERSIST_METHODS = ("persist", "cache", "localCheckpoint", "checkpoint")
# layers whose Spark jobs run before the lazy result is returned
BUILD_LAYERS = ("executor", "compiler", "parser", "operators")


def _resolve(module: str, path: str):
    import importlib

    owner = importlib.import_module(module)
    *parents, attr = path.split(".")
    for p in parents:
        owner = getattr(owner, p)
    return owner, attr


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.active = False
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self._patches: list = []
        self._muted = False
        # seconds spent reading Spark state for the trace inside traced
        # decks: the tracer's own share of their wall time
        self.bookkeeping_s = 0.0
        self._main = threading.get_ident()
        self.op_id: Optional[str] = None
        self.py4j: Counter = Counter()
        self.persists: Counter = Counter()
        # per-op Spark observations, filled by the exec wrapper
        self.catalyst: Counter = Counter()
        self.rows_out = 0
        self.rows_fetched = 0
        # (op kind, build-phase job stats, run-phase job stats) per op
        self.op_stats: list = []
        self.op_kind: Dict[str, str] = {}

    # ---------------------------------------------------------------- spans

    def _layer(self) -> Optional[str]:
        return self.spans[self._stack[-1]]["layer"] if self._stack else None

    def in_layers(self, layers) -> bool:
        return any(self.spans[i]["layer"] in layers for i in self._stack)

    def _open(self, layer: str, name: str) -> int:
        self.spans.append({"layer": layer, "name": name, "op": self.op_id,
                           "parent": self._stack[-1] if self._stack else None,
                           "start": time.perf_counter(), "end": None})
        self._stack.append(len(self.spans) - 1)
        return self._stack[-1]

    def _close(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        self._stack.pop()

    def call(self, layer: str, name: str, fn: Callable, *args, **kwargs):
        """Call fn, inside a span when tracing is active."""
        if not self.active:
            return fn(*args, **kwargs)
        idx = self._open(layer, name)
        try:
            return fn(*args, **kwargs)
        finally:
            self._close(idx)

    # ------------------------------------------------------------- patching

    def _patch(self, owner, attr: str, wrapper) -> None:
        had_own = attr in vars(owner)
        self._patches.append((owner, attr, vars(owner).get(attr), had_own))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        """Install every wrapper; `uninstall` restores the originals."""
        if self._patches:
            raise RuntimeError("tracer wrappers are already installed")
        for module, path, layer in SPAN_PATCHES:
            owner, attr = _resolve(module, path)
            orig = getattr(owner, attr)
            self._patch(owner, attr, self._span_wrapper(orig, layer, path))

        from pyspark.sql.classic.dataframe import DataFrame

        self._patch(DataFrame, "collect",
                    self._collect_wrapper(DataFrame.collect))
        for name in PERSIST_METHODS:
            self._patch(DataFrame, name,
                        self._persist_wrapper(getattr(DataFrame, name)))

        client_cls = type(self.sc._gateway._gateway_client)
        self._patch(client_cls, "send_command",
                    self._py4j_wrapper(client_cls.send_command))
        self.active = True

    def uninstall(self) -> None:
        self.active = False
        while self._patches:
            owner, attr, orig, had_own = self._patches.pop()
            if had_own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)

    def _span_wrapper(self, orig, layer: str, name: str):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return tracer.call(layer, name, orig, *args, **kwargs)
        return wrapper

    def _persist_wrapper(self, orig):
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            tracer.persists[tracer._layer()] += 1
            return orig(*args, **kwargs)
        return wrapper

    def _py4j_wrapper(self, orig):
        tracer = self

        @functools.wraps(orig)
        def wrapper(client, command, *args, **kwargs):
            # memory commands are py4j's own garbage collection, sent from
            # its finalizer thread at times the program does not choose
            if (not tracer._muted and not command.startswith("m\n")
                    and threading.get_ident() == tracer._main):
                tracer.py4j[tracer._layer()] += 1
            return orig(client, command, *args, **kwargs)
        return wrapper

    def _collect_wrapper(self, orig):
        tracer = self

        @functools.wraps(orig)
        def wrapper(df, *args, **kwargs):
            # a collect made while a statement or operator is still being
            # built is one of its build-time jobs, not result execution
            if tracer.in_layers(BUILD_LAYERS):
                return tracer.call("exec", "collect", orig, df, *args,
                                   **kwargs)
            tracer.job_group("run")
            rows = tracer.call("exec", "collect", orig, df, *args, **kwargs)
            tracer.rows_out += len(rows)
            tracer._read_plan(df)
            return rows
        return wrapper

    # ------------------------------------------------------- Spark readings

    def run_op(self, op_id: str, kind: str, fn: Callable, *args):
        """Run one op inside an 'op' span, with its build-phase jobs in
        one job group and its result collection in another."""
        self.op_id = op_id
        self.op_kind[op_id] = kind
        self.job_group("prep")
        try:
            return self.call("op", kind, fn, *args)
        finally:
            self.op_stats.append((kind, self.job_stats("prep"),
                                  self.job_stats("run")))

    def job_group(self, phase: str) -> None:
        with self._bookkeeping():
            self.sc.setJobGroup(f"fqbench-{self.op_id}-{phase}", phase)

    def _read_plan(self, df) -> None:
        """Catalyst phase times and Exchange count of a collected result."""
        with self._bookkeeping():
            qe = df._jdf.queryExecution()
            phases = qe.tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                got = phases.get(ph)
                if got.isDefined():
                    s = got.get()
                    self.catalyst[ph + "_ms"] += (s.endTimeMs()
                                                  - s.startTimeMs())
            plan = qe.executedPlan()
            if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
                plan = plan.executedPlan()
            self.catalyst["exchanges"] += count_exchanges(plan.treeString())

    @contextlib.contextmanager
    def _bookkeeping(self):
        """Py4j calls made here are the tracer's own: not counted against
        a layer, and their time is added to bookkeeping_s."""
        self._muted = True
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.bookkeeping_s += time.perf_counter() - t0
            self._muted = False

    def job_stats(self, phase: str) -> Counter:
        """job_totals over the current op's job group for `phase`."""
        with self._bookkeeping():
            return job_totals(self.sc, self.sc.statusTracker()
                              .getJobIdsForGroup(
                                  f"fqbench-{self.op_id}-{phase}"))

    def jvm_ms(self) -> Dict[str, int]:
        """Cumulative JVM garbage-collection and JIT-compilation time; read
        between decks, while no wrapper is installed."""
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        return {"gc": sum(b.getCollectionTime()
                          for b in mf.getGarbageCollectorMXBeans()),
                "jit": mf.getCompilationMXBean().getTotalCompilationTime()}

    # -------------------------------------------------------------- results

    def self_times(self) -> Counter:
        """Self seconds per layer over all closed spans."""
        child = Counter()
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: Counter = Counter()
        for i, s in enumerate(self.spans):
            out[s["layer"]] += s["end"] - s["start"] - child[i]
        return out

    def has_descendant(self, idx: int, layer: str) -> bool:
        for s in self.spans[idx + 1:]:
            p = s["parent"]
            while p is not None and p > idx:
                p = self.spans[p]["parent"]
            if p == idx and s["layer"] == layer:
                return True
            if s["start"] > self.spans[idx]["end"]:
                break
        return False

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def job_totals(sc, job_ids) -> Counter:
    """Jobs, stages, tasks and stage metrics of the given Spark jobs, read
    through statusTracker() and the status store once the listener bus has
    drained. Stages skipped because their shuffle output was reused are
    not counted."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    st = sc.statusTracker()
    store = jsc.statusStore()
    no_status = sc._jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    out: Counter = Counter()
    for jid in job_ids:
        out["jobs"] += 1
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            si = st.getStageInfo(sid)
            if si is None or si.numCompletedTasks == 0:
                continue
            out["stages"] += 1
            out["tasks"] += si.numCompletedTasks
            sd = store.stageAttempt(sid, si.currentAttemptId, False,
                                    no_status, False, no_quantiles)._1()
            out["task_time_ms"] += sd.executorRunTime()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += (sd.memoryBytesSpilled()
                                   + sd.diskBytesSpilled())
    return out


def count_exchanges(tree: str) -> int:
    """Exchange operators (shuffle, broadcast and reused) in a physical
    plan's tree string."""
    import re

    return len(re.findall(r"(?m)^[\s:+\-|]*(?:\w*Exchange)\b", tree))
