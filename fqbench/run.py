"""framequery_spark benchmark: two closed-loop workloads, one client each.

    python3 fqbench/run.py --workload sql_adhoc --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The run generates its inputs from --seed
in a child process, starts the engine on local[$SPARK_GRAFT_CPUS] with the
session settings bench.py uses, runs fixed warm-up decks and then a number
of measured decks that depends only on --workload and --seconds, checks
every op's result against DuckDB (computed in another child process after
the engine has stopped), and prints one JSON object as its last line.

--trace 0 prints the end-to-end metrics. --trace 1 runs the same ops,
traces every second measured deck through wrappers around each layer's
public functions, and prints the per-layer metrics together with the
tracing overhead against the untraced decks of the same run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure  # noqa: E402
import workloads  # noqa: E402
from check import normalize, same_rows  # noqa: E402

# JVM heap of the local Spark process. bench.py defaults to 64g for its sf0.1
# inventory; these inputs are 100x smaller and the host is shared.
DRIVER_MEMORY = "2g"
# bench.py's code-cache flags, plus:
#  - TieredStopAtLevel=1 (C1 only): every statement makes new generated
#    classes, so C2 never stops compiling; on llm_pipeline its compile
#    threads took ~45% of the process CPU (25 s against 14 s per deck) on a
#    4-vCPU host where they compete with the 4 task threads;
#  - a fixed, pre-touched heap (-Xms = -Xmx, AlwaysPreTouch): peak RSS
#    then measures everything but heap sizing decisions (spread 0.34
#    across seeds with a growing heap, 0.004 fixed);
#  - -XX:-UsePerfData, so the JVM writes no /tmp/hsperfdata_* file.
JAVA_FLAGS = ("-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing "
              f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEMORY} "
              "-XX:+AlwaysPreTouch -XX:-UsePerfData")
SPARK_STOP_TIMEOUT_S = 30


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# ----------------------------------------------------------------- session


def start_spark(work: str, cpus: int):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName("fqbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions",
                f"{JAVA_FLAGS} -Djava.io.tmpdir={work}/tmp")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", f"{work}/local")
        .config("spark.sql.warehouse.dir", f"{work}/warehouse")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from framequery_spark.plans.tuning import configure_session

    configure_session(spark, cpus)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from py4j.protocol import Py4JError
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        try:
            gateway.shutdown()
        except (Py4JError, OSError):
            pass  # the JVM is already gone; it is waited for below
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(SPARK_STOP_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def reap_all(timeout_s: float = SPARK_STOP_TIMEOUT_S) -> None:
    for pid in measure.wait_descendants(os.getpid(), timeout_s):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    measure.wait_descendants(os.getpid(), 5)


def child(script: str, *args) -> float:
    """Run one of the benchmark's helper scripts to completion; returns its
    wall time."""
    t0 = time.perf_counter()
    subprocess.run([sys.executable, os.path.join(HERE, script), *args],
                   check=True, cwd=HERE)
    return time.perf_counter() - t0


# ----------------------------------------------------------------- runners


class Runner:
    """Runs one workload's ops. `run_op` returns the op's result rows
    (None for writes); `end_deck` returns the deck's table state, read
    outside the timed window."""

    def __init__(self, spark, tables: dict):
        self.spark = spark
        self.tables = tables
        self.tracer = NullTracer()  # the deck loop swaps in a Tracer

    def start_deck(self) -> None:
        pass

    def end_deck(self):
        return None


class AdhocRunner(Runner):
    """Ad-hoc reads go through framequery_spark.execute over the base
    tables; the deck's writes and session read go through one DBAPI
    connection opened for the deck."""

    def start_deck(self) -> None:
        from framequery_spark.alchemy import connect

        self.conn = connect(spark=self.spark)
        # the DBAPI connection has no scope argument; its Executor's public
        # update() registers the base tables for this deck
        self.conn._executor.update(**self.tables)
        self.cur = self.conn.cursor()

    def run_op(self, op):
        if op.via == "execute":
            import framequery_spark as fq

            df = self.tracer.call("executor", "execute", fq.execute, op.sql,
                                  self.tables, spark=self.spark)
            return df.collect()
        self.cur.execute(op.sql)
        if op.kind == "write":
            return None
        rows = self.cur.fetchall()
        self.tracer.rows_fetched += len(rows)
        return rows

    def end_deck(self):
        state = []
        for q in workloads.SESSION_STATE:
            self.cur.execute(q)
            state.append(normalize(self.cur.fetchall()))
        self.conn.close()
        return state


class LlmRunner(Runner):
    """Operators are called directly. exact_dedup's one row per kept
    document is reduced to a digest in the engine so the Python side does not
    pull the corpus; pair and top-k results are collected whole."""

    def run_op(self, op):
        from pyspark.sql import functions as F

        from framequery_spark.operators import (cache, dedup, retrieval,
                                                similarity)
        from framequery_spark.sources.local_relation import local_relation

        p, docs, emb = op.params, self.tables["documents"], \
            self.tables["embeddings"]
        build = self.tracer.call
        name = op.kind
        if name == "exact_dedup":
            out = build("operators", name, dedup.exact_dedup, docs, ["text"])
            out = out.agg(F.count(F.lit(1)), F.sum("doc_id"))
        elif name == "minhash_lsh_pairs":
            # 16 permutations in 16 bands of 1 row: a pair at the lowest
            # threshold drawn, Jaccard 0.8, is missed with probability
            # (1 - 0.8)^16 < 1e-11, so the exact reference applies
            out = build("operators", name, dedup.minhash_lsh_pairs, docs,
                        num_perm=16, bands=16,
                        threshold=p["minhash_threshold"],
                        seed=p["minhash_seed"])
        elif name == "bm25_topk":
            queries = local_relation(
                self.spark, list(enumerate(p["bm25_queries"], 1)),
                "query_id long, query string")
            out = build("operators", name, retrieval.bm25_topk, docs,
                        queries, k=p["bm25_k"])
        elif name == "cosine_topk":
            queries = emb.where(F.col("vec_id").isin(p["cosine_queries"]))
            out = build("operators", name, similarity.cosine_topk, emb,
                        queries, k=p["cosine_k"])
        else:
            raise ValueError(f"unknown operator {name}")
        rows = out.collect()
        cache.release_cached(blocking=True)
        return rows


RUNNERS = {"sql_adhoc": AdhocRunner, "llm_pipeline": LlmRunner}


class NullTracer:
    """Stands in for spans.Tracer in untraced decks: the same calls, with no
    spans and no wrappers."""
    rows_fetched = 0

    @staticmethod
    def call(layer, name, fn, *args, **kwargs):
        return fn(*args, **kwargs)

    @staticmethod
    def run_op(op_id, kind, fn, *args):
        return fn(*args)


# -------------------------------------------------------------- the run


def load_tables(spark, data: str) -> dict:
    from framequery_spark.sources.testdata import load_table

    names = sorted(f[:-len(".parquet")] for f in os.listdir(data))
    return {n: load_table(spark, data, n) for n in names}


def run(args, work: str) -> dict:
    host = measure.HostSampler()
    data = os.path.join(work, "data")
    gen_s = child("gen.py", "--workload", args.workload, "--seed",
                  str(args.seed), "--out", data)

    t_setup = time.perf_counter()
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    spark = start_spark(work, cpus)
    try:
        r = measure_decks(args, data, spark, t_setup)
    finally:
        stop_spark(spark)
        reap_all()
    r.update(host=host.summary(), gen_s=gen_s)
    return r


def ungrouped_jobs(spark) -> set:
    """Ids of the Spark jobs run outside any job group so far (every job of
    an untraced run), once the listener bus has drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return set(sc.statusTracker().getJobIdsForGroup())


def measure_decks(args, data, spark, t_setup) -> dict:
    """Warm-up decks, then measured decks. In a traced run every second
    measured deck is traced; the others give the untraced reference for
    the tracing overhead."""
    import spans

    tracer = spans.Tracer(spark) if args.trace else None
    session_s = time.perf_counter() - t_setup
    t_load = time.perf_counter()
    tables = load_tables(spark, data)
    load_s = time.perf_counter() - t_load
    runner = RUNNERS[args.workload](spark, tables)
    decks = workloads.all_ops(args.workload, args.seed, args.seconds)
    n_warm = workloads.WARMUP_DECKS
    pid = os.getpid()
    deck_jobs: set = set()
    r = dict(decks=decks, n_warm=n_warm, load_s=load_s, tracer=tracer,
             session_s=session_s, warmup_s=[],
             results=[], states=[], op_s=[], deck_s=[], deck_cpu=[],
             traced_s=[], untraced_s=[], errors=0,
             jvm_ms={"gc": 0, "jit": 0})

    def guarded(fn, *a):
        try:
            return fn(*a)
        except Exception:
            r["errors"] += 1
            traceback.print_exc(file=sys.stderr)
            return Exception

    for d, deck in enumerate(decks):
        measured = d >= n_warm
        traced = bool(args.trace and measured and (d - n_warm) % 2 == 1)
        if d == n_warm:
            r["setup_s"] = time.perf_counter() - t_setup
        if measured and not args.trace:
            jobs_before = ungrouped_jobs(spark)
        if traced:
            jvm0 = tracer.jvm_ms()
            tracer.install()
        caller = tracer if traced else NullTracer()
        runner.tracer = caller
        runner.start_deck()
        cpu0 = measure.tree_cpu_s(pid)
        t0 = time.perf_counter()
        for i, op in enumerate(deck):
            t_op = time.perf_counter()
            rows = caller.run_op(f"{d}.{i}", op.kind, guarded, runner.run_op,
                                 op)
            if measured:
                r["op_s"].append(time.perf_counter() - t_op)
            r["results"].append(rows)
        elapsed = time.perf_counter() - t0
        cpu = measure.tree_cpu_s(pid) - cpu0
        if measured and not args.trace:
            deck_jobs |= ungrouped_jobs(spark) - jobs_before
        if traced:
            tracer.uninstall()
            runner.tracer = NullTracer()
            jvm1 = tracer.jvm_ms()
            for k in jvm1:
                r["jvm_ms"][k] += jvm1[k] - jvm0[k]
        r["states"].append(guarded(runner.end_deck))
        if not measured:
            r["warmup_s"].append(elapsed)
        else:
            r["deck_s"].append(elapsed)
            r["deck_cpu"].append(cpu)
            r["traced_s" if traced else "untraced_s"].append(elapsed)
    r["peak_rss_mb"] = measure.tree_peak_rss_mb(pid)
    if not args.trace:
        r["spark"] = spans.job_totals(spark.sparkContext, sorted(deck_jobs))
    return r


def check_results(args, work: str, r: dict) -> int:
    """Compare every op's result, and every deck's table state, with the
    DuckDB reference; returns the number of failed ops."""
    ref_path = os.path.join(work, "expected.json")
    r["ref_s"] = child("reference.py", "--workload", args.workload,
                       "--seed", str(args.seed), "--seconds",
                       str(args.seconds), "--data",
                       os.path.join(work, "data"), "--out", ref_path)
    with open(ref_path) as fh:
        ref = json.load(fh)
    ops = [op for deck in r["decks"] for op in deck]
    if not len(ref["ops"]) == len(ops) == len(r["results"]):
        raise RuntimeError("the reference and the run made different ops")
    bad = [got is Exception or (op.kind != "write" and not same_rows(
               normalize(got), [tuple(x) for x in want]))
           for op, got, want in zip(ops, r["results"], ref["ops"])]
    # a wrong table state after a deck fails the deck's writes
    start = 0
    for deck, got, want in zip(r["decks"], r["states"],
                               ref["states"] or [None] * len(r["decks"])):
        if want is not None and (got is Exception or any(
                not same_rows(g, [tuple(x) for x in w])
                for g, w in zip(got, want))):
            print("fqbench: wrong table state after a deck", file=sys.stderr)
            for i, op in enumerate(deck, start):
                bad[i] = bad[i] or op.kind == "write"
        start += len(deck)
    for op, b in zip(ops, bad):
        if b:
            print(f"fqbench: failed {op.kind} {op.sql[:200] or op.params}",
                  file=sys.stderr)
    return sum(bad)


def end_to_end(r: dict) -> dict:
    """The gated metrics: set-up time, peak memory, and the Spark jobs and
    tasks a measured deck launches. Deck wall time and process CPU time
    are printed as diagnostics but not gated: on the shared 4-vCPU host
    both follow CPU steal from other tenants (identical-mix runs read
    deck_s spread 0.48 and cpu_s spread 0.22 across seeds, against bounds
    of at most 0.25), while job and task counts repeat. Shuffle bytes are
    per-layer only: a few tens of KiB per sql_adhoc deck that move with the
    seeded literals (spread 0.27)."""
    n = len(r["deck_s"])
    spark = r["spark"]
    return {
        "setup_s": (r["setup_s"], "s"),
        "peak_rss_mb": (r["peak_rss_mb"], "MB"),
        "spark_jobs": (spark["jobs"] / n, "1/deck"),
        "spark_tasks": (spark["tasks"] / n, "1/deck"),
    }


def wall_clock(r: dict) -> dict:
    """Median deck and op latency, the op tail with its percentile and
    sample count (null when fewer than eleven ops were measured), and the
    process tree's CPU seconds per measured deck (their mean: the measured
    decks together run a fixed mix while single decks differ)."""
    t = measure.tail(r["op_s"])
    return {"deck_s": round(statistics.median(r["deck_s"]), 4),
            "cpu_s": round(sum(r["deck_cpu"]) / len(r["deck_cpu"]), 4),
            "op_p50_s": round(statistics.median(r["op_s"]), 4),
            "op_tail_s": round(t[0], 4) if t else None,
            "op_tail_pct": round(t[1], 2) if t else None,
            "ops": len(r["op_s"]),
            "first_vs_median_deck": round(
                r["deck_s"][0] / statistics.median(r["deck_s"]), 4)}


def per_layer(r: dict) -> dict:
    """Per-layer metrics over the traced decks, per deck. Times are self
    seconds of a layer's spans; counts are divided by the traced deck
    count, so they repeat exactly when the program does the same work."""
    from collections import Counter

    tr = r["tracer"]
    n = len(r["traced_s"])
    self_s = tr.self_times()
    compile_jobs, build_jobs, run = 0, 0, Counter()
    for kind, prep, ran in tr.op_stats:
        if kind in ("read", "write"):
            compile_jobs += prep["jobs"]
        else:
            build_jobs += prep["jobs"]
        run.update(ran)
    calls = [i for i, s in enumerate(tr.spans)
             if s["layer"] == "executor" and s["name"] == "execute"]
    hits = sum(1 for i in calls if not tr.has_descendant(i, "parser"))
    dml_s = sum(s["end"] - s["start"] for s in tr.spans
                if s["name"] == "Executor.execute"
                and tr.op_kind.get(s["op"]) == "write")
    # round trips made before the lazy result returns: statement dispatch,
    # plan-cache lookup and compilation
    build_py4j = tr.py4j["executor"] + tr.py4j["compiler"]
    return {
        "parser.parse_s": (self_s["parser"] / n, "s"),
        "parser.calls": (sum(s["layer"] == "parser" for s in tr.spans) / n,
                         "1/deck"),
        "compiler.compile_s": (self_s["compiler"] / n, "s"),
        "compiler.py4j_calls": (build_py4j / n, "1/deck"),
        "compiler.jobs": (compile_jobs / n, "1/deck"),
        "executor.self_s": (self_s["executor"] / n, "s"),
        "executor.plan_cache_lookups": (len(calls) / n, "1/deck"),
        "executor.plan_cache_hit_ratio": (hits / len(calls) if calls else 0.0,
                                          "ratio"),
        "executor.dml_s": (dml_s / n, "s"),
        "catalyst.analysis_s": (tr.catalyst["analysis_ms"] / 1e3 / n, "s"),
        "catalyst.optimization_s": (tr.catalyst["optimization_ms"] / 1e3 / n,
                                    "s"),
        "catalyst.planning_s": (tr.catalyst["planning_ms"] / 1e3 / n, "s"),
        "catalyst.exchanges": (tr.catalyst["exchanges"] / n, "1/deck"),
        "alchemy.self_s": (self_s["alchemy"] / n, "s"),
        "alchemy.rows_fetched": (tr.rows_fetched / n, "1/deck"),
        "operators.build_s": (self_s["operators"] / n, "s"),
        "operators.build_jobs": (build_jobs / n, "1/deck"),
        "operators.py4j_calls": (tr.py4j["operators"] / n, "1/deck"),
        "operators.persists": (tr.persists["operators"] / n, "1/deck"),
        "exec.collect_s": (self_s["exec"] / n, "s"),
        "exec.jobs": (run["jobs"] / n, "1/deck"),
        "exec.stages": (run["stages"] / n, "1/deck"),
        "exec.tasks": (run["tasks"] / n, "1/deck"),
        "exec.task_time_s": (run["task_time_ms"] / 1e3 / n, "s"),
        "exec.shuffle_write_bytes": (run["shuffle_write_bytes"] / n,
                                     "B/deck"),
        "exec.spill_bytes": (run["spill_bytes"] / n, "B/deck"),
        "exec.rows_out": (tr.rows_out / n, "1/deck"),
        "jvm.gc_s": (r["jvm_ms"]["gc"] / 1e3 / n, "s"),
        "jvm.jit_s": (r["jvm_ms"]["jit"] / 1e3 / n, "s"),
        "sources.load_s": (r["load_s"], "s"),
        "trace.decks": (n, "count"),
        # the tracer's own Spark reads over the rest of the traced decks'
        # wall time; comparing traced with untraced decks directly would
        # compare different statement mixes on sql_adhoc (see diagnostics)
        "trace.overhead_ratio": (tr.bookkeeping_s
                                 / (sum(r["traced_s"]) - tr.bookkeeping_s),
                                 "ratio"),
    }


# Per-layer counters that repeated exactly across two traced runs with the
# same seed on both workloads; a later change may claim a count against
# them. (BENCHMARK.json allows no extra keys, so the list lives here and in
# fqbench/README.md.)
EXACT_COUNTERS = [
    "parser.calls", "compiler.py4j_calls", "compiler.jobs",
    "executor.plan_cache_lookups", "executor.plan_cache_hit_ratio",
    "catalyst.exchanges", "alchemy.rows_fetched", "operators.build_jobs",
    "operators.py4j_calls", "operators.persists", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.shuffle_write_bytes", "exec.spill_bytes",
    "exec.rows_out", "trace.decks",
]


def result_line(attempted: int, failed: int, metrics: dict) -> str:
    """The last line of output: one JSON object with exactly these keys."""
    return json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    })


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "framequery_spark")):
        print(f"fqbench: no framequery_spark package under {ROOT}; run from "
              "the root of a framequery_spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    out_dir = os.path.join(ROOT, ".fqbench_work")
    work = os.path.join(out_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # keep the JVM's and Python's scratch files inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    try:
        r = run(args, work)
        failed = check_results(args, work, r)
        metrics = per_layer(r) if args.trace else end_to_end(r)
        if args.trace:
            r["tracer"].dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    diag = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": r["host"], "wall_clock": wall_clock(r),
            "session_s": round(r["session_s"], 3),
            "warmup_deck_s": [round(x, 3) for x in r["warmup_s"]],
            "deck_s": [round(x, 3) for x in r["deck_s"]],
            "gen_s": round(r["gen_s"], 3), "ref_s": round(r["ref_s"], 3),
            "errors": r["errors"]}
    if args.trace:
        diag["exact_counters"] = EXACT_COUNTERS
        diag["traced_vs_untraced_deck"] = round(
            statistics.median(r["traced_s"])
            / statistics.median(r["untraced_s"]), 4)
    print(json.dumps({"diagnostics": diag}))
    print(result_line(sum(len(d) for d in r["decks"]), failed, metrics))
    return 0


if __name__ == "__main__":
    sys.exit(main())
