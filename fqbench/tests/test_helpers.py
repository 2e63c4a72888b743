"""Tests of the benchmark's own helpers. No Spark session is started.

    python3 -m pytest fqbench/tests -q
"""

import json
import os
import sys
import time
from types import SimpleNamespace

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

import measure  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402
from check import normalize, same_rows  # noqa: E402


# ----------------------------------------------------------------- the tail


def test_tail_leaves_ten_samples_beyond():
    values = list(range(100))
    value, pct, n = measure.tail(values)
    assert (value, pct, n) == (89, 90.0, 100)
    assert sum(v > value for v in values) == measure.TAIL_BEYOND


@pytest.mark.parametrize("n", [11, 12, 24, 32, 40, 41, 100, 1000])
def test_tail_never_falls_back_to_the_maximum(n):
    values = [float(i) for i in range(n)]
    value, pct, got_n = measure.tail(values)
    assert value < max(values)
    assert sum(v > value for v in values) == 10
    assert got_n == n and pct == pytest.approx(100.0 * (n - 10) / n)


@pytest.mark.parametrize("n", [0, 1, 5, 10])
def test_no_tail_without_ten_samples_beyond(n):
    assert measure.tail([1.0] * n) is None


# --------------------------------------------------------------- the decks


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_deck_count_reads_no_clock(workload, monkeypatch):
    def no_clock():
        raise AssertionError("deck count must not depend on measured time")
    monkeypatch.setattr(time, "perf_counter", no_clock)
    monkeypatch.setattr(time, "time", no_clock)
    monkeypatch.setattr(time, "monotonic", no_clock)
    counts = [workloads.deck_count(workload, s) for s in (1, 12, 60)]
    assert counts[0] == workloads.ROUND_DECKS[workload]
    assert counts == sorted(counts)
    assert all(c % workloads.ROUND_DECKS[workload] == 0 for c in counts)
    ops = workloads.all_ops(workload, 5, 12)
    assert len(ops) == (workloads.WARMUP_DECKS
                        + workloads.deck_count(workload, 12))


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_decks_depend_only_on_arguments(workload):
    a = workloads.all_ops(workload, 3, 12)
    b = workloads.all_ops(workload, 3, 12)
    assert a == b
    assert a != workloads.all_ops(workload, 4, 12)


def test_adhoc_warmup_runs_every_statement_shape():
    warm = workloads.adhoc_decks(7, 1, 4)[0]
    fresh = {op.params["template"] for op in warm
             if op.via == "execute" and not op.repeat}
    assert fresh == {t.__name__ for t in workloads.ADHOC_TEMPLATES}
    writes = [op.sql.split()[0] for op in warm if op.kind == "write"]
    assert sorted(writes) == ["DELETE", "INSERT", "INSERT", "UPDATE"]
    assert sum(op.via == "dbapi" and op.kind == "read"
               for op in warm) == workloads.SESSION_READS


def test_adhoc_measured_rounds_run_a_fixed_mix():
    n = workloads.ROUND_DECKS["sql_adhoc"]
    for seed in (1, 2):
        decks = workloads.adhoc_decks(seed, 1, 4 * n)[1:]
        for i in range(0, len(decks), n):
            ops = [op for d in decks[i:i + n] for op in d]
            fresh = sorted(op.params["template"] for op in ops
                           if op.via == "execute" and not op.repeat)
            assert fresh == sorted(t.__name__
                                   for t in workloads.ADHOC_TEMPLATES)
            repeats = sorted(op.params["template"] for op in ops
                             if op.repeat)
            assert repeats == sorted(t.__name__ for t in workloads.REPEATED)
            writes = sorted(op.sql.split()[0] for op in ops
                            if op.kind == "write")
            assert writes == ["DELETE", "INSERT", "INSERT", "UPDATE"]
            assert sum(op.via == "dbapi" and op.kind == "read"
                       for op in ops) == workloads.SESSION_READS


def test_adhoc_decks_repeat_about_a_third():
    decks = workloads.adhoc_decks(1, 1, 8)
    ops = [op for d in decks[1:] for op in d if op.via == "execute"]
    share = sum(op.repeat for op in ops) / len(ops)
    assert 0.3 <= share <= 0.35
    texts = {op.sql for d in decks for op in d if not op.repeat}
    assert all(op.sql in texts for op in ops if op.repeat)


# ------------------------------------------------------------ output format


def test_result_line_format():
    line = run.result_line(66, 0, {"deck_s": (4.99, "s"),
                                   "peak_rss_mb": (1582.8, "MB")})
    out = json.loads(line)
    assert list(out) == ["correct", "attempted", "failed", "metrics"]
    assert out["correct"] is True and out["attempted"] == 66
    assert out["failed"] == 0
    assert out["metrics"]["deck_s"] == {"value": 4.99, "unit": "s"}
    assert "\n" not in line
    assert json.loads(run.result_line(5, 1, {}))["correct"] is False


def test_rows_compare_order_insensitive_with_float_tolerance():
    a = normalize([(2, "x", 0.1 + 0.2), (1, None, 3.0)])
    b = normalize([(1, None, 3), (2, "x", 0.3)])
    assert same_rows(a, b)
    assert not same_rows(a, normalize([(1, None, 3.0)]))
    assert not same_rows(a, normalize([(1, None, 3.0), (2, "y", 0.3)]))


def test_count_exchanges():
    plan = """AdaptiveSparkPlan isFinalPlan=true
+- *(3) HashAggregate
   +- AQEShuffleRead coalesced
      +- ShuffleQueryStage 1
         +- Exchange hashpartitioning(k#1, 8)
            +- *(2) BroadcastHashJoin
               :- BroadcastQueryStage 0
               :  +- BroadcastExchange HashedRelationBroadcastMode
               +- ReusedExchange [k#2], Exchange hashpartitioning(k#1, 8)"""
    assert spans.count_exchanges(plan) == 3


# ---------------------------------------------------------------- tracing


class _Client:
    def send_command(self, command):
        return "ok"


def _fake_spark():
    sc = SimpleNamespace(_gateway=SimpleNamespace(_gateway_client=_Client()))
    return SimpleNamespace(sparkContext=sc)


def _patched_targets():
    from pyspark.sql.classic.dataframe import DataFrame

    targets = [spans._resolve(m, p) for m, p, _ in spans.SPAN_PATCHES]
    targets += [(DataFrame, "collect")]
    targets += [(DataFrame, n) for n in spans.PERSIST_METHODS]
    targets += [(_Client, "send_command")]
    return {(id(o), a): (o, a, vars(o).get(a)) for o, a in targets}


def test_wrappers_are_removed_after_a_traced_deck():
    before = _patched_targets()
    tracer = spans.Tracer(_fake_spark())
    tracer.install()
    try:
        for owner, attr, orig in before.values():
            assert getattr(owner, attr) is not orig
        # py4j calls are counted against the innermost open layer
        client = tracer.sc._gateway._gateway_client
        tracer.call("compiler", "c", client.send_command, "c\ncall\n")
        client.send_command("m\nd\no1\n")  # py4j's own gc: not counted
        assert tracer.py4j == {"compiler": 1}
    finally:
        tracer.uninstall()
    after = _patched_targets()
    for key, (owner, attr, orig) in before.items():
        assert after[key][2] is orig, f"{owner.__name__}.{attr} not restored"
    assert "send_command" in vars(_Client)


def test_self_time_subtracts_children():
    tracer = spans.Tracer(_fake_spark())
    tracer.active = True
    tracer.call("executor", "execute", lambda: tracer.call(
        "parser", "parse", time.sleep, 0.02))
    st = tracer.self_times()
    total = tracer.spans[0]["end"] - tracer.spans[0]["start"]
    assert st["parser"] >= 0.02
    assert st["executor"] + st["parser"] == pytest.approx(total)
    assert tracer.has_descendant(0, "parser")
    assert not tracer.has_descendant(1, "parser")


# ------------------------------------- traced and untraced send the same ops


class _RecordingRunner(run.Runner):
    seen: list = []

    def run_op(self, op):
        _RecordingRunner.seen.append((op.kind, op.sql, repr(op.params)))
        return []


class _FakeTracer:
    def __init__(self, spark):
        pass

    def install(self):
        pass

    def uninstall(self):
        pass

    def jvm_ms(self):
        return {"gc": 0, "jit": 0}

    def run_op(self, op_id, kind, fn, *args):
        return fn(*args)


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_traced_and_untraced_runs_send_the_same_ops(workload, monkeypatch):
    monkeypatch.setitem(run.RUNNERS, workload, _RecordingRunner)
    monkeypatch.setattr(run, "load_tables", lambda spark, data: {})
    monkeypatch.setattr(run, "ungrouped_jobs", lambda spark: set())
    monkeypatch.setattr(spans, "job_totals", lambda sc, ids: {})
    monkeypatch.setattr(spans, "Tracer", _FakeTracer)
    sent = {}
    for trace in (0, 1):
        _RecordingRunner.seen = []
        args = SimpleNamespace(workload=workload, seed=9, seconds=12,
                               trace=trace)
        r = run.measure_decks(args, "unused",
                              SimpleNamespace(sparkContext=None),
                              time.perf_counter())
        sent[trace] = list(_RecordingRunner.seen)
        assert len(r["deck_s"]) == workloads.deck_count(workload, 12)
        assert r["traced_s"] == ([] if not trace else r["deck_s"][1::2])
    assert sent[0] == sent[1]
    assert len(sent[0]) == sum(
        len(d) for d in workloads.all_ops(workload, 9, 12))


# ----------------------------------------------------- BENCHMARK.json names


def _benchmark_json():
    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_printed_metrics_match_benchmark_json():
    spec = _benchmark_json()
    assert set(spec["workloads"][i]["name"]
               for i in range(len(spec["workloads"]))) == set(
                   workloads.WORKLOADS)
    r = {"setup_s": 30.0, "deck_s": [3.0, 4.0], "peak_rss_mb": 2600.0,
         "spark": {"jobs": 40, "tasks": 90}}
    e2e = run.end_to_end(r)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == {
        k: u for k, (_, u) in e2e.items()}
    tracer = spans.Tracer(_fake_spark())
    layer = run.per_layer({"tracer": tracer, "traced_s": [1.0],
                           "untraced_s": [1.0], "load_s": 0.5,
                           "jvm_ms": {"gc": 0, "jit": 0}})
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == {
        k: u for k, (_, u) in layer.items()}
    assert set(run.EXACT_COUNTERS) <= set(layer)


# ------------------------------------------------------------ the checking


def test_wrong_table_state_fails_that_decks_writes(monkeypatch, tmp_path):
    decks = workloads.all_ops("sql_adhoc", 3, 12)
    ops = [op for d in decks for op in d]
    ref = {"ops": [None if op.kind == "write" else [[1]] for op in ops],
           "states": [[[[5]]] for _ in decks]}

    def fake_child(script, *args):
        (tmp_path / "expected.json").write_text(json.dumps(ref))
        return 0.0
    monkeypatch.setattr(run, "child", fake_child)
    args = SimpleNamespace(workload="sql_adhoc", seed=3, seconds=12)
    results = [None if op.kind == "write" else [(1,)] for op in ops]
    states = [[[(5,)]] for _ in decks]
    r = dict(decks=decks, results=results, states=states)
    assert run.check_results(args, str(tmp_path), r) == 0
    states[1] = [[(6,)]]
    results[0] = Exception
    failed = run.check_results(args, str(tmp_path), r)
    assert failed == 1 + sum(op.kind == "write" for op in decks[1])
    assert failed <= len(ops)
