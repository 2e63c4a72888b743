"""Seeded op decks for the two workloads.

Everything here is a pure function of (workload, seed, deck count): the
benchmark process and the DuckDB reference process build the same ops
from the same arguments. Each SQL op carries the text the engine runs and
the text DuckDB runs; they differ only where DuckDB lacks a pg spelling
(full-text search).
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass, field
from typing import List

from gen import EPOCH, N_DAYS, VOCAB

WORKLOADS = ("sql_adhoc", "llm_pipeline")

# Nominal wall time of one deck on a 4-core host. The deck count is
# derived from --seconds and these constants only, never from a clock, so
# traced and untraced runs and both sides of an A/B run the same ops.
NOMINAL_DECK_S = {"sql_adhoc": 5.0, "llm_pipeline": 6.0}
# Measured decks come in whole rounds. A sql_adhoc round of two decks
# runs every template, write kind and read kind exactly once, so the
# measured work of a run is the same mix for every seed.
ROUND_DECKS = {"sql_adhoc": 2, "llm_pipeline": 2}
# Fixed warm-up, run before anything is timed: one deck that runs every
# statement shape and operator a measured deck runs.
WARMUP_DECKS = 1


def deck_count(workload: str, seconds: int) -> int:
    n = ROUND_DECKS[workload]
    return n * max(1, round(seconds / (n * NOMINAL_DECK_S[workload])))


@dataclass
class Op:
    """One statement or operator call. `kind` is 'read' (a SELECT whose
    rows are checked), 'write' (DML) or an operator name; `via` is
    'execute' (framequery_spark.execute over the base tables) or 'dbapi'
    (the deck's DBAPI connection) for SQL ops."""
    kind: str
    sql: str = ""
    duck: str = ""
    params: dict = field(default_factory=dict)
    repeat: bool = False
    via: str = ""


def _date(r: random.Random, lo_days: int = 0, hi_days: int = N_DAYS - 365):
    return (EPOCH + dt.timedelta(days=r.randint(lo_days, hi_days))).isoformat()


def _word(r: random.Random, top: int = 200) -> str:
    return VOCAB[r.randrange(top)]


# ---------------------------------------------------------------- sql_adhoc
# One template per statement class (joins, rollup, windows, CTE,
# correlated subquery, pivot, json, full-text), of similar cost over ~60k
# lineitem rows. Each returns (engine SQL, DuckDB SQL); literals are drawn
# from the deck's generator.


def t_join_agg(r):
    d0 = _date(r)
    d1 = (dt.date.fromisoformat(d0) + dt.timedelta(days=365)).isoformat()
    q = f"""
SELECT n_name, count(*) AS n,
       sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= DATE '{d0}' AND o_orderdate < DATE '{d1}'
GROUP BY n_name"""
    return q, q


def t_rollup(r):
    p = r.randint(1000, 200000)
    q = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n, sum(o_totalprice) AS v
FROM orders WHERE o_totalprice > {p}
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)"""
    return q, q


def t_window_rank(r):
    m, k = r.randint(2, 9), r.randint(1, 4)
    q = f"""
SELECT count(*) AS n, sum(rk) AS s FROM (
  SELECT o_custkey,
         rank() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders WHERE o_custkey % {m} = {r.randrange(m)}) t
WHERE rk <= {k}"""
    return q, q


def t_cte(r):
    x = r.randint(200000, 1500000)
    q = f"""
WITH big AS (
  SELECT o_custkey, sum(o_totalprice) AS tot FROM orders
  GROUP BY o_custkey HAVING sum(o_totalprice) > {x})
SELECT c_mktsegment, count(*) AS n, max(tot) AS top
FROM big JOIN customer ON c_custkey = o_custkey
GROUP BY c_mktsegment"""
    return q, q


def t_exists(r):
    qty = r.randint(30, 50)
    d = _date(r)
    q = f"""
SELECT o_orderpriority, count(*) AS n FROM orders o
WHERE o_orderdate >= DATE '{d}'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > {qty})
GROUP BY o_orderpriority"""
    return q, q


def t_pivot(r):
    d = _date(r)
    q = f"""
PIVOT (SELECT o_orderpriority, o_orderstatus FROM orders
       WHERE o_orderdate < DATE '{d}')
ON o_orderstatus USING count(*) GROUP BY o_orderpriority"""
    return q, q


def t_json(r):
    k = r.randint(0, 90)
    q = f"""
SELECT event_type, count(*) AS n,
       sum(cast(props ->> 'k' AS bigint)) AS ks
FROM events WHERE cast(props ->> 'k' AS bigint) >= {k}
GROUP BY event_type"""
    return q, q


def t_fulltext(r):
    a, b = _word(r, 40), _word(r, 40)
    q = f"""
SELECT source, count(*) AS n FROM documents
WHERE to_tsvector(text) @@ to_tsquery('{a} & {b}')
GROUP BY source"""
    duck = f"""
SELECT source, count(*) AS n FROM (
  SELECT source, regexp_split_to_array(lower(trim(text)), '[^a-z0-9]+') AS ws
  FROM documents) t
WHERE list_contains(ws, '{a}') AND list_contains(ws, '{b}')
GROUP BY source"""
    return q, duck


ADHOC_TEMPLATES = [t_join_agg, t_rollup, t_window_rank, t_cte, t_exists,
                   t_pivot, t_json, t_fulltext]
# the statements a dashboard runs again; one round repeats each once
REPEATED = (t_join_agg, t_rollup, t_pivot, t_json)
ADHOC_FRESH = 4     # fresh statements per measured deck
ADHOC_REPEATS = 2   # verbatim repeats of earlier texts (a third of them)
SESSION_WRITES = 2  # DBAPI writes per measured deck, then one DBAPI read
SESSION_READS = 2   # DBAPI read kinds


def adhoc_decks(seed: int, n_warm: int, n_measured: int) -> List[List[Op]]:
    """A warm-up deck runs every template and every DBAPI write and read
    kind once: a statement shape's first run pays seconds of one-time
    class loading and code generation, which must not land in a measured
    deck. Measured decks then walk seeded permutations of the templates,
    and the DBAPI kinds cycle with the measured deck index, so every round
    of ROUND_DECKS measured decks runs each template and kind once."""
    r = random.Random(f"sql_adhoc:{seed}")
    cycle: list = []
    earlier: List[Op] = []
    decks = []
    for d in range(n_warm + n_measured):
        warm = d < n_warm
        deck = []
        for _ in range(len(ADHOC_TEMPLATES) if warm else ADHOC_FRESH):
            if not cycle:
                cycle = list(ADHOC_TEMPLATES)
                r.shuffle(cycle)
            t = cycle.pop()
            sql, duck = t(r)
            deck.append(Op("read", sql, duck, {"template": t.__name__},
                           via="execute"))
        for i in range(ADHOC_REPEATS):
            if warm:
                pool = deck[:]  # nothing earlier to repeat yet
            else:
                # measured deck k repeats seeded earlier texts of the fixed
                # templates REPEATED[2k], REPEATED[2k + 1], so the repeated
                # share costs the same for every seed, as the fresh share does
                t = REPEATED[(ADHOC_REPEATS * (d - n_warm) + i)
                             % len(REPEATED)]
                pool = [op for op in earlier
                        if op.params["template"] == t.__name__]
            prev = pool[r.randrange(len(pool))]
            deck.insert(r.randrange(len(deck) + 1),
                        Op("read", prev.sql, prev.duck, prev.params,
                           repeat=True, via="execute"))
        earlier.extend(op for op in deck if not op.repeat)
        k = d - n_warm
        writes = range(4) if warm else [(SESSION_WRITES * k + i) % 4
                                        for i in range(SESSION_WRITES)]
        reads = range(SESSION_READS) if warm else [k % SESSION_READS]
        session = []
        for w in writes:
            sql = _session_write(r, w)
            session.append(Op("write", sql, sql, via="dbapi"))
        for q in reads:
            sql = _session_read(r, q)
            session.append(Op("read", sql, sql, via="dbapi"))
        # interleave, keeping the session's own order
        slots = sorted(r.sample(range(len(deck) + len(session)),
                                len(session)))
        for slot, op in zip(slots, session):
            deck.insert(slot, op)
        decks.append(deck)
    return decks


# ------------------------------------------------------------- DBAPI session
# Each sql_adhoc deck also opens one DBAPI connection over the base tables
# and sends writes and a read on it. The connection starts from the base
# tables, so lineage depth is bounded by the writes of one deck.


def _session_write(r, kind):
    if kind == 0:
        rows = ", ".join(
            f"({9000000 + r.randrange(10**6)}, {r.randint(1, 2000)}, "
            f"{r.randint(1, 100)}, {j + 1}, {r.randint(1, 50)}.0, "
            f"{r.randint(1000, 90000)}.5, 0.0{r.randint(0, 9)}, "
            f"0.0{r.randint(0, 8)}, "
            f"'{r.choice('ANR')}', '{r.choice('FO')}', DATE '{_date(r)}')"
            for j in range(r.randint(3, 8)))
        q = f"INSERT INTO lineitem VALUES {rows}"
    elif kind == 1:
        m = r.randint(2000, 5000)
        q = f"""
INSERT INTO lineitem
SELECT l_orderkey + 8000000, l_partkey, l_suppkey, l_linenumber, l_quantity,
       l_extendedprice, l_discount, l_tax, 'N', 'O', l_shipdate
FROM lineitem WHERE l_orderkey % {m} = {r.randrange(m)} AND l_orderkey < 8000000"""
    elif kind == 2:
        m = r.randint(5, 40)
        q = f"""
UPDATE lineitem SET l_discount = l_discount + 0.01, l_tax = 0.0{r.randint(0, 8)}
WHERE l_orderkey % {m} = {r.randrange(m)} AND l_discount < 0.1"""
    else:
        m = r.randint(20, 200)
        q = f"DELETE FROM lineitem WHERE l_partkey % {m} = {r.randrange(m)}"
    return q


def _session_read(r, kind):
    if kind == 0:
        q = """
SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty,
       sum(l_extendedprice * (1 - l_discount)) AS revenue
FROM lineitem GROUP BY l_returnflag, l_linestatus"""
    elif kind == 1:
        d = _date(r)
        q = f"""
SELECT o_orderpriority, count(*) AS n, sum(l_quantity) AS qty
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderdate >= DATE '{d}'
GROUP BY o_orderpriority"""
    return q


# SELECTs run in DuckDB and the engine after each deck; their rows are the
# deck's table state.
SESSION_STATE = [
    """SELECT count(*) AS n, sum(l_orderkey) AS ok, sum(l_quantity) AS qty,
       sum(l_discount) AS disc, sum(l_tax) AS tax,
       count(DISTINCT l_returnflag || l_linestatus) AS flags FROM lineitem""",
]


# ------------------------------------------------------------- llm_pipeline


def llm_params(seed: int) -> dict:
    """Operator parameters, fixed for a run and drawn from its seed."""
    r = random.Random(f"llm_pipeline:{seed}")
    words = VOCAB[:60]
    return {
        # LSH recall is probabilistic; see run.LlmRunner for the bound
        "minhash_threshold": round(r.uniform(0.8, 0.9), 2),
        "minhash_seed": r.randint(1, 1000),
        "bm25_queries": [" ".join(r.sample(words, 3)) for _ in range(6)],
        "bm25_k": 5,
        "cosine_queries": sorted(r.sample(range(1, 2001), 8)),
        "cosine_k": 5,
    }


# jaccard_pairs, decontaminate, mixture_sample and text_stats are left out
# to fit the run budget (a deck of all eight took 12-15 s): minhash_lsh_pairs
# already runs the exact-Jaccard verification join, decontaminate is one
# more broadcast join, and the other two are row-local scans.
LLM_OPS = ("exact_dedup", "minhash_lsh_pairs", "bm25_topk", "cosine_topk")


def llm_decks(seed: int, n_warm: int, n_measured: int) -> List[List[Op]]:
    p = llm_params(seed)
    r = random.Random(f"llm_pipeline-order:{seed}")
    decks = []
    for _ in range(n_warm + n_measured):
        names = list(LLM_OPS)
        r.shuffle(names)
        decks.append([Op(n, params=p) for n in names])
    return decks


def all_ops(workload: str, seed: int, seconds: int) -> List[List[Op]]:
    """Warm-up decks followed by measured decks."""
    make = {"sql_adhoc": adhoc_decks, "llm_pipeline": llm_decks}[workload]
    return make(seed, WARMUP_DECKS, deck_count(workload, seconds))
