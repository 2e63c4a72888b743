"""Expected results from DuckDB, computed in a child process from the same
generated parquet and the same op decks as the benchmark run:

    python3 fqbench/reference.py --workload W --seed N --seconds S \
        --data DIR --out FILE

Writes {"ops": [rows per op, in the order they run], "states": [rows per deck]}
as JSON, rows normalized by check.normalize.
"""

from __future__ import annotations

import argparse
import json
import os

import duckdb

import workloads
from check import normalize

# operator results, restated as SQL over the generated tables


def _jaccard_sql(threshold: float) -> str:
    return f"""
WITH w AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
                i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS s
  FROM w),
cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS common
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT id1, id2, round(common * 1.0 / (c1.n + c2.n - common), 4) AS jaccard
FROM pairs JOIN cnt c1 ON id1 = c1.doc_id JOIN cnt c2 ON id2 = c2.doc_id
WHERE common * 1.0 / (c1.n + c2.n - common) >= {threshold}"""


def _bm25_sql(queries, k: int) -> str:
    values = ", ".join(f"({i}, '{q}')" for i, q in enumerate(queries, 1))
    return f"""
WITH q(query_id, query) AS (VALUES {values}),
terms AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS term
  FROM documents WHERE trim(text) <> ''),
tf AS (SELECT doc_id, term, count(*) AS tf FROM terms WHERE term <> ''
       GROUP BY doc_id, term),
dl AS (SELECT doc_id, count(*) AS dl FROM terms WHERE term <> ''
       GROUP BY doc_id),
stats AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
                 (SELECT count(*) FROM terms WHERE term <> '') * 1.0
                 / (SELECT count(*) FROM documents) AS avgdl),
qt AS (SELECT DISTINCT query_id,
              unnest(regexp_split_to_array(trim(lower(query)), '\\s+')) AS term
       FROM q),
dft AS (SELECT term, count(*) AS df_t FROM tf
        WHERE term IN (SELECT term FROM qt) GROUP BY term),
cand AS (
  SELECT qt.query_id, tf.doc_id,
         CAST(ln(1.0 + (s.n_docs - dft.df_t + 0.5) / (dft.df_t + 0.5))
              * tf.tf * (1.2 + 1)
              / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / s.avgdl))
              AS DECIMAL(28,12)) AS c
  FROM qt JOIN dft USING (term) JOIN tf USING (term)
       JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats s),
scored AS (
  SELECT query_id, doc_id, round(CAST(sum(c) AS DOUBLE), 6) AS score
  FROM cand GROUP BY query_id, doc_id),
ranked AS (
  SELECT query_id, doc_id, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, doc_id) AS rank
  FROM scored)
SELECT query_id, doc_id, score, rank FROM ranked WHERE rank <= {k}"""


def _cosine_sql(ids, k: int) -> str:
    return f"""
WITH pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 6) AS cosine
  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
  WHERE q.vec_id IN ({", ".join(map(str, ids))}))
SELECT query_id, neighbor_id, cosine, CAST(rank AS INT) AS rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id) AS rank
  FROM pairs) t
WHERE rank <= {k}"""


def llm_sql(name: str, p: dict) -> str:
    """DuckDB restatement of one operator's checked output (see
    run.LlmRunner for the engine side)."""
    if name == "exact_dedup":
        return """SELECT count(*) AS n, sum(doc_id) AS ids FROM
                  (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text)"""
    if name == "minhash_lsh_pairs":
        return _jaccard_sql(p["minhash_threshold"])
    if name == "bm25_topk":
        return _bm25_sql(p["bm25_queries"], p["bm25_k"])
    if name == "cosine_topk":
        return _cosine_sql(p["cosine_queries"], p["cosine_k"])
    raise ValueError(f"unknown operator {name}")


def expected(workload: str, seed: int, seconds: int, data: str) -> dict:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET memory_limit = '1GB'")
    tables = sorted(f[:-len(".parquet")] for f in os.listdir(data))

    for t in tables:
        con.execute(f"CREATE TABLE {t} AS "
                    f"SELECT * FROM read_parquet('{data}/{t}.parquet')")
    # the DBAPI session's tables: a copy of lineitem in schema sess, found
    # before the base tables on that connection's search path
    con.execute("CREATE SCHEMA sess")
    session = con.cursor()
    session.execute("SET search_path = 'sess,main'")
    memo: dict = {}

    def rows(db, sql):
        if db is session:
            return normalize(db.execute(sql).fetchall())
        if sql not in memo:
            memo[sql] = normalize(db.execute(sql).fetchall())
        return memo[sql]

    ops, states = [], []
    for deck in workloads.all_ops(workload, seed, seconds):
        if workload == "llm_pipeline":
            ops.extend(rows(con, llm_sql(op.kind, op.params)) for op in deck)
            continue
        # every deck's DBAPI connection starts from the base tables
        con.execute("CREATE OR REPLACE TABLE sess.lineitem AS "
                    "SELECT * FROM main.lineitem")
        for op in deck:
            db = session if op.via == "dbapi" else con
            if op.kind == "write":
                db.execute(op.duck)
                ops.append(None)
            else:
                ops.append(rows(db, op.duck))
        states.append([rows(session, q) for q in workloads.SESSION_STATE])
    return {"ops": ops, "states": states}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    out = expected(a.workload, a.seed, a.seconds, a.data)
    with open(a.out, "w") as fh:
        json.dump(out, fh)


if __name__ == "__main__":
    main()
