"""Seeded input generation: numpy/pyarrow tables written as parquet.

Run as a child process so that generation time and memory stay out of the
benchmark's set-up time and peak RSS:

    python3 fqbench/gen.py --workload sql_adhoc --seed 1 --out DIR

The same (workload, seed) always writes the same rows.
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per workload. sql_adhoc keeps the fact table small (~60k rows)
# so compile and Catalyst are a large share of each statement;
# llm_pipeline's corpus is small too: a run must stay within about 45 s on
# a 4-vCPU host, and operator build and Spark job overhead already fill it.
SIZES = {
    "sql_adhoc": dict(customer=1500, orders=15000, lineitem=60000,
                      events=10000, documents=1000, embeddings=0),
    "llm_pipeline": dict(customer=0, orders=0, lineitem=0, events=0,
                         documents=1000, embeddings=2000),
}
# key ranges of lineitem's part and supplier columns (no such tables)
N_PARTS, N_SUPPLIERS = 2000, 100

EMBED_DIM = 32
SOURCES = ["web", "code", "books", "wiki", "news"]
LANGS = ["en", "de", "fr", "es"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "buy", "share", "search"]
EPOCH = dt.date(1994, 1, 1)
N_DAYS = 5 * 365


def vocabulary(n: int = 3000) -> list:
    """Synthetic words built from consonant-vowel syllables over letters no
    English stemming rule or stop-word list touches, so a word is its own
    full-text lexeme in both engines."""
    cons, vows = "bdgkmnpt", "aou"
    syl = [c + v for c in cons for v in vows]
    words = [a + b for a in syl for b in syl]
    words += [a + b + c for a in syl for b in syl for c in syl]
    rng = np.random.default_rng(7)  # fixed: the vocabulary never varies
    picked = rng.choice(len(words), size=n, replace=False)
    return [words[i] for i in picked]


VOCAB = vocabulary()


def _dates(rng, n):
    return np.datetime64(EPOCH, "D") + rng.integers(0, N_DAYS, n)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


# Word frequencies fall off as 1/(rank + 30): a head of common words for
# full-text and BM25 queries, but flat enough that word 3-grams shared by
# unrelated documents stay rare (a shingle in m documents costs m^2 pairs).
_WORD_P = 1.0 / (np.arange(len(VOCAB)) + 30.0)
_WORD_P /= _WORD_P.sum()


def _words(rng, n_words: int) -> np.ndarray:
    return rng.choice(len(VOCAB), size=n_words, p=_WORD_P)


def documents(rng, n: int) -> pa.Table:
    """Texts of 40-120 words. About 15% of documents copy an earlier one
    with a few words replaced (near duplicates), and 5% copy it verbatim."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.20:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(words) // 25)):
                words[int(rng.integers(0, len(words)))] = VOCAB[
                    int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            idx = _words(rng, int(rng.integers(40, 121)))
            texts.append(" ".join(VOCAB[j] for j in idx))
    return pa.table({
        "doc_id": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n)),
        "source": pa.array(rng.choice(SOURCES, n)),
    })


def embeddings(rng, n: int) -> pa.Table:
    """Unit-free float32 vectors drawn around 20 cluster centres."""
    centres = rng.normal(size=(20, EMBED_DIM))
    which = rng.integers(0, 20, n)
    vec = (centres[which] + 0.6 * rng.normal(size=(n, EMBED_DIM))) \
        .astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(1, n + 1, dtype=np.int64)),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(which.astype(np.int32)),
    })


def tables(workload: str, seed: int) -> dict:
    sizes = SIZES[workload]
    rng = np.random.default_rng([seed, list(SIZES).index(workload)])
    out = {}
    if sizes["customer"]:
        out["nation"] = pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i:02d}" for i in range(25)]),
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
        nc = sizes["customer"]
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(1, nc + 1, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:06d}"
                                for i in range(1, nc + 1)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999, 9999, nc)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc))})
        no = sizes["orders"]
        out["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(1, no + 1, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(1, nc + 1, no)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no,
                                                 p=[0.49, 0.49, 0.02])),
            "o_totalprice": pa.array(_money(rng, 1000, 400000, no)),
            "o_orderdate": pa.array(_dates(rng, no), pa.date32()),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, no))})
        nl = sizes["lineitem"]
        okey = np.sort(rng.integers(1, no + 1, nl))
        linenum = np.zeros(nl, dtype=np.int32)
        starts = np.r_[0, np.flatnonzero(np.diff(okey)) + 1]
        run = np.diff(np.r_[starts, nl])
        linenum[:] = np.arange(nl) - np.repeat(starts, run) + 1
        qty = rng.integers(1, 51, nl).astype(np.float64)
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(1, N_PARTS + 1, nl)),
            "l_suppkey": pa.array(rng.integers(1, N_SUPPLIERS + 1, nl)),
            "l_linenumber": pa.array(linenum),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * _money(rng, 900, 2000,
                                                              nl), 2)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], nl)),
            "l_shipdate": pa.array(_dates(rng, nl), pa.date32())})
    if sizes["events"]:
        ne = sizes["events"]
        ks = rng.integers(0, 100, ne)
        tags = rng.choice(VOCAB[:50], ne)
        out["events"] = pa.table({
            "event_id": pa.array(np.arange(1, ne + 1, dtype=np.int64)),
            "ts": pa.array(np.sort(rng.integers(0, N_DAYS * 86400, ne))
                           * 1_000_000 + 757382400_000_000,
                           pa.timestamp("us")),
            "user_id": pa.array(rng.integers(1, 500, ne)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, ne)),
            "value": pa.array(_money(rng, 0, 100, ne)),
            "props": pa.array([f'{{"k": {k}, "tag": "{t}"}}'
                               for k, t in zip(ks, tags)])})
    if sizes["documents"]:
        out["documents"] = documents(rng, sizes["documents"])
    if sizes["embeddings"]:
        out["embeddings"] = embeddings(rng, sizes["embeddings"])
    return out


def write(workload: str, seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(workload, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    write(a.workload, a.seed, a.out)


if __name__ == "__main__":
    main()
