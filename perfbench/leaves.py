"""Operator-suite leaves: one leaf of ``__spark_entry__.queries()`` per
``plans`` family, over small tables generated from the seed, each checked
against its DuckDB oracle (``__spark_entry__.oracle_sql()``).

The tables follow the schemas of the engine's test tables (``events``,
``documents``, ``embeddings``) at about their smallest scale: a leaf then
costs its plan build, scheduling and Python-worker round trips, which is
what the families' carried regressions are made of. A leaf's wall time is
its query call plus a ``noop``-sink write; ``suite.<family>_s`` sums the
leaf wall times of one family.
"""

from __future__ import annotations

import math
import os
import shutil
import time
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# leaf → family: the plans module the leaf's query calls
LEAVES = {
    "session_30m": "windows",            # plans.windowed
    "asof_view_purchase": "relational",  # plans.asof
    "dedup_ngram_jaccard": "dedup",      # plans.dedup
    "embedding_near_dup": "similarity",  # plans.similarity
    "text_quality": "text",              # plans.text
    "stratified_sample": "sampling",     # plans.sampling
    "cep_funnel": "cep",                 # plans.cep
    "multimodal_decode": "multimodal",   # plans.multimodal
}
FAMILIES = tuple(dict.fromkeys(LEAVES.values()))
TABLES = ("events", "documents", "embeddings")

N_EVENTS, N_USERS, EVENT_DAYS = 1000, 15, 30
N_DOCS, NEAR_DUP_SHARE = 500, 0.1
N_VECS, EMB_DIM, N_LABELS = 500, 64, 10
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
LANGS = {"en": 0.4, "zh": 0.15, "es": 0.15, "de": 0.15, "fr": 0.15}
WORDS = ("a agg batch big column customer data dup fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the value "
         "vector window").split()
_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


# -- tables ------------------------------------------------------------------

def _events(rng) -> pa.Table:
    ts = np.sort(_T0_US + rng.integers(0, EVENT_DAYS * 86_400_000_000, N_EVENTS))
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS)),
        "value": pa.array(np.round(rng.uniform(0.01, 330.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]),
    })


def _documents(rng) -> pa.Table:
    texts = []
    for i in range(N_DOCS):
        if i and rng.random() < NEAR_DUP_SHARE:
            # a near-duplicate of an earlier document: a few words replaced
            words = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = list(rng.choice(WORDS, rng.integers(10, 100)))
        texts.append(" ".join(words))
    langs = rng.choice(list(LANGS), N_DOCS, p=list(LANGS.values()))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    labels = rng.integers(0, N_LABELS, N_VECS)
    centers = rng.normal(size=(N_LABELS, EMB_DIM))
    vecs = (centers[labels] + rng.normal(scale=0.6, size=(N_VECS, EMB_DIM))).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def make_tables(seed: int, out_dir: str) -> dict[str, int]:
    """Write the leaf tables for ``seed`` under ``out_dir``; row counts."""
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rng = np.random.default_rng(seed)
    rows = {}
    for name, make in (("events", _events), ("documents", _documents),
                       ("embeddings", _embeddings)):
        tbl = make(rng)
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = tbl.num_rows
    return rows


# -- comparison (unit-tested) ------------------------------------------------

def canon(v):
    """A value as both engines' rows are compared: floats to 6 decimals."""
    if v is None:
        return None
    if hasattr(v, "item"):
        v = v.item()
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return v


def norm_rows(cols, rows) -> list[tuple]:
    """Rows with their columns in name order, sorted: an order-insensitive
    form of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(canon(r[i]) for i in order) for r in rows), key=repr)


def same_result(scols, srows, ocols, orows) -> bool:
    return sorted(scols) == sorted(ocols) and norm_rows(scols, srows) == norm_rows(ocols, orows)


def family_times(leaf_s: dict[str, float]) -> dict[str, float]:
    """``suite.<family>_s``: the sum of the leaf wall times of each family."""
    out = defaultdict(float)
    for name, seconds in leaf_s.items():
        out[f"suite.{LEAVES[name]}_s"] += seconds
    return {f"suite.{f}_s": out[f"suite.{f}_s"] for f in FAMILIES}


# -- running -----------------------------------------------------------------

class LeafSuite:
    """The leaves over one seed's tables."""

    def __init__(self, spark, seed: int, work: str):
        import __spark_entry__ as entry

        self.spark = spark
        self.dir = os.path.join(work, "leaf-tables")
        self.rows = make_tables(seed, self.dir)
        queries, oracles = entry.queries(), entry.oracle_sql()
        self.queries = {name: queries[name] for name in LEAVES}
        self.oracles = {name: oracles[name] for name in LEAVES}

    def run_pass(self, tracer, i: int) -> dict[str, float]:
        """Every leaf once: wall time of plan build plus ``noop`` write."""
        out = {}
        for name, fn in self.queries.items():
            t0 = time.perf_counter()
            with tracer.span(f"leaf.{name}", iteration=i):
                with tracer.span("plans.build"):
                    df = fn(self.spark, self.dir)
                with tracer.span("spark.execute"):
                    df.write.format("noop").mode("overwrite").save()
            out[name] = time.perf_counter() - t0
        return out

    def check_pass(self) -> tuple[dict[str, float], dict]:
        """Every leaf once, its rows collected and compared with its DuckDB
        oracle over the same files: the cold pass, untimed. Wall time of
        each leaf, and the check."""
        import duckdb

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(self.dir, t + '.parquet')}')")
        wall, mismatched, rows = {}, [], {}
        for name, fn in self.queries.items():
            t0 = time.perf_counter()
            sdf = fn(self.spark, self.dir)
            srows = [tuple(r) for r in sdf.collect()]
            wall[name] = time.perf_counter() - t0
            res = con.execute(self.oracles[name])
            ocols = [d[0] for d in res.description]
            rows[name] = len(srows)
            if not same_result(sdf.columns, srows, ocols, res.fetchall()):
                mismatched.append(name)
        con.close()
        return wall, {"leaves": len(self.queries), "mismatched": len(mismatched),
                      "mismatched_leaves": mismatched, "result_rows": rows,
                      "table_rows": self.rows}
