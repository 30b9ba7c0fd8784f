"""``catalog_ops`` workload: operator-catalog queries over seeded tables.

The tables have the schema of the catalog's TPC-H-ish star schema plus the
``events``, ``documents`` and ``embeddings`` tables (``catalog.TABLE_NAMES``),
drawn from ``--seed``: near-duplicate documents (5% are an earlier text plus
" dup"), clustered unit embeddings, bursty per-user events.  Each query is
collected into Python and checked against its DuckDB oracle SQL.
"""

from __future__ import annotations

import datetime as dt
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# One query per operator family: relational, dedup, ANN, text, sketch,
# sessionization and skew.
QUERIES = [
    "q1_pricing_summary",
    "q_minhash_lsh_pairs",
    "q_ivf_pq_topk",
    "q_bm25_topk",
    "q_hll_distinct",
    "q_sessionize",
    "q_salted_join",
]

# rows per table; the ratios follow the catalog's sf0.001..sf0.1 test data
SIZES = {
    "bench": {"orders": 3000, "customer": 300, "supplier": 20, "part": 400,
              "events": 2000, "users": 100, "documents": 500, "embeddings": 500},
    "smoke": {"orders": 1500, "customer": 150, "supplier": 10, "part": 200,
              "events": 1000, "users": 50, "documents": 200, "embeddings": 200},
}

_WORDS = ("a the join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window spark part "
          "group big sort query fast").split()
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_EPOCH = dt.datetime(1995, 1, 1)


def _days(rng: np.random.Generator, n: int, span_days: int) -> pa.Array:
    stamps = [_EPOCH + dt.timedelta(days=int(d)) for d in rng.integers(0, span_days, n)]
    return pa.array(stamps, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate_tables(out_dir: str, seed: int, size: str = "bench") -> str:
    """Write the 10 catalog tables as ``<out_dir>/<table>.parquet``."""
    s = SIZES[size]
    rng = np.random.default_rng(seed)
    n_o, n_c, n_s, n_p = s["orders"], s["customer"], s["supplier"], s["part"]
    n_l = 4 * n_o
    os.makedirs(out_dir, exist_ok=True)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
        "c_mktsegment": rng.choice(_SEGMENTS, n_c),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
    })
    adjectives = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    nouns = ["ring", "widget", "bolt", "gear", "plate", "rod", "pin", "nut"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(n_p), pa.int64()),
        "p_name": [f"{rng.choice(adjectives)} {rng.choice(nouns)}" for _ in range(n_p)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_p),
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_p) % 1000) / 10.0, 2),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_o),
        "o_orderdate": _days(rng, n_o, 2400),
        "o_orderpriority": rng.choice(_PRIORITIES, n_o),
    })
    quantity = rng.integers(1, 51, n_l).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * _money(rng, 900.0, 2100.0, n_l), 2),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_l),
        "l_linestatus": rng.choice(["F", "O"], n_l),
        "l_shipdate": _days(rng, n_l, 2500),
    })
    n_e = s["events"]
    gaps_us = rng.exponential(30 * 86400e6 / n_e, n_e).astype(np.int64)
    start_us = (dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)
    tables["events"] = pa.table({
        "event_id": pa.array(range(n_e), pa.int64()),
        "ts": pa.array(start_us + np.cumsum(gaps_us), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, s["users"], n_e), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_e),
        "value": np.round(rng.exponential(50.0, n_e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)],
    })
    texts: list[str] = []
    for i in range(s["documents"]):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(range(len(texts)), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, len(texts)),
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    n_v = s["embeddings"]
    labels = rng.integers(0, 10, n_v)
    centers = rng.normal(size=(10, 64))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = 0.15 * centers[labels] + rng.normal(scale=0.125, size=(n_v, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_v), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def run_pass(spark, sf_dir: str, tracer) -> tuple[dict[str, float], dict[str, tuple]]:
    """Run every query once; return per-query seconds and collected results."""
    from pimdb_spark.entrypoints import bench_queries

    fns = bench_queries()
    seconds: dict[str, float] = {}
    results: dict[str, tuple] = {}
    for name in QUERIES:
        with tracer.span(f"catalog.{name}"):
            t0 = time.perf_counter()
            df = fns[name](spark, sf_dir)
            rows = [tuple(r) for r in df.collect()]
            seconds[name] = time.perf_counter() - t0
        results[name] = (df.columns, rows)
    return seconds, results


def check_results(sf_dir: str, results: dict[str, tuple]) -> dict[str, bool]:
    """Match each query's rows against its DuckDB oracle SQL, in the
    same canonical form (columns by name, rows sorted) as scripts/check_oracle.py."""
    from pimdb_spark.catalog import _EXTRA_BENCH_ORACLE, oracle_sql
    from pimdb_spark.oracle import _rows_to_canonical, duckdb_connect

    oracles = {**oracle_sql(), **_EXTRA_BENCH_ORACLE}
    con = duckdb_connect(sf_dir)
    ok: dict[str, bool] = {}
    try:
        for name, (cols, rows) in results.items():
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
            ok[name] = sorted(cols) == sorted(ocols) and (
                _rows_to_canonical(cols, rows) == _rows_to_canonical(ocols, orows)
            )
    finally:
        con.close()
    return ok
