"""The query-suite layer: a fixed subset of ``__spark_entry__.queries()``.

The subset covers the kernels that replay never touches: near-duplicate
mining, vector similarity, text features, CDC wire parsing and LWW dedup.
It leaves out the queries that keep session caches or build lake tables
of their own, so each query's wall is the query's own work. Inputs are
the ``documents``, ``embeddings`` and ``events`` tables of the sf0.01
test data under ``data/``, rows shuffled by the seed. Results are
checked against each query's ``oracle_sql()`` on DuckDB before the timed
pass; that check is also the pass's warm-up.
"""

from __future__ import annotations

import importlib.util
import os
import time
from contextlib import nullcontext

import numpy as np
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
TABLES = ("documents", "embeddings", "events")

QUERIES = (
    "minhash_signatures", "simhash_docs", "ngram_jaccard_pairs", "embedding_neardup",
    "knn_cosine", "ann_ivf", "token_stats", "quality_features", "doc_chunks",
    "cdc_debezium_state", "mongo_changestream_state", "lww_dedup", "json_to_hex",
)


def write_inputs(seed: int, out_dir: str) -> None:
    """Copy the suite tables to ``out_dir`` with rows permuted by ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name in TABLES:
        t = pq.read_table(os.path.join(DATA, f"{name}.parquet"))
        pq.write_table(t.take(rng.permutation(t.num_rows)),
                       os.path.join(out_dir, f"{name}.parquet"))


def run_pass(spark, sf_dir: str, span=nullcontext) -> dict[str, float]:
    """Run every subset query to the noop sink; return its wall per query.

    ``span()`` wraps each query (building it may already run Spark jobs).
    """
    import __spark_entry__ as entry

    qs = entry.queries()
    walls = {}
    for name in QUERIES:
        t0 = time.perf_counter()
        with span():
            qs[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        walls[name] = time.perf_counter() - t0
    return walls


def check(spark, sf_dir: str, root: str) -> list[str]:
    """Compare each subset query with its DuckDB oracle; return the mismatches."""
    import duckdb

    import __spark_entry__ as entry

    compare = _load_compare(root)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    qs, oracles = entry.queries(), entry.oracle_sql()
    problems = []
    for name in QUERIES:
        sdf = qs[name](spark, sf_dir)
        s_cols = sdf.columns
        s_rows = [r.asDict(recursive=True) for r in sdf.collect()]
        cur = con.execute(oracles[name])
        d_cols = [d[0] for d in cur.description]
        d_rows = [dict(zip(d_cols, row)) for row in cur.fetchall()]
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"{name}: columns {sorted(s_cols)} vs oracle {sorted(d_cols)}")
        elif len(s_rows) != len(d_rows):
            problems.append(f"{name}: {len(s_rows)} rows vs oracle {len(d_rows)}")
        elif compare.value_hash(s_rows, s_cols) != compare.value_hash(d_rows, d_cols):
            problems.append(f"{name}: values differ from oracle")
    con.close()
    return problems


def _load_compare(root: str):
    """The repository's oracle compare (``tools/check_correctness.py``)."""
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod
