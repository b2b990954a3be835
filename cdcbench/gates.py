"""The curation gates: the training-data operators behind ``queries()``.

Each gate runs once on Spark over the seeded corpus from
``gen.corpus_inputs`` and is checked against its ``oracle_sql()`` on
DuckDB over the same parquet files: row count, column names and an
order-insensitive value hash must all agree.
"""

from __future__ import annotations

import os
import time

import check

# queries() name -> metric name (functions.<name>_s, functions.<name>_jobs)
GATES = {
    "incremental_minhash_pairs": "minhash",
    "incremental_substring_profile": "substring",
    "cluster_strict_split_pairs": "cluster",
    "vector_stream_semantic_pairs": "vector_stream",
}
TABLES = ("documents", "embeddings")


def run_gates(ctx, corpus_dir: str) -> dict[str, dict]:
    """Run every gate in a fixed order; returns, per metric name, its wall
    time (Spark query plus collect) and the Spark jobs it started."""
    import duckdb

    from debezium_server_iceberg_spark import queries as catalog

    fns = catalog.queries()
    oracles = catalog.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(corpus_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name, short in GATES.items():
        j0 = ctx.last_job()
        t0 = time.perf_counter()
        try:
            df = fns[name](ctx.spark, corpus_dir)
            rows = [tuple(r) for r in df.collect()]
            got = check.result(rows, df.columns)
        except Exception as e:  # a raising gate is a failed check, not a crash
            got = repr(e)
        dt = time.perf_counter() - t0
        out[short] = {"s": dt, "jobs": ctx.last_job() - j0}
        rel = con.sql(oracles[name])
        want = check.result(rel.fetchall(), list(rel.columns))
        ctx.record(got == want, f"gate {name}: got {got}, want {want}")
    con.close()
    return out
