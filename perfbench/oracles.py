"""Expected outputs computed without the validator.

Each oracle recomputes what a workload must return from the generator's own
arithmetic (or, for the operator queries, from DuckDB running the
repository's ``oracle_sql()``), so a validator bug cannot hide in a shared
helper.
"""

from __future__ import annotations

import math

import pyspark.sql.functions as F

# The flagship corpus marks row ``id`` defective when
# ``abs(xxhash64(seed + "defect", id)) % 100`` is below 16; classes 0-4 (a
# one-letter name) break both ``minLength`` and ``pattern``, classes 5-15
# break exactly one keyword (minimum, enum, required, the JSON parse, type).
DEFECT_CLASSES = 16
TWO_VIOLATION_CLASSES = 5


def corpus_rollup(corpus, seed: str) -> dict:
    """{repo: (files, failed_rows, violations)} from the generator's defect
    hash, using the row id embedded in ``path`` (``src/<d>/file_<id>.<ext>``)."""
    rid = F.regexp_extract("path", r"/file_(\d+)\.", 1).cast("long")
    defect = F.abs(F.xxhash64(F.lit(seed + "defect"), rid)) % 100
    rows = (
        corpus.select("repo", defect.alias("d"))
        .groupBy("repo")
        .agg(
            F.count(F.lit(1)).alias("files"),
            F.sum((F.col("d") < DEFECT_CLASSES).cast("long")).alias("failed"),
            F.sum(
                F.when(F.col("d") < TWO_VIOLATION_CLASSES, 2)
                .when(F.col("d") < DEFECT_CLASSES, 1)
                .otherwise(0)
            ).alias("violations"),
        )
        .collect()
    )
    return {r.repo: (r.files, r.failed, r.violations) for r in rows}


def tree_offset(seed: int) -> int:
    """The seed's shift of every node size, reduced in Python so the SQL
    generator multiplies no literal that could overflow (Spark's ANSI mode
    raises on overflow) whatever the seed."""
    return seed * 31337 % 1_050_000


def tree_size(row_id: int, node: int, seed: int) -> int:
    """The ``size`` of node ``node`` of tree document ``row_id``; the Spark
    generator in ``workloads.tree_docs`` writes the same formula in SQL."""
    return (row_id * 7919 + node * 104729 + tree_offset(seed)) % 1_050_000 - 25_000


def tree_rollup(n_rows: int, seed: int) -> dict:
    """{(depth, valid): rows}: a document of depth d has nodes 0..d, and is
    valid exactly when every node's size lies in [0, 1_000_000]."""
    out: dict = {}
    for rid in range(n_rows):
        depth = rid % 6
        ok = all(0 <= tree_size(rid, i, seed) <= 1_000_000 for i in range(depth + 1))
        out[(depth, ok)] = out.get((depth, ok), 0) + 1
    return out


def frame_digest_spark(df) -> tuple:
    """Order-insensitive digest of a DataFrame: row count, and per column the
    sum and sum of squares (numbers) or total length and distinct count
    (strings)."""
    aggs = [F.count(F.lit(1)).cast("double")]
    for name, dtype in df.dtypes:
        c = F.col(f"`{name}`")
        if dtype == "string":
            aggs += [F.sum(F.length(c)).cast("double"), F.count_distinct(c).cast("double")]
        else:
            x = c.cast("double")
            aggs += [F.sum(x), F.sum(x * x)]
    return tuple(df.agg(*aggs).first())


def frame_digest_pandas(pdf) -> tuple:
    out = [float(len(pdf))]
    for name in pdf.columns:
        col = pdf[name]
        if col.dtype == object:
            out += [float(col.dropna().str.len().sum()), float(col.nunique())]
        else:
            x = col.astype("float64")
            out += [float(x.sum()), float((x * x).sum())]
    return tuple(out)


def digests_match(got: tuple, want: tuple) -> bool:
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        g = 0.0 if g is None else g
        if not math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-6):
            return False
    return True


def duckdb_digests(sf_dir: str, queries: list[str], tables: list[str]) -> dict:
    """{query: digest} of the repository's DuckDB oracle SQL over the same
    parquet files the Spark queries read."""
    import duckdb

    import __spark_entry__ as entry

    # oracle_sql() first materializes corpus caches for other queries in a
    # Spark session of its own; none of the queries benched here reads them,
    # and that session would stop the benchmark's.
    entry._ensure_oracle_caches = lambda: None
    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet/*.parquet')")
        return {q: frame_digest_pandas(con.execute(sql[q]).fetchdf()) for q in queries}
    finally:
        con.close()
