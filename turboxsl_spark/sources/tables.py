"""Bucketed table layouts: writers and the one reader that keeps the
layout.

The reference parses one XML document per request
(``/root/reference/src/parse.c:334-395``); our sources are columnar
parquet/Iceberg scans — rows arrive already structured, predicate
pushdown and column pruning are free (check ``PushedFilters`` /
``ReadSchema`` in ``df.explain``). The driver's testdata star schema is
read by ``__spark_entry__._t``; this module holds only the cluster
layout that makes the flagship window a zero-exchange plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    n_buckets: int,
    key_cols: list[str],
    sort_cols: list[str],
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a hash-bucketed, per-bucket-sorted table — the cluster
    layout that makes every window/join keyed on ``key_cols`` a
    ZERO-EXCHANGE plan (the Iceberg `bucket(N, conv_id)` partition
    transform in production; Spark's bucketBy here, same contract).

    The flagship window needs ``hashpartitioning(conv_id)`` + sort
    ``(conv_id, ts, turn_idx)``; a table bucketed and sorted that way
    satisfies both requirements at scan time, so the 10^12-turn feature
    build touches NO shuffle at all (pinned by tests/test_plans.py::
    test_bucketed_input_zero_exchange). ``path`` makes it an external
    table (testable without a warehouse)."""
    w = (
        df.write.format("parquet")
        .mode(mode)
        .bucketBy(n_buckets, *key_cols)
        .sortBy(*sort_cols)
    )
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def write_bucketed_iceberg(
    df: DataFrame,
    table: str,
    n_buckets: int,
    key_col: str,
    catalog: str | None = None,
) -> None:
    """The Iceberg spelling of ``write_bucketed``: a `bucket(N, key)`
    partition transform via the DataFrameWriterV2 API. Requires an
    Iceberg catalog in the session (iceberg-spark-runtime jar + conf) —
    raises ``IcebergNotConfigured`` otherwise, so the same pipeline code
    runs unchanged on a cluster and fails loudly in a bare sandbox."""
    from pyspark.sql import functions as F

    from turboxsl_spark.sources.snapshots import IcebergNotConfigured, iceberg_catalog

    catalog = catalog or iceberg_catalog(df.sparkSession)
    if catalog is None:
        raise IcebergNotConfigured(
            "write_bucketed_iceberg needs a spark.sql.catalog.<name> with an "
            "Iceberg implementation; use write_bucketed (parquet bucketBy) here"
        )
    (
        df.writeTo(f"{catalog}.{table}")
        .using("iceberg")
        .partitionedBy(F.bucket(n_buckets, key_col))
        .createOrReplace()
    )


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table WITH its bucketing metadata (a bare
    ``spark.read.parquet(path)`` would forget the layout and reintroduce
    the exchange)."""
    return spark.table(table)
