"""What each workload runs, built only from the public functions of
``turboxsl_spark`` so that the benchmark measures the program from
outside.

``flagship``   ``plans.featurespec.build_features(FeatureSpec())`` to a
               noop sink: text stage plus one window exchange.
``asof_write`` plain and day-salted backward as-of joins of every turn
               onto the tool-call turns, each to a noop sink. The plain
               result's commit through
               ``plans.manifest.write_with_manifest`` runs in the
               correctness check and the traced run.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from turboxsl_spark.functions.strings import avt_template, md5_hex, normalize_space
from turboxsl_spark.operators.asof import asof_join, asof_join_salted
from turboxsl_spark.operators.sessionize import with_session_id
from turboxsl_spark.operators.windows import (
    conv_window,
    with_forward_fill,
    with_lag_lead,
    with_position,
    with_running,
)
from turboxsl_spark.plans.featurespec import FLAGSHIP_FEATURE_COLS, FeatureSpec, build_features
from turboxsl_spark.plans.manifest import read_output, write_with_manifest

KEYS = ["conv_id", "turn_idx"]
SPEC = FeatureSpec()
ASOF_ARGS = dict(
    on="conv_id",
    ts_col="ts",
    value_cols=["tool", "text_len"],
    strict=True,
    fact_seq_col="fact_seq",
)
SALT_CHUNK_S = 86400.0


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---- flagship ---------------------------------------------------------

def flagship_output(df: DataFrame) -> DataFrame:
    return build_features(df, SPEC)


def flagship_prefixes(df: DataFrame) -> list[tuple[str, DataFrame]]:
    """Cumulative prefixes of ``build_features``: scan, + text stage,
    + window stage, + template/digest. Each is the previous one plus
    the next layer's calls, in ``build_features``' order, so a layer's
    self time is the difference between consecutive prefixes. Past the
    scan, each prefix drops the raw text as the full plan does, so no
    prefix carries it through the window exchange when the full plan
    does not. The last prefix must equal ``build_features``' output
    (checked by the benchmark's tests)."""
    w = conv_window()
    out = [("scan", df)]
    df = df.withColumn("text_norm", normalize_space("text"))
    df = df.withColumn("text_len", F.length("text_norm"))
    df = df.withColumn(
        "n_tokens",
        F.when(F.col("text_len") == 0, 0).otherwise(F.size(F.split(F.col("text_norm"), " "))),
    )
    out.append(("text", df.drop("text")))
    df = with_position(df, w)
    df = with_lag_lead(df, SPEC.lag_cols, SPEC.lag_offsets, w, lead=SPEC.leads)
    df = with_session_id(df, SPEC.session_timeout_s, w, keep_gap=True)
    df = with_forward_fill(df, SPEC.ffill_cols, w)
    df = with_running(
        df, {"turns_so_far": F.count(F.lit(1)), "chars_so_far": F.sum("text_len")}, w
    )
    out.append(("window", df.drop("text")))
    df = df.withColumn(
        "rendered",
        avt_template(
            SPEC.template,
            role=F.col("role"),
            position=F.col("position"),
            text_norm=F.col("text_norm"),
        ),
    )
    df = df.withColumn("digest", md5_hex("conv_id", "turn_idx", "rendered"))
    out.append(("template", df.drop("text")))
    return out


def flagship_checked(df: DataFrame):
    return flagship_output(df).select(*KEYS, *FLAGSHIP_FEATURE_COLS).toPandas()


# ---- asof_write -------------------------------------------------------

def asof_inputs(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    spine = df.select("conv_id", "turn_idx", "ts", "role")
    facts = df.where(F.col("tool").isNotNull()).select(
        "conv_id",
        "ts",
        F.col("turn_idx").alias("fact_seq"),
        "tool",
        F.length("text").cast("long").alias("text_len"),
    )
    return spine, facts


def asof_plain(df: DataFrame) -> DataFrame:
    return asof_join(*asof_inputs(df), **ASOF_ARGS)


def asof_salted(df: DataFrame) -> DataFrame:
    return asof_join_salted(*asof_inputs(df), chunk_s=SALT_CHUNK_S, **ASOF_ARGS)


def asof_checked(df: DataFrame):
    cols = [*KEYS, "tool_asof", "text_len_asof", "ts_fact_asof"]
    return asof_plain(df).select(*cols).toPandas(), asof_salted(df).select(*cols).toPandas()


def manifest_write(df: DataFrame, out_dir: str, n_buckets: int) -> list[dict]:
    """Commit the plain as-of result into a fresh ``out_dir``."""
    shutil.rmtree(out_dir, ignore_errors=True)
    return write_with_manifest(asof_plain(df), out_dir, n_buckets=n_buckets)


def manifest_rows_read_back(spark, out_dir: str) -> int:
    return read_output(spark, out_dir).count()


def manifest_files(out_dir: str) -> tuple[int, int]:
    """(data files, data bytes) under the committed bucket dirs."""
    files = size = 0
    for dirpath, _, names in os.walk(out_dir):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
