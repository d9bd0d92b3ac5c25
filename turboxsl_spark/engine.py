"""Public engine facade + the UDF extension point.

The reference lets the host register scalar callbacks that override
built-ins at dispatch time (``register_function``,
/root/reference/src/functions.c:1420-1438) — but every host call runs
under one global mutex, serializing the whole thread pool
(/root/reference/src/functions.c:23-37). Our extension point is the
opposite by construction: registered features are Arrow-vectorized
pandas UDFs (or plain Column builders), executed data-parallel with no
shared lock.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


class Engine:
    """Feature-engineering session: operator registry + pipeline runner."""

    def __init__(self, spark):
        self.spark = spark
        self._features: dict[str, Callable[..., Column]] = {}

    def register_feature(
        self,
        name: str,
        fn: Callable[[pd.Series], pd.Series] | Callable[..., Column],
        return_type: str | None = None,
    ) -> None:
        """Register a custom per-turn feature.

        Two shapes:
        - ``return_type`` given → ``fn`` is a pandas Series → Series
          kernel; wrapped as an Arrow-vectorized pandas UDF.
        - ``return_type`` omitted → ``fn`` builds a Column from Columns
          (stays JVM-side; preferred).
        Registered names override built-ins at application time, like
        the reference's dispatch order.
        """
        if return_type is not None:
            fn = F.pandas_udf(return_type)(fn)
        self._features[name] = fn

    def apply_features(self, df: DataFrame, **feature_args: dict) -> DataFrame:
        """Apply every registered feature: ``name`` becomes a column,
        built from the argument columns in ``feature_args[name]``
        (default: the ``text_norm`` column of the flagship surface).
        All features are added in one projection, so they read only
        ``df``'s columns, not each other."""
        cols = {}
        for name, fn in self._features.items():
            args = feature_args.get(name, ["text_norm"])
            cols[name] = fn(*[F.col(a) if isinstance(a, str) else a for a in args])
        return df.withColumns(cols)

    def build_features(self, df: DataFrame, spec=None) -> DataFrame:
        from turboxsl_spark.plans.featurespec import FeatureSpec, build_features

        out = build_features(df, spec or FeatureSpec())
        return self.apply_features(out) if self._features else out
