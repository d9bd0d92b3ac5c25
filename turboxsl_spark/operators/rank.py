"""Distributed global rank / total-order sort — no single-task window.

``xsl:sort`` demands a deterministic total order over the whole output
(SURVEY.md §2.7; reference ``src/transform.c`` sort handling). The
naive Spark spelling — ``row_number() OVER (ORDER BY ...)`` with no
``partitionBy`` — moves EVERY row through one task (Spark logs the
"No Partition Defined" warning): correct at sf0.1, a single-task wall
at 100 TB. This module is the two-phase form:

  1. ``repartitionByRange(P, keys)`` — ONE range exchange (Spark
     samples boundaries); each partition holds a contiguous key range;
  2. in the same stage, ``sortWithinPartitions(keys)`` and two frozen
     columns: ``_gr_pid`` (the partition id) and ``_gr_lrn`` (the
     row's 1-based place in its partition's sort, read off
     ``monotonically_increasing_id()``) — parallel, partition sizes
     balanced by the range partitioner — materialized once by
     ``_reliable_checkpoint``;
  3. per-partition row counts — a P-row aggregate collected to the
     driver (bounded by the PARTITION COUNT, never by the data; the
     same order of driver traffic as the range sampling itself) —
     become cumulative offsets. A row's rank is its partition's offset,
     looked up in a P-element array literal, plus ``_gr_lrn``.

Cost: one sort per row, in the range stage, then a count job over the
checkpoint; the rank reads the checkpoint with no exchange, window or
join, and ``exact_quantiles`` filters it to its target rows.

``_reliable_checkpoint`` is the one materialization policy of the
operators (``duplicate_components`` and the near-dup pipelines use it
too), and no caller owns an intermediate's lifetime:

  - under ``local[...]`` a ``localCheckpoint``: executor blocks, freed
    by the ContextCleaner once the frame is dropped;
  - on any other master a reliable checkpoint into
    ``<spark.turboxsl.scratchDir>/cc_checkpoints`` (or into a
    checkpoint dir the caller set), whose files Spark's ContextCleaner
    removes when ``spark.cleaner.referenceTracking.cleanCheckpoints``
    is on; with neither location set it raises at build time, so no
    executor ever writes to a driver-local path.

No path is chosen per call, so two builds cannot overwrite each
other's intermediate and nothing is left behind in a temp dir.

Trade-off: the count pass reads the checkpointed rows, not one pruned
parquet column as a write-once parquet scratch would. On 4 vCPU the
checkpoint was no slower per build: faster for ``sort_multikey`` and
``sort_caseorder`` at sf0.01 and sf0.1 and for ``exact_quantiles`` at
sf0.1, even for ``exact_quantiles`` at sf0.01. On a real cluster the
difference is unmeasured.

The order spec MUST be total (include a unique tiebreak column):
equal keys may straddle a range boundary, so without a tiebreak the
assignment of equal rows to ranks would be nondeterministic, and a
partition's sort — so its ``_gr_lrn`` — would depend on shuffle fetch
order. Every caller in this repo ranks on (..., unique_id). Numbering
the rows before materializing (not recomputing the ids per job) is
what makes the counts and the ranks agree even though range
boundaries are SAMPLED per exchange.
"""

from __future__ import annotations

import math
import re
from collections.abc import Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

SCRATCH_CONF = "spark.turboxsl.scratchDir"


def _in_process_master(master: str) -> bool:
    """Whether the executors run inside the driver's JVM: a plain
    ``local`` or ``local[...]`` master. ``local-cluster[...]`` runs them
    in separate JVMs, so it is not one."""
    return re.match(r"local(\[|$)", master) is not None


def _reliable_checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` eagerly and truncate its lineage in a way that
    survives executor loss.

    Under ``local[*]`` the executors ARE the driver process, so
    ``localCheckpoint`` (in-memory, executor-local) is both safe and
    the fastest option. On any other master an executor-local checkpoint
    is a fault-tolerance hole: losing one executor discards blocks whose
    lineage was just truncated and kills the whole job — so there it is
    a RELIABLE checkpoint into the cluster-visible scratch dir
    (``spark.turboxsl.scratchDir``), wiring
    ``sparkContext.setCheckpointDir`` on first use. No conf and no
    checkpoint dir on a cluster → raise at build time rather than
    truncate lineage against volatile storage.
    """
    spark = df.sparkSession
    master = spark.conf.get("spark.master", "")
    if _in_process_master(master):
        return df.localCheckpoint()
    sc = spark.sparkContext
    if sc.getCheckpointDir() is None:
        base = spark.conf.get(SCRATCH_CONF, None)
        if not base:
            raise ValueError(
                f"checkpoint on master {master!r}: localCheckpoint is not "
                f"fault-tolerant off local[*] — set {SCRATCH_CONF} to a "
                f"cluster-visible path (HDFS/S3/NFS) or call "
                f"sparkContext.setCheckpointDir yourself"
            )
        sc.setCheckpointDir(f"{base.rstrip('/')}/cc_checkpoints")
    return df.checkpoint()


def global_rank(
    df: DataFrame,
    order: Sequence[Column],
    out: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a 1-based global ``row_number`` under a total order.

    ``order``: sort expressions (``F.col(...).asc()/.desc()``), used for
    both the range partitioning and the in-partition sort; must include
    a unique tiebreak. Returns ``df`` plus the ``out`` long column: the
    row's partition offset, read from a literal array of the P offsets,
    plus its frozen in-partition number — no window, no exchange and
    no join after the checkpoint.

    The numbered range stage is materialized once with
    ``_reliable_checkpoint`` (see the module docstring): executor-local
    under ``local[...]``, a reliable checkpoint into
    ``spark.turboxsl.scratchDir`` on any other master, and a
    ``ValueError`` at build time there when no checkpoint location is
    set. The caller frees nothing; the module docstring says when
    Spark does.
    """
    part, offsets = _numbered(df, order, num_partitions)
    return part.withColumn(out, F.expr(_rank_sql(offsets))).drop("_gr_pid", "_gr_lrn")


def _numbered(
    df: DataFrame,
    order: Sequence[Column],
    num_partitions: int | None = None,
) -> tuple[DataFrame, list[int]]:
    """The range stage with its row numbers frozen, and the offsets.

    Returns the checkpointed ``df`` plus ``_gr_pid`` (its range
    partition) and ``_gr_lrn`` (its 1-based position in that
    partition's sort), and the cumulative row counts: ``offsets[p]``
    rows precede partition ``p`` in the total order, a partition with
    no rows takes the running offset, and ``offsets[-1]`` is the total
    row count n (``[0]`` for empty input).
    """
    order = list(order)
    # no explicit partition count → AQE sizes the range exchange to the
    # DATA (coalesces a 2k-row rank to a few partitions, spreads a
    # 10^12-row one wide); pass num_partitions only to pin a layout
    ranged = (
        df.repartitionByRange(num_partitions, *order)
        if num_partitions is not None
        else df.repartitionByRange(*order)
    )
    # monotonically_increasing_id() is (partition id << 33) + the row's
    # index in its task (so < 2^33 rows per range partition), and after
    # the sort the difference is the row's place in its range. Both ids
    # must be frozen by the checkpoint: every exchange resamples its
    # range boundaries
    part = _reliable_checkpoint(
        ranged.sortWithinPartitions(*order).selectExpr(
            "*",
            "spark_partition_id() AS _gr_pid",
            "monotonically_increasing_id()"
            " - shiftleft(CAST(spark_partition_id() AS BIGINT), 33) + 1 AS _gr_lrn",
        )
    )
    counts = dict(part.groupBy("_gr_pid").count().collect())
    offsets = [0]
    for pid in range(max(counts, default=-1) + 1):
        offsets.append(offsets[-1] + counts.get(pid, 0))
    return part, offsets


def _rank_sql(offsets: list[int]) -> str:
    """SQL text of the global rank of a ``_numbered`` row."""
    arr = ", ".join(f"{o}L" for o in offsets)
    return f"element_at(array({arr}), _gr_pid + 1) + _gr_lrn"


def exact_quantiles(
    df: DataFrame,
    value: Column | str,
    qs: Sequence[float],
    tiebreak: Sequence[Column | str] = (),
) -> DataFrame:
    """EXACT discrete quantiles (percentile_disc semantics) of a column,
    distributed — returns ``(q double, value)`` with one row per q.

    quantile_disc(q) = the value at 1-based sorted position
    ``max(1, ceil(q*n))`` — the smallest value whose cumulative
    fraction is ≥ q. ``approx_percentile`` trades error bounds for one
    pass; this is the exact complement for when the number matters
    (pricing cutoffs, SLO reporting), built on the same numbered range
    stage as ``global_rank`` (never a single-task window). Its
    per-partition counts give n, and the checkpoint is filtered to the
    ≤ ``len(qs)`` rows whose rank is a target: no row is ranked or
    joined. ``tiebreak`` columns only disambiguate WHICH duplicate row
    holds a rank; the VALUE at each position is order-independent, so
    any unique tiebreak yields the same result.

    The result is collected eagerly (bounded by ``len(qs)`` rows — a
    driver collect of quantile values, not data), so nothing returned
    still reads the rank's checkpoint.
    """
    for q in qs:
        if not 0.0 <= q <= 1.0:
            raise ValueError(f"quantile must be in [0, 1], got {q}")
    spark = df.sparkSession
    v = F.col(value) if isinstance(value, str) else value
    slim = df.select(
        v.alias("_q_v"), *[F.col(c) if isinstance(c, str) else c for c in tiebreak]
    )
    order = [F.col("_q_v").asc()] + [
        (F.col(c) if isinstance(c, str) else c).asc() for c in tiebreak
    ]
    out_schema = StructType(
        [
            StructField("q", DoubleType()),
            StructField("value", slim.schema["_q_v"].dataType),
        ]
    )
    part, offsets = _numbered(slim, order)
    n = offsets[-1]
    rows = []
    if n:
        targets = {_ceil_rank(q, n) for q in qs}
        hits = dict(
            part.selectExpr(f"{_rank_sql(offsets)} AS _q_rank", "_q_v")
            .where(f"_q_rank IN ({', '.join(map(str, targets))})")
            .collect()
        )
        # sorted on the DRIVER: a DataFrame orderBy would add a range
        # exchange (and its sampling pass) to order a handful of rows
        rows = sorted(((float(q), hits[_ceil_rank(q, n)]) for q in qs), key=lambda r: r[0])
    # from pandas the rows enter the plan as one Arrow batch (a
    # LocalRelation); from a Python list they would be a Python RDD
    # whose collect starts a Python worker (~0.4 s on 4 cores)
    return spark.createDataFrame(pd.DataFrame(rows, columns=out_schema.names), out_schema)


def _ceil_rank(q: float, n: int) -> int:
    return max(1, math.ceil(q * n))


# Largest k ``global_topk`` accepts: its ≤k rows are collected to the
# driver and re-parallelized from a Python list, so k bounds driver
# memory. Rank a larger prefix with ``global_rank`` + a filter instead.
TOPK_MAX_K = 10_000


def global_topk(
    df: DataFrame,
    order: Sequence[Column],
    k: int,
    out: str = "rank",
) -> DataFrame:
    """Top-k rows under a total order, with 1-based ranks attached.

    Phase 1 is Spark's own distributed limit (``TakeOrderedAndProject``:
    each partition keeps its local top-k, the driver MERGES k·P rows —
    never a full global sort, never a single-task window). Phase 2
    attaches ranks to those ≤k rows ON THE DRIVER: the limit already
    delivers them there in sorted order, so enumerating them is free
    and bounded by k — the previous distributed phase 2
    (checkpoint + offset job + window) spent ~4 extra Spark jobs
    re-ranking rows the driver had just merged (r06, guide §1.2).
    ``k`` must lie in ``1..TOPK_MAX_K`` (ValueError otherwise).
    """
    if not 1 <= k <= TOPK_MAX_K:
        raise ValueError(f"global_topk k must be in 1..{TOPK_MAX_K}, got {k}")
    spark = df.sparkSession
    rows = df.orderBy(*order).limit(k).collect()  # ≤ k rows, sorted
    schema = df.schema.add(StructField(out, LongType(), True))
    ranked = [(*r, i + 1) for i, r in enumerate(rows)]
    # from pandas, as in ``exact_quantiles``: a LocalRelation, no Python
    # RDD whose collect starts a Python worker
    return spark.createDataFrame(pd.DataFrame(ranked, columns=schema.names), schema)


def caseorder_keys(
    col: Column | str,
    case_order: str | None = None,
    descending: bool = False,
) -> list[Column]:
    """Sort expressions for one case-insensitive ``xsl:sort`` key with
    the XSLT 1.0 ``case-order`` attribute.

    The reference PARSES ``case-order="lower-first"`` into
    ``XML_FLAG_LOWER`` (/root/reference/src/transform.c:358-360) but
    its comparator never reads the flag — it always runs plain
    ``xml_strcasecmp`` (/root/reference/src/xpath.c:546), so ties
    between case variants come out in input order. This helper
    implements the attribute's DOCUMENTED semantics (a superset of the
    reference): primary key = ``lower(col)``; when ``case_order`` is
    given, a whole-string tiebreak on the raw column orders
    case-insensitive ties.

    Why the tiebreak works: two strings tied on ``lower()`` differ only
    by letter case position-wise, and ASCII lowercase = uppercase + 32,
    so descending byte order prefers the lowercase variant at the first
    differing position — exactly per-character lower-first. (Strictly
    ASCII reasoning; non-ASCII case pairs whose code-point order
    differs may tie-order differently.) ``order="descending"``
    reverses the WHOLE comparator, tiebreak included, matching XSLT.

    Splice the returned list into a ``global_rank``/``orderBy`` spec;
    follow it with a unique tiebreak column for a total order.
    """
    c = F.col(col) if isinstance(col, str) else col
    primary = F.lower(c)
    keys = [primary.desc() if descending else primary.asc()]
    if case_order is not None:
        if case_order not in ("lower-first", "upper-first"):
            raise ValueError(
                f"case-order must be 'lower-first' or 'upper-first', got {case_order!r}"
            )
        tie_desc = (case_order == "lower-first") != descending
        keys.append(c.desc() if tie_desc else c.asc())
    return keys
