"""Two-phase global row numbering — the scale-safe total-order primitive.

Every ordinal operator (PROJECT COUNTER, ENTH, SELECTNth, COMBINE, exact
QUANTILE) needs a global row number. The naive Spark plan —
``Window.orderBy(...)`` with no partitionBy — funnels the entire dataset
through ONE WindowExec task (``Exchange SinglePartition``): a guaranteed OOM
at 100 TB. The reference solves the same problem in its distributed merge
sort: sample, compute range split points, partition-exchange, and each node
derives its global rank offset from the nodes before it
(thorlcr/msort/tsortm.cpp:66,242; tsorts.cpp partition-row-count exchange).

This module is the Spark-first equivalent:

1. ``repartitionByRange(order_keys)`` — range exchange, same sampled-split
   design as the reference's msort (executed by Spark's RangePartitioner).
2. Cache the ranged data, then count rows per partition — an action that
   moves ONE ROW PER PARTITION to the driver (thousands at most).
3. Broadcast cumulative offsets back as a literal map expression.
4. ``sortWithinPartitions(keys)`` + a projection adding ``offset[pid] +
   local position`` (low bits of monotonically_increasing_id) — fully
   parallel, no single-partition exchange anywhere in the plan, and
   (unlike a window partitioned by ``__pid__``) no second all-rows
   exchange either.

The cache between steps 2 and 4 is required for correctness: without it the
count job and the numbering job would each re-plan the range exchange, and
the RangePartitioner's reservoir sample (random seed per job) could pick
different split points.
"""

from __future__ import annotations

from collections import deque
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.inline import rows_literal

PID = "__pid__"

# Persisted range-partitioned frames, oldest first. The consuming action runs
# after ranged_partitions() returns (lazy plan), so NOTHING may unpersist a
# tracked frame implicitly: if the consumer hasn't run yet, an unpersist
# forces it to re-execute the range exchange, and the RangePartitioner's
# reservoir sample (seeded per job) can pick different split points — the
# collected offsets would then silently mismatch the recomputed partitioning
# (wrong/duplicated global row numbers). Callers bound executor storage by
# calling release_numbering_caches() AFTER their consuming action has
# materialized (bench does this between queries); past _WARN_THRESHOLD
# outstanding frames we warn rather than evict.
_WARN_THRESHOLD = 8
_live_caches: deque[DataFrame] = deque()


def _track_cache(df: DataFrame) -> None:
    _live_caches.append(df)
    if len(_live_caches) > _WARN_THRESHOLD:
        import warnings

        warnings.warn(
            f"{len(_live_caches)} range-partitioned frames are cached for "
            "row numbering; call release_numbering_caches() once their "
            "consuming actions have run (implicit eviction is unsafe: a "
            "not-yet-consumed frame would re-sample its range exchange and "
            "corrupt global row numbers)",
            ResourceWarning,
            stacklevel=3,
        )


def release_numbering_caches() -> None:
    """Unpersist every ranged frame still cached by numbering operators.

    Call after the consuming action is fully materialized (e.g. between
    bench iterations) to return executor storage immediately."""
    while _live_caches:
        try:
            _live_caches.popleft().unpersist()
        except Exception:
            pass


class numbering_scope:
    """Deterministic storage bound for long-running drivers: run the
    numbering-consuming ACTION inside the scope; caches created within it
    are released on exit.

    >>> with numbering_scope():
    ...     global_row_number(df, ["k"]).write.parquet(path)  # the action

    The action MUST materialize inside the scope — releasing a frame whose
    consumer hasn't run would re-sample the range exchange (see module
    docstring). Scopes release only frames tracked after entry, so nesting
    and surrounding un-scoped callers are unaffected."""

    def __enter__(self):
        self._before = len(_live_caches)
        return self

    def __exit__(self, *exc) -> None:
        while len(_live_caches) > self._before:
            try:
                _live_caches.pop().unpersist()
            except Exception:
                pass
        return None


def _cols(spec: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in spec]


def ranged_partitions(
    df: DataFrame,
    order_by: Sequence[str | Column],
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict[int, int], dict[int, int]]:
    """Range-partition ``df`` by ``order_by`` and count rows per partition.

    Returns ``(ranged, counts, offsets)`` where ``ranged`` is the cached
    range-partitioned frame with a ``__pid__`` column, ``counts`` maps
    partition id → row count and ``offsets`` maps partition id → number of
    rows in all earlier partitions. Partition 0 holds the smallest keys, so
    ``offsets[pid] + local_row_number`` is the exact global position.
    """
    order = _cols(order_by)
    if num_partitions is None:
        num_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
        )
    ranged = (
        df.repartitionByRange(num_partitions, *order)
        .withColumn(PID, F.spark_partition_id())
        .persist()
    )
    _track_cache(ranged)
    counts = {
        r[PID]: r["cnt"]
        for r in ranged.groupBy(PID).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    return ranged, counts, offsets


_OFFSET_ENTRY = T.StructType(
    [T.StructField("pid", T.IntegerType()), T.StructField("off", T.LongType())]
)


def _offset_col(offsets: dict[int, int]) -> Column:
    """``offsets[__pid__]`` (0 for a partition with no rows): one map
    literal, a constant number of py4j calls for any partition count."""
    if not offsets:
        return F.lit(0)
    m = F.map_from_entries(rows_literal(list(offsets.items()), _OFFSET_ENTRY))
    return F.coalesce(m[F.col(PID)], F.lit(0))


def numbered(
    df: DataFrame,
    order_by: Sequence[str | Column],
    name: str = "__rn__",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Attach a 1-based global row number in ``order_by`` order.

    Returns ``(numbered_df, total_rows)``; ``numbered_df`` still carries the
    ``__pid__`` column (callers drop it).

    The numbering pass is ``sortWithinPartitions`` + a projection adding
    ``offset[pid] + partition-local position``, where the local position
    comes from the low bits of ``monotonically_increasing_id()``. The
    earlier implementation used ``row_number() OVER (PARTITION BY
    __pid__)``, whose required ClusteredDistribution(__pid__) re-shuffled
    every row a SECOND time (Exchange hashpartitioning(__pid__)) even
    though rows are already physically grouped by __pid__ by construction
    — Catalyst cannot know that spark_partition_id() matches the physical
    partitioning. Dropping that exchange halves the shuffled bytes of
    every numbering consumer (guide §2.4 remove shuffles outright), and
    the sort+project pipeline whole-stage-codegens with no window
    buffering. 64-bit counters: the reference's row counts are unsigned8
    (rtl); 32 bits would wrap past 2^31-1 rows, well within 100 TB scale.
    """
    ranged, _counts, offsets = ranged_partitions(df, order_by, num_partitions)
    sorted_local = ranged.sortWithinPartitions(*_cols(order_by))
    # monotonically_increasing_id() == partition_id * 2^33 + row position in
    # the delivered (sorted) order, so the partition-local position is its
    # low 33 bits. Being non-deterministic, the projection cannot be
    # reordered below the sort. Caps out at 2^33 rows per partition —
    # partition sizing puts real workloads orders of magnitude below that.
    local_pos = F.monotonically_increasing_id().bitwiseAND(F.lit((1 << 33) - 1))
    out = sorted_local.withColumn(
        name, (local_pos + _offset_col(offsets) + 1).cast("long")
    )
    return out, sum(_counts.values())


def global_row_number(
    df: DataFrame,
    order_by: Sequence[str | Column],
    name: str = "counter",
    num_partitions: int | None = None,
) -> DataFrame:
    """The public combinator: ``df`` plus a global 1-based ``name`` column."""
    out, _ = numbered(df, order_by, name=name, num_partitions=num_partitions)
    return out.drop(PID)
