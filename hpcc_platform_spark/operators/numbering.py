"""Global row numbering inside the query plan — the total-order primitive.

Every ordinal operator (PROJECT COUNTER, ENTH, SELECTNth, COMBINE, exact
QUANTILE, and the ECL front end's SAMPLE, MERGE and positional reads) needs a
global row number. The naive Spark plan — ``Window.orderBy(...)`` with no
partitionBy — funnels the entire dataset through ONE WindowExec task
(``Exchange SinglePartition``). The reference solves the same problem in its
distributed merge sort: sample, compute range split points,
partition-exchange, and each node derives its global rank offset from the
row counts of the nodes before it (thorlcr/msort/tsortm.cpp:66,242;
tsorts.cpp partition-row-count exchange).

Spark has that rank-offset step as a physical operator. The plan here is

    df.orderBy(*keys).withColumn(name, distributed_sequence_id() + 1)

``orderBy`` is one range exchange plus a per-partition sort. The analyzer
turns ``distributed_sequence_id`` (the function behind pandas-on-Spark's
default index) into ``AttachDistributedSequenceExec``, which caches its
child RDD and runs ``zipWithIndex`` over it. ``zipWithIndex`` counts the
rows of every partition and numbers each partition from the sum of the
counts before it: the reference's partition-count exchange. Counting and
numbering read the same cached RDD, so both see the same range split, and
the cache is unpersisted when the query's execution ends.

So building a query that numbers rows starts no Spark job and leaves no
cache behind. The counting job runs when the consuming action runs.

Each read of a numbered frame runs its own sort and sequence. Where two
branches of one plan read the same numbered frame (a self-join on the rank,
a zip of a frame with itself), rows with equal keys can arrive in a
different order in each branch. Such a caller numbers by
``total_order(df, keys)``, which breaks every tie.

``ranged_partitions`` is the older, eager form: a persisted
range-partitioned frame. Only the global running aggregate
(``iterate_running``) still uses it. It collects one aggregate per
partition while the query is built, and a running SUM/MIN/MAX has no
in-plan equivalent of the sequence's offsets. ``release_numbering_caches()``
unpersists those frames.
"""

from __future__ import annotations

from collections import deque
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.internal import InternalFunction

PID = "__pid__"

# Bound at import, so a pyspark without the function fails here.
_sequence_id = InternalFunction.distributed_sequence_id

# Persisted range-partitioned frames of ranged_partitions(), oldest first.
# The consuming action runs after ranged_partitions() returns (lazy plan),
# so NOTHING may unpersist a tracked frame implicitly: if the consumer hasn't
# run yet, an unpersist forces it to re-execute the range exchange, and the
# RangePartitioner's reservoir sample (seeded per job) can pick different
# split points — the collected per-partition values would then silently
# mismatch the recomputed partitioning. Callers bound executor storage by
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
            "running aggregates; call release_numbering_caches() once their "
            "consuming actions have run (implicit eviction is unsafe: a "
            "not-yet-consumed frame would re-sample its range exchange and "
            "corrupt the running values)",
            ResourceWarning,
            stacklevel=3,
        )


def release_numbering_caches() -> None:
    """Unpersist every ranged frame still cached by ``ranged_partitions``.

    Call after the consuming action is fully materialized (e.g. between
    bench iterations) to return executor storage immediately."""
    while _live_caches:
        try:
            _live_caches.popleft().unpersist()
        except Exception:
            pass


def _cols(spec: Sequence[str | Column]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in spec]


def ranged_partitions(df: DataFrame, order_by: Sequence[str | Column]) -> DataFrame:
    """Range-partition ``df`` by ``order_by`` into a persisted frame with a
    ``__pid__`` column; partition 0 holds the smallest keys.

    The frame stays cached (see ``_live_caches``) so that a driver-side
    per-partition aggregate and the query that consumes it see the same
    range split."""
    num_partitions = int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    ranged = (
        df.repartitionByRange(num_partitions, *_cols(order_by))
        .withColumn(PID, F.spark_partition_id())
        .persist()
    )
    _track_cache(ranged)
    return ranged


def global_row_number(
    df: DataFrame,
    order_by: Sequence[str | Column],
    name: str = "counter",
) -> DataFrame:
    """``df`` in ``order_by`` order plus a 1-based global ``name`` column.

    One lazy plan: a global sort, then Spark's distributed sequence. The
    counter is 64-bit; the reference's row counts are unsigned8 (rtl).
    """
    seq = (_sequence_id() + 1).cast("long")
    return df.orderBy(*_cols(order_by)).withColumn(name, seq)


def _sortable(dt: T.DataType) -> bool:
    if isinstance(dt, (T.MapType, T.VariantType)):
        return False
    if isinstance(dt, T.ArrayType):
        return _sortable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_sortable(f.dataType) for f in dt.fields)
    return True


def total_order(df: DataFrame, order_by: Sequence[str | Column]) -> list[Column]:
    """``order_by`` made total, for a frame that two branches of one plan
    number separately: the hidden ``__ord__`` ordinal, if present, then
    every other sortable column break ties. Each branch's sequence then
    gives each row the same rank, up to rows equal in every sortable
    column."""
    names = [f.name for f in df.schema.fields if _sortable(f.dataType)]
    names.sort(key=lambda n: n != "__ord__")
    return [*_cols(order_by), *(F.col(f"`{n}`") for n in names)]
