"""SparkSession factory + table loading.

Scale posture: configs below are chosen so the same logical plans survive a
1000-executor cluster — AQE handles runtime re-planning (broadcast selection,
skew-join splitting, partition coalescing), which replaces the reference's
hand-rolled SMART join failover (thorlcr/activities/lookupjoin/
thlookupjoinslave.cpp:1711-1735 "failover to local lookupjoin") and its
engine-choice step (ecl/hqlcpp/hqlttcpp.cpp pickBestEngine).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "hpcc_platform_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Local-mode knobs mirror what we'd set cluster-side:
    - ``spark.sql.shuffle.partitions`` ≈ total cores locally; on a real
      cluster AQE coalesces, so an over-estimate is safe.
    - AQE on: runtime broadcast/skew handling at 100 TB where static
      planning guesses wrong.
    - session TZ pinned UTC so results are comparable to the DuckDB oracle.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    # Shuffle parallelism is deployment-derived, not a magic constant:
    # default = this deployment's core count (every shuffle fills the
    # machine at test SFs, where partitions are KB-sized and AQE's
    # size-based coalescing would otherwise shrink small-data shuffles
    # below the core count — parallelism beats 64 MB targets there,
    # guide §2.2). On a real cluster, set SPARK_GRAFT_SHUFFLE_PARTITIONS
    # so post-shuffle partitions land in the 100 MB–1 GB band (e.g.
    # ~count of 256 MB units in the largest shuffled stage); AQE
    # coalescing then right-sizes every smaller stage at runtime, so an
    # over-estimate is safe.
    shuffle_parts = int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", max(cpus, 8))
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Allow shuffled-hash where a side fits per-partition (guide
        # §3.1/§9): sort-merge stays available, hash skips both sorts.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Anything we write (scratch, PERSIST cache, index builds) —
        # zstd is smaller than snappy at similar read speed (guide §6).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Shuffle/spill/broadcast block codec (guide §2.3 shuffle fewer
        # bytes): deployment parameter like shuffle partitions. Local
        # default stays lz4 (Spark's default): at sf0.1 shuffle blocks
        # are KB-sized and CPU-bound, and zstd measured consistently
        # ~14% slower end-to-end (A/B in OPTIMIZATION_r17.md). On a
        # network- or disk-bound cluster set SPARK_GRAFT_IO_CODEC=zstd:
        # markedly smaller shuffle blocks buy back far more than the
        # compression CPU there.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Row numbering (operators/numbering.py) ends every execution with a
    # WARN "clean up cached RDD" from this operator; it is routine.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.python.AttachDistributedSequenceExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    _enable_py4j_nodelay(spark)
    return spark


def _enable_py4j_nodelay(spark: SparkSession) -> None:
    """Set TCP_NODELAY on the py4j driver↔JVM command sockets.

    py4j never sets it (checked py4j 0.10.9 sources), so every DataFrame
    API call — one small write + one small read — can trip over Nagle +
    delayed-ACK interplay on the loopback RPC. Measured here: ~280 µs per
    py4j round trip stock vs ~47 µs raw-socket floor; with NODELAY the
    500-call probe dropped ~15–20%. Query CONSTRUCTION is py4j-bound for
    expression-heavy plans (profiles in OPTIMIZATION_r18.md), so this is
    a global build-time win. Socket-option only — no protocol or
    semantics change; best-effort (never raises)."""
    import socket as _sock

    try:
        client = spark.sparkContext._gateway._gateway_client
        for conn in list(getattr(client, "deque", [])):
            try:
                conn.socket.setsockopt(
                    _sock.IPPROTO_TCP, _sock.TCP_NODELAY, 1
                )
            except Exception:
                pass
        from py4j.clientserver import ClientServerConnection

        if not getattr(ClientServerConnection, "_hps_nodelay", False):
            orig = ClientServerConnection.connect_to_java_server

            def connect_with_nodelay(self):
                orig(self)
                try:
                    self.socket.setsockopt(
                        _sock.IPPROTO_TCP, _sock.TCP_NODELAY, 1
                    )
                except Exception:
                    pass

            ClientServerConnection.connect_to_java_server = (
                connect_with_nodelay
            )
            ClientServerConnection._hps_nodelay = True
    except Exception:
        pass


# Inferred parquet schemas per testdata path (pure metadata, like the
# catalog a production deployment would already hold; guide §6 file
# metadata caching). Schema inference costs a JVM footer read + listing
# round trip per spark.read.parquet call — measured ~104 ms -> ~23 ms per
# read when the schema is passed explicitly — and EVERY query pays it per
# table per run. Caching only the StructType (never data, never listings
# of files we write) keeps every action computing from the parquet inputs.
# Keyed on (path, mtime): a table rewritten at the same path (a Spark
# overwrite recreates the directory) is re-inferred, never read with a
# stale schema.
_SCHEMA_CACHE: dict[tuple[str, int], "object"] = {}


def _read_parquet_pinned(spark: SparkSession, path: str) -> DataFrame:
    try:
        key = (path, os.stat(path).st_mtime_ns)
    except OSError:  # missing or non-local: Spark reports it
        return spark.read.parquet(path)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        sch = spark.read.parquet(path).schema
        _SCHEMA_CACHE[key] = sch
    return spark.read.schema(sch).parquet(path)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one TESTDATA parquet table, normalizing physical quirks.

    ``events.ts`` is written as parquet TIMESTAMP(NANOS). Different Spark
    versions surface that physical encoding differently — 3.x/4.0 with the
    ``nanosAsLong`` legacy flag reads it as BIGINT nanos; 4.1+ reads it
    natively as TIMESTAMP_NTZ (truncated to µs) and ignores the flag. We
    branch on the *observed* read dtype rather than assuming one encoding,
    and normalize to session-TZ TIMESTAMP either way. This is record-layout
    translation in the reference's sense (thorread.hpp:33-64
    actual→expected mapping: adapt to the file's actual layout, never
    hard-code one physical encoding).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType, TimestampNTZType

        df = _read_parquet_pinned(spark, path)
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # nanos-as-long: integer division keeps exact µs (a double
            # roundtrip would wobble the low microseconds at 2024 epochs).
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        if isinstance(ts_type, TimestampNTZType):
            # Session TZ is pinned UTC, so this cast is value-preserving
            # and keeps the column type identical across Spark versions.
            return df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return _read_parquet_pinned(spark, path)


def load_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Load the TESTDATA star schema; register each as a temp view.

    Parquet scan is the Spark analogue of the reference's flat-file read
    (TAKdiskread, thorlcr/activities/diskread/) with filter+project fusion —
    Catalyst pushes predicates/projections into the scan automatically.
    """
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = read_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
