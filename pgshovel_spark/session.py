"""SparkSession factory tuned for this engine.

Scale posture: these configs are chosen so the SAME logical plans run
well both on local[32] test hardware and on a large cluster:

- AQE on: runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic broadcast conversion — the key lever that
  makes one declarative plan survive a 100x scale-up.
- Arrow on: every pandas_udf / applyInPandas crossing is
  Arrow-batched, never per-row pickling.
- Session timezone pinned to UTC: deterministic timestamp arithmetic
  that matches the DuckDB oracle's naive-UTC reading of the same
  Parquet files.
- shuffle.partitions is a default only — AQE coalesces down at small
  SF and splits skewed partitions at large SF.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

#: suffixes Spark's byte-string parser accepts (JavaUtils.byteStringAs)
_SIZE_RE = re.compile(r"^\d+(b|k|kb|m|mb|g|gb|t|tb|p|pb)?$")


def _env_size(*names: str, default: str) -> str:
    """First non-empty env value among ``names``, validated as a Spark
    byte-size string (e.g. '2m', '256m', '1g').  A malformed value
    fails HERE with the env var named — not as an opaque JVM parse
    error at session build (ADVICE r13).  Empty/whitespace values are
    ignored rather than passed through."""
    for name in names:
        raw = os.environ.get(name)
        if raw is None:
            continue
        val = raw.strip().lower()
        if not val:
            continue
        if not _SIZE_RE.match(val):
            raise ValueError(
                f"{name}={raw!r} is not a valid Spark size string "
                "(expected digits with an optional b/k/m/g/t/p suffix, "
                "e.g. '256m')"
            )
        return val
    return default


def get_session(app_name: str = "pgshovel-spark", cpus: str | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # --- determinism ---
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS); Spark has no ns
        # timestamp type — read as long, converted to a us timestamp in
        # sources.tables.load_table (oracle side: CAST(ts AS TIMESTAMP)).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Local mode runs all 32 task threads inside the driver JVM,
        # whose default 1g heap starves them (GCLocker retry warnings
        # under the bench, OOM on pair-heavy ops at 10x data).  16g on
        # the 128 GiB test box ~ a real cluster's per-executor memory.
        # Ignored if the JVM is already up (e.g. the external driver's
        # own session) — queries must still run under a default heap.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # --- adaptive execution: the scale story ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", "32")
        # Respect the advisory target when coalescing instead of
        # stopping at defaultParallelism (Spark's own docs recommend
        # false): with the default parallelismFirst=true, local[32]
        # never coalesces below 32 partitions, so every tiny shuffle
        # runs 32 near-empty tasks — measured -20% total wall on a
        # mixed sf0.1 subset from this pair of settings.  The advisory
        # size is fixture-scale (matches the 4m scan splits below);
        # raise it to 64-256m on a cluster (SCALE.md).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # Env-parameterised (round-13 contract: scale-dependent knobs
        # must be conf/env, not constants): default stays the measured
        # fixture-scale value; set SPARK_GRAFT_ADVISORY_PARTITION_BYTES
        # to 64m-256m on a cluster (SCALE.md; the r13 name without the
        # _BYTES suffix is kept as a legacy alias).
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            _env_size(
                "SPARK_GRAFT_ADVISORY_PARTITION_BYTES",
                "SPARK_GRAFT_ADVISORY_PARTITION",
                default="2m",
            ),
        )
        # Python DataSource filter pushdown (the native pgshovel
        # batch source renders supported conjuncts into the remote
        # WHERE clause; off by default in Spark 4.1)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # --- Arrow for all Python crossings ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- scan efficiency ---
        .config("spark.sql.parquet.filterPushdown", "true")
        # Spark's DEFAULT parquet timestamp encoding is legacy INT96,
        # which carries NO column statistics: every timestamp-filtered
        # scan over OUR OWN written tables (warehouse artifacts,
        # bucketed tables, merge-sink output) decodes every row group —
        # zero min/max skipping on the single most common fact-table
        # filter column.  TIMESTAMP_MICROS is the modern INT64 logical
        # type: stats are written, row-group pruning works (measured
        # 60k -> 3.3k decoded rows on a month filter over a
        # shipdate-sorted table, EXPERIMENTS.md round 7), and readers
        # (Spark/DuckDB/Arrow) agree on semantics.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # zstd over the snappy default: 2.4x smaller files at equal-or-
        # faster scan time on this corpus (EXPERIMENTS.md round 7) —
        # at 100 TB the write CPU premium repays itself in IO on the
        # first full read.
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config(
            "spark.sql.codegen.wholeStage",
            os.environ.get("SPARK_GRAFT_WSCG", "true"),
        )
        # Align Spark's huge-method cutoff with HotSpot's real JIT
        # limit (-XX:-DontCompileHugeMethods threshold, 8000 bytecode
        # bytes): a generated processNext() above it is NEVER
        # JIT-compiled and runs as cold interpreted bytecode forever —
        # strictly worse than the Volcano path, whose small shared
        # methods are C2-hot.  Spark's default (65535) keeps such
        # stages on generated code anyway; 8000 makes the fallback
        # decision match what the JVM will actually compile.  Scale-
        # independent: the same cliff exists on every executor JVM.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Small split size so the single-file local fixtures scan with
        # real parallelism (a 15 MB lineitem would otherwise be ONE
        # task; at 1m it scans ~11-way, measured -15-30% on the
        # decision-support band vs 4m).  On a cluster with properly
        # sized multi-file tables raise this to 128-256m (SCALE.md).
        # Env-parameterised like the advisory size above: set
        # SPARK_GRAFT_MAX_PARTITION_BYTES=128m-256m on a cluster.
        .config(
            "spark.sql.files.maxPartitionBytes",
            _env_size("SPARK_GRAFT_MAX_PARTITION_BYTES", default="1m"),
        )
        # Keep test droppings out of the repo root: the Hive-style
        # warehouse (CREATE TABLE targets) and Derby's boot log both
        # default to CWD-relative paths.  Ignored if the JVM is already
        # up (external driver session) — harmless there, since that
        # driver controls its own CWD.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/pgshovel-spark-warehouse"),
        )
        # quiet the console
        .config("spark.ui.showConsoleProgress", "false")
        # Headless: no web UI.  The UI listener retains per-execution
        # plan state (default 1000 executions) on the driver heap and
        # competes on the listener bus; across a 90-query bench (180
        # executions with warm-ups) that's pure overhead growth.  A
        # monitored deployment re-enables it (SCALE.md).
        .config("spark.ui.enabled", "false")
        .config("spark.sql.ui.retainedExecutions", "4")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Derby writes derby.log to CWD on engine boot unless this JVM
    # system property is set first; embedded Derby boots lazily on the
    # first JDBC connection, so setting it post-getOrCreate is early
    # enough (no-op if Derby already booted in a reused JVM).
    try:
        spark._jvm.System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    except Exception:
        pass
    return spark
