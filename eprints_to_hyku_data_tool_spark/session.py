"""SparkSession factory pinning the configs the engine's correctness and
scale posture depend on (SURVEY.md §4 config block).

- UTC session timezone: oracle hash-matching of timestamps requires it
  (DuckDB timestamps are UTC-naive).
- AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
  broadcast-join demotion/promotion — the 100 TB posture is "declare the
  plan, let AQE re-plan at shuffle boundaries".
- Arrow on: vectorized pandas-UDF and toPandas transfer.
- shuffle.partitions sized to cores for local mode; on a real cluster set
  SPARK_GRAFT_SHUFFLE_PARTITIONS (~2-3x total cores) — that switch also
  raises AQE's initialPartitionNum above the cap so per-stage coalescing
  works in both directions, and SPARK_GRAFT_MASTER unpins the local
  master for spark-submit (both code-review r15: the old docstring
  claimed a posture the code did not implement).
"""

from __future__ import annotations

import os

# Module-level on purpose: warm_session's pandas_udf resolves its
# (stringified, future-annotations) type hints against THIS module's
# globals — a function-local pandas import leaves 'pd.Series'
# unresolvable and the UDF creation fails.
import pandas as pd
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "eprints-to-hyku-spark",
    cpus: int | str | None = None,
    driver_memory: str = "24g",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Local-mode only in this environment; every config below is equally
    valid on a multi-executor cluster except ``driver.memory`` which
    would move to ``executor.memory``.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Cluster posture as an EXECUTABLE switch, not a docstring claim
    # (code-review r15): shuffle.partitions pinned to local cores is a
    # hard CAP on a real cluster — AQE's coalescePartitions only merges
    # DOWN from the initial count, so a 10 TB shuffle would land in 32
    # reduce partitions (~300 GB each) regardless of cluster size.
    # SPARK_GRAFT_SHUFFLE_PARTITIONS sets the post-shuffle cap (~2-3x
    # total cores on a cluster) and the AQE initial partition number
    # rides ABOVE it so per-stage coalescing has room to work in both
    # directions. SPARK_GRAFT_MASTER overrides the hard-pinned local
    # master (builder.master() would otherwise silently defeat a
    # spark-submit --master yarn, running the whole job single-node).
    shuffle_env = os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    shuffle_parts = shuffle_env or str(cpus)
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle_parts)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory)
        # Whole-stage codegen compiles one class per query stage; the JVM
        # default 240m code cache fills after ~50 distinct queries in one
        # session and later queries fall off a JIT cliff (measured: a 2s
        # query taking 30s late in the bench suite). 512m + flushing keeps
        # the full suite JIT-compiled.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events.parquet stores ts as INT64 TIMESTAMP(NANOS) which Spark's
        # vectorized reader rejects; read as long ns and convert in
        # sources.tables.load_table (data is us-precision, so exact).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Reliable checkpoint FILES (the SPARK_GRAFT_CHECKPOINT_DIR
        # cluster posture — functions/checkpointing.py) are NOT cleaned
        # by default: without this flag every per-round edge-set
        # checkpoint of an iterative kernel accumulates in the
        # checkpoint store for the life of the app and beyond. With it,
        # the ContextCleaner deletes a checkpoint's files once the
        # superseded DataFrame is GC'd — the same lifecycle the
        # localCheckpoint block path already had. Cleaner configs are
        # read at SparkContext creation, so this cannot be applied in
        # tune_session to an externally created session.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # Partition-column type inference mangles string partition keys
        # on read-back (code-review r15, verified: lang='05' returned as
        # int 5 — leading zero destroyed, joins against the original
        # string column silently miss). Partition values come back as
        # the strings the directory names carry; cast explicitly where
        # a numeric key is wanted.
        .config("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    )
    if shuffle_env is not None:
        # Cluster switch engaged: give AQE coalescing room ABOVE the cap
        # (it can only merge down from the initial count). Left unset in
        # local mode so local plans match the measured baselines.
        builder = builder.config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(4 * int(shuffle_parts)),
        )
    # r16 cluster-config adjudication at the 10x tier (VERDICT r15 item
    # 6), interleaved min-of-3 per candidate; Spark's defaults stay, so
    # local plan pins and the bench series stay comparable:
    # - preferSortMergeJoin=false: association_rules 4.83 -> 3.88 s (won
    #   all 3 pairs), multikey_sort/corpus_pipeline flat. Set it on a
    #   cluster through extra_conf or --conf.
    # - coalescePartitions.parallelismFirst=false: REJECTED —
    #   association_rules 5.75 -> 19.2 s, corpus_pipeline 4.0 -> 28.1 s.
    # - io.compression.codec=zstd: REJECTED — corpus_pipeline 5.9 ->
    #   8.0 s, association_rules tie.
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec's "No Partition Defined" warning fires for every
    # intentional bounded-tiny global window (certified heavy-hitter
    # total, per-partition offset tables, funnel steps) and buries real
    # warnings in the bench tail (VERDICT r10 item 6). Spark 4
    # constant-folds any lit() partition key back to an empty spec, so
    # the log cannot be silenced plan-side; mute the one logger class
    # instead. The guard against an ACCIDENTAL unbounded global window
    # is the source-level lint (tests/test_plans.py
    # test_no_unannotated_bare_global_windows), which fails on any bare
    # global window lacking a bounded-global-window justification.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 logging backend: keep the noise over crashing
    return spark


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of our config to an externally
    created session (the driver passes us its own SparkSession).

    Timezone is the critical one: timestamp-valued query outputs are
    hash-compared against a UTC-naive DuckDB oracle.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass
    # Same WindowExec mute as get_spark (see there): the engine's
    # intentional global windows are all bounded-tiny and lint-guarded;
    # without this, every driver-session sweep tail drowns in the noise.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass
    return spark


def warm_session(spark: SparkSession, sf_dir: str, on_error=None) -> None:
    """The ONE warm-up recipe every measurement entry point shares
    (`open_session` in tools/measure.py, which bench.py and every
    measurement subcommand use, and etlbench/run.py's set-up —
    code-review r14: three hand-kept copies had already diverged once,
    and the adjudicator's verdicts assume its sessions are warmed
    EXACTLY like bench's): scan every table once through a noop sink
    (JVM, parquet footers, every column) and run one trivial Arrow
    pandas-UDF job to spin up the python workers.

    ``on_error(stage, exc)`` makes failures non-fatal per stage (bench
    must always print its one JSON line); the default re-raises.
    """
    from pyspark.sql import functions as F

    from .sources.tables import TABLES

    for t in TABLES:
        try:
            df = spark.read.parquet(f"{sf_dir}/{t}.parquet")
            df.count()
            df.write.format("noop").mode("overwrite").save()
        except Exception as exc:
            if on_error is None:
                raise
            on_error(t, exc)
    try:
        @F.pandas_udf("long")
        def _warm(s: pd.Series) -> pd.Series:
            return s

        spark.range(64).repartition(32).select(_warm("id")).write.format(
            "noop"
        ).mode("overwrite").save()
    except Exception as exc:
        if on_error is None:
            raise
        on_error("arrow", exc)
