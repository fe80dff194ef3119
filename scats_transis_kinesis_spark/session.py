"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` (one JVM); production posture is a
multi-executor cluster, so every tunable here is chosen to survive a
100 TB scale-up: AQE for runtime re-planning (skew joins, partition
coalescing), explicit shuffle parallelism, Arrow for the few pandas-UDF
extension operators, and a UTC session timezone so results are
bit-comparable with the DuckDB oracle (DuckDB timestamps are UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
WORKER_DAEMON_MODULE = "scats_transis_kinesis_spark.worker_daemon"


def get_session(
    app_name: str = "scats_transis_kinesis_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    At cluster scale the same config applies unchanged except ``master``:
    AQE coalesces post-shuffle partitions and splits skewed ones at
    runtime, so the static ``shuffle_partitions`` only needs to be an
    upper bound (~2-3x total cores).
    """
    cpus = int(DEFAULT_CPUS) if str(DEFAULT_CPUS).isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # ANSI mode is Spark 4.x's default, but several oracle contracts
        # depend on it (the int64 overflow symmetry documented at
        # plans/pipeline_queries27.py: with ANSI off Spark wraps int64
        # silently while DuckDB raises).  Pin it explicitly so a future
        # default flip — or a stray submit-time conf — cannot silently
        # change cast/overflow semantics; the SPARK_GRAFT_EXTRA_CONF
        # hook below still overrides it for deliberate sweeps.
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Cost-based join estimates and reordering activate wherever
        # table-level statistics exist (ANALYZE TABLE on saved tables);
        # inert otherwise, so there is no risk to stat-less scans.
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # The driver's synthetic parquet carries TIMESTAMP(NANOS) columns
        # (pandas-written); Spark's reader rejects them outright.  Read
        # them as int64 nanos and convert in the loader (integer division
        # — float division would lose precision above 2^53 ns).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.schemaInference", "false")
        # Eager localCheckpoint blocks (the iterative operators' round
        # cuts and the dedup pipelines' end-of-pipeline materializations)
        # are freed by the ContextCleaner only after a driver GC notices
        # the RDD is unreachable; the default 30min periodic GC lets them
        # accumulate across a 160-query gate/bench run.  5min bounds the
        # accumulation window at negligible GC cost.
        .config("spark.cleaner.periodicGC.interval", "5min")
        # Python workers fork from the engine's daemon, which stops each
        # task from re-reading pyspark.zip and the Spark jar (about
        # 200 ms per task below CPython 3.13; see worker_daemon.py).
        .config("spark.python.daemon.module", WORKER_DAEMON_MODULE)
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    # Invariance-sweep hook: SPARK_GRAFT_EXTRA_CONF="k=v;k=v" overrides
    # ANY conf above.  PYSPARK_SUBMIT_ARGS --conf cannot: builder
    # .config() pins (e.g. arrow.pyspark.enabled) win over submit-time
    # flags, which round 9 found was silently turning the Arrow-off
    # correctness axis into a no-op.  An env var (not a function arg)
    # because the sweep drives stock tools/check_correctness.py.
    for pair in filter(
        None, os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";")
    ):
        k, sep, v = pair.partition("=")
        if not sep:
            # A pair without '=' (e.g. 'spark.sql.adaptive.enabled',
            # missing '=false') would set the conf to empty string and
            # the invariance axis the hook drives would silently no-op
            # — the exact failure class the hook was added to fix.
            raise ValueError(f"malformed SPARK_GRAFT_EXTRA_CONF pair: {pair!r}")
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
