"""SparkSession construction with scale-oriented defaults.

Tuned for the target execution model (SURVEY.md §4): AQE on (runtime
re-planning + skew-join splitting), Arrow-batched pandas UDFs, modest
broadcast threshold so small dims (config/ref layers) broadcast while
the big feature tables sort-merge.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "tilemaker_spark", cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        # at cluster scale this is sized to data volume; in local mode
        # 2x cores balances hash-partition skew (measured 3x row skew at
        # 1x) while AQE coalesces the small ones
        shuffle_partitions = max(int(cpus) * 2, 16)
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size is a first-order throughput knob for the
        # streaming encoders: per-batch fixed cost measured ~0.4 s with
        # binary columns — 20k-row batches made a 9 s transfer take 89 s
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "131072")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # PySpark 4 wraps EVERY Column/function call with error-context
        # capture: getActiveSession + conf.get + PySparkCurrentOrigin
        # set/clear — 4 extra Py4J round-trips per API call. This
        # engine's plan builders (geocode/classify/encode) issue ~10k
        # calls per pyramid plan, so the capture alone costs seconds of
        # driver time (measured: warm plan build 3.7-5.4 s -> 2.3-3.1 s
        # with it off, sf0.1). The only loss is callsite attribution in
        # AnalysisException messages.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


# Below this many input bytes the cores×8 fine partitioning is pure
# overhead: BENCH.md's A/B (sf0.1 q_tile_assign 4.2 s bare -> 6.6 s at
# cores×2 -> 10.9 s at cores×8) showed the cost is a fixed few seconds
# while the benefit (bounded max-task) only materializes once a core's
# share of the Python stage exceeds that fixed cost. 32 MiB of source
# bytes puts the measured crossover (between 1x and 16x of sf0.1)
# on the conservative side: ×64 replicated input (~107 MiB cached) is
# firmly in scale mode.
SMALL_INPUT_BYTES = 32 * 1024 * 1024

_TRUSTED_LEAVES = {"LogicalRelation", "InMemoryRelation", "LocalRelation",
                   "HiveTableRelation"}


def plan_input_bytes(df) -> int | None:
    """Best-effort source size of a DataFrame: sum of the
    ``withCachedData`` plan's leaf sizes — analysis plus the cache
    manager's InMemoryRelation substitution, but NOT the optimizer
    rule passes (measured 20x cheaper than optimizedPlan on a cold
    pyramid subtree). The cache substitution matters: the bare
    ANALYZED plan sizes a ``.cache()``d input by its raw source files
    (a x64-replicated-then-cached sf0.1 corpus reads as 594 KB, not
    its ~107 MiB materialized size), which would flip the scale-mode
    heuristic to "small input" at exactly the replicated scales where
    fine Python-stage partitioning was measured to matter. Counts only
    leaves whose statistics are real —
    file scans (file size), cached relations (materialized size),
    driver-local relations. A ``LogicalRDD`` leaf (localCheckpoint)
    inherits the pre-checkpoint plan's ESTIMATE, which for a join tree
    is garbage (observed 2.6e22 for a 2.8 MB table), so it is resolved
    through the block manager's storage info instead; if unresolvable
    the whole estimate is abandoned (None -> caller stays in scale
    mode — the conservative direction at scale)."""
    try:
        sc = df.sparkSession.sparkContext
        leaves = df._jdf.queryExecution().withCachedData().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            node = leaves.apply(i)
            cls = node.getClass().getSimpleName()
            if cls in _TRUSTED_LEAVES:
                sz = int(node.stats().sizeInBytes())
                if not (0 <= sz < (1 << 50)):
                    return None
                total += sz
            elif cls == "LogicalRDD":
                rid = node.rdd().id()
                sz = None
                for info in sc._jsc.sc().getRDDStorageInfo():
                    if info.id() == rid:
                        sz = int(info.memSize()) + int(info.diskSize())
                        break
                if sz is None:
                    return None
                total += sz
            else:
                return None
        return total
    except Exception:
        return None


def is_small_input(df, input_bytes: int | None = None) -> bool:
    """True when the job's source data is small enough that per-task
    fixed costs dominate and fine Python-stage partitioning loses."""
    if input_bytes is None:
        input_bytes = plan_input_bytes(df)
    return input_bytes is not None and input_bytes < SMALL_INPUT_BYTES


def python_stage_partitions(spark: SparkSession, input_df=None,
                            input_bytes: int | None = None) -> int:
    """Partition count for Python-CPU-heavy (mapInPandas) stages.

    AQE's coalescing is BYTE-based and blind to per-row Python CPU cost,
    so a Python-heavy stage left at `spark.sql.shuffle.partitions`
    granularity floors the stage wall at its largest task no matter how
    many cores run it. Measured (scripts/profile_pyramid.py, 8 cores,
    x64 input, 16 shuffle partitions): the MVT encode stage coalesced to
    11 tasks with a 48.5 s max task inside a 139 s job — the "fixed
    cost" of the round-2 scaling fit was really this coarse-partition
    critical path, which grows with data and shrinks with nothing.

    Explicit fine hash partitioning (cores x 8, never below the
    session's shuffle partitions) bounds max-task at ~1/8 of a
    core's share, so adding executors keeps helping; AQE is deliberately
    bypassed (explicit numPartitions is not coalesced).

    Input-aware (VERDICT r3 #7): when the caller supplies the stage's
    input (``input_df`` or a pre-computed ``input_bytes``) and the
    source data is below SMALL_INPUT_BYTES, fall back to the session's
    shuffle-partition granularity — at small inputs the fixed per-task
    cost of 256 pandas-UDF tasks exceeds any balance benefit (measured:
    sf0.1 q_tile_assign 10.9 s at cores×8 vs 6.6 s at cores×2). Unknown
    size keeps scale mode."""
    par = spark.sparkContext.defaultParallelism
    try:
        base = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:
        base = 200
    if input_df is not None or input_bytes is not None:
        if is_small_input(input_df, input_bytes):
            return max(par, base)
    return max(par * 8, base)
