"""SparkSession factory and runtime tuning.

The reference job's only non-default conf is ``spark.sql.crossJoin.enabled``
(FULL.py:39, needed for its OR-condition joins). Our engine adds the
scale-minded defaults the reference leaves on the table (SURVEY.md §4):
AQE with partition coalescing and skew-join handling, a shuffle-partition
count matched to the cluster, and UTC session time so results are
deterministic across environments.
"""

from __future__ import annotations

import os
import urllib.parse

from pyspark.sql import SparkSession

# Confs that are safe to (re)apply on a live session — used both when we
# build the session ourselves and when the driver hands us one.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Reference sets this for its disjunctive (OR) theta joins, FULL.py:39.
    "spark.sql.crossJoin.enabled": "true",
    # Spark default 200 is wrong for local[32] and tiny for a real cluster;
    # at deploy time this should be ~2-3x total cores. AQE coalesces down.
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
}


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs to an existing session (idempotent).

    Called at the top of every public query/pipeline entry point so behavior
    is identical whether the session came from :func:`get_spark` or from the
    driver harness.
    """
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:  # conf not settable at runtime on this build — skip
            pass
    return spark


def get_spark(app_name: str = "glue_job_to_write_structured_data_on_s3_full_code_spark") -> SparkSession:
    """Build (or fetch) a local session sized from the environment.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (driver runs bench with
    local[$SPARK_GRAFT_CPUS]); in cluster deployments the master/memory come
    from spark-submit and these builder calls are inert.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)


def _size_conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """Parse a Spark byte-size conf ("4194304", "4m", "128MB", ...)."""
    raw = str(spark.conf.get(key, str(default))).strip().lower()
    mult = 1
    for suffix, m in (
        ("kb", 1 << 10), ("mb", 1 << 20), ("gb", 1 << 30), ("tb", 1 << 40),
        ("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30), ("t", 1 << 40),
        ("b", 1),
    ):
        if raw.endswith(suffix):
            raw, mult = raw[: -len(suffix)], m
            break
    try:
        return int(float(raw) * mult)
    except ValueError:
        return default


def spread_small_input(df):
    """Round-robin repartition to ``defaultParallelism`` ONLY when the
    input scan cannot reach that parallelism on its own (r15, guide
    §2.4/§2.5; probe cheapened r16).

    The CPU-heavy map-side operators (tokenize/shingle/hash, PNG codec,
    IVF assignment) used an unconditional ``repartition(par)`` so a small
    single-file fixture doesn't run single-threaded — but an unconditional
    round-robin repartition is a FULL PAYLOAD SHUFFLE at 100 TB, where the
    partitioned scan already provides the parallelism.

    The r15 probe read ``df.rdd.getNumPartitions()``, which forces a full
    analysis + physical-planning pass and an RDD conversion per call —
    and, with AQE on, FINALIZES the adaptive plan, i.e. actually executes
    any shuffle stages in ``df`` at plan-construction time (the r15
    advisor's hazard). r16 decides from the INPUT FILES instead:
    ``df.inputFiles()`` is a single analysis/optimizer-only call (no
    physical planning, no job), and Spark's own split packing can never
    produce ``par`` scan partitions when the charged input size
    (Σ file sizes + one ``openCostInBytes`` per file) is below
    ``openCostInBytes × par`` — maxSplitBytes floors at the open cost
    (FilePartition packing), so that is exactly the "scan comes up short,
    spread it" regime. Bigger inputs split to ≥ ~minPartitionNum
    (defaults to ``defaultParallelism``) partitions by Spark itself and
    pass through untouched.

    ``inputFiles()`` returns URIs, so a ``file:`` path is percent-decoded
    before the stat (a directory named ``my data`` arrives as
    ``my%20data``). Non-local schemes (can't stat) pass through:
    spreading is a small-local-fixture knob, and an unknown-size
    production input must never be round-robin-shuffled on a guess.
    Inputs with no files at all (localCheckpoint blocks, createDataFrame
    test frames) keep the physical probe — their plans are trivial to
    plan, and callers there control the partitioning directly. Callers
    passing a NON-file, NON-trivial plan (one containing its own
    exchanges) should partition explicitly rather than rely on this
    helper.
    """
    spark = df.sparkSession
    par = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if files:
        open_cost = _size_conf_bytes(
            spark, "spark.sql.files.openCostInBytes", 4 * 1024 * 1024
        )
        charged = 0
        for uri in files:
            if uri.startswith("file:"):
                path = urllib.parse.unquote(uri[len("file:"):])
            elif "://" in uri.split("/", 1)[0] or ":" in uri.split("/", 1)[0]:
                return df  # non-local scheme — stat impossible, pass through
            else:
                path = uri
            try:
                charged += os.path.getsize(path) + open_cost
            except OSError:
                return df
        if charged < open_cost * par:
            return df.repartition(par)
        return df
    if df.rdd.getNumPartitions() < par:
        return df.repartition(par)
    return df


#: Observers called with ``(df, label)`` immediately BEFORE an eager
#: lineage break executes. Empty in production (zero overhead). The
#: registry-wide plan sweeps (tests/test_plan_quality.py) install one so
#: stages that run at query-CONSTRUCTION time — whose plans vanish from
#: the DataFrame a query returns — are still audited; without this hook a
#: hazardous plan could hide behind any localCheckpoint/checkpoint_stage.
_STAGE_PLAN_OBSERVERS: list = []


def notify_stage_observers(df, label: str) -> None:
    """Report a pre-execution stage plan to any installed observers."""
    for obs in _STAGE_PLAN_OBSERVERS:
        obs(df, label)


def eager_checkpoint(df, label: str = "eager_checkpoint"):
    """``localCheckpoint(eager=True)`` with a test-observable plan.

    EVERY eager lineage break in the engine must funnel through here or
    through the parquet-staging helpers (sources/parquet.checkpoint_stage,
    materialize_result) — enforced by a grep-style test — so the plan
    sweeps see eagerly-executed stages. Semantics are identical to the
    raw call: the stage runs now, the caller gets the truncated lineage.

    Guarantee: this RUNS an eager Dataset action over ``df`` before
    returning, so metrics of a ``df.observe(Observation)`` upstream are
    populated and ``Observation.get`` returns at once. Callers rely on
    that (operators/components.py, plans/linkage.py): without an action
    ``Observation.get`` blocks forever. Pinned by tests/test_session.py.
    """
    notify_stage_observers(df, label)
    return df.localCheckpoint(eager=True)
