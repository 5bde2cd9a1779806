"""Parquet catalog-table scans (reference operator S1/S2, SURVEY.md §2.1).

The reference reads Hive/Glue catalog tables with a snapshot-partition
filter (``select * from inbound.tbl where snapshot_dt = '…'``,
FULL.py:205-211) and re-reads staged parquet directly (OUTBOUND.py:228).
Here both collapse to ``spark.read.parquet`` — partition pruning and
filter/column pushdown are Catalyst built-ins once predicates are stated
declaratively (SURVEY.md §4), so scans stay cheap at 100 TB as long as the
caller filters on the partition column before any wide operation.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# The driver's synthetic star schema (TESTDATA.md).
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


def checkpoint_stage(df: DataFrame, path: str) -> DataFrame:
    """Lineage break: write a stage to parquet and read it back (reference
    K2, OUTBOUND.py:227-229 — its 'stage0' write+re-read before document
    assembly).

    Use when a plan grows so deep that Catalyst analysis time or executor
    retry cost dominates (the reference's flagship plan is ~40 operators
    deep, SURVEY.md §4). Unlike ``df.checkpoint()`` the staged parquet is
    a durable, independently queryable artifact — the reference relies on
    that for its validation suite.
    """
    from ..session import notify_stage_observers

    notify_stage_observers(df, f"checkpoint_stage:{path}")
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def table_input_bytes(sf_dir: str, name: str) -> int:
    """On-disk byte size of one table's parquet input — the cheap,
    job-free size probe behind scale-adaptive plan choices (r16: the
    contamination check's join-below/window-above branch). Returns a
    huge sentinel when the size cannot be stat'ed locally (non-file
    scheme, missing path): unknown size must take the SCALE-SAFE branch,
    never the small-input one."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            total = 0
            for root, _dirs, files in os.walk(path):
                for f in files:
                    total += os.path.getsize(os.path.join(root, f))
            return total
    except OSError:
        pass
    return 1 << 62


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one table. Filters applied by the caller push down to the scan.

    ``events.ts`` is parquet TIMESTAMP(NANOS), which Spark's vectorized
    reader rejects outright — read it as raw nanos (legacy conf) and
    convert to a microsecond timestamp (exact integer division; DuckDB
    truncates nanos the same way).
    """
    from pyspark.sql import functions as F

    from ..session import tune

    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # The NTZ→TIMESTAMP cast below is wall-clock-preserving only under
        # a UTC session timezone; pin it here rather than trusting the
        # caller, so an externally supplied, untuned session can't
        # silently shift ts values (same defensiveness as the legacy
        # nanosAsLong conf handling).
        tune(spark)
        key = "spark.sql.legacy.parquet.nanosAsLong"
        prev = spark.conf.get(key, None)
        spark.conf.set(key, "true")
        try:
            df = spark.read.parquet(path)
            ts_type = dict(df.dtypes).get("ts")
            if ts_type == "bigint":
                df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
            elif ts_type == "timestamp_ntz":
                # Micros-precision files read natively as TIMESTAMP_NTZ,
                # which epoch extractors (unix_micros) reject. The session
                # timezone is pinned to UTC (tune above), so casting to
                # TIMESTAMP keeps the wall-clock value bit-for-bit.
                df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            # Force schema resolution while the legacy conf is active; the
            # resolved relation keeps its read schema afterwards.
            df.schema
        finally:
            if prev is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, prev)
        return df
    return spark.read.parquet(path)


def materialize_result(df: DataFrame, name: str) -> DataFrame:
    """Persist a query result to a STABLE per-query path under the Spark
    warehouse dir and read it back.

    For queries whose result is produced under a short-lived working dir
    (streaming sinks, continuous-aggregate stores): the returned DataFrame
    must outlive that dir, and a ``collect()``/``createDataFrame`` round
    trip — the previous shape — funnels the whole result through the
    driver. This keeps the exchange distributed: executors write, the
    caller gets a plain parquet scan. ``mode("overwrite")`` makes the path
    self-cleaning across re-invocations within a session (no per-run
    garbage), and the applicationId path segment keeps two sessions
    sharing a warehouse dir from clobbering each other's staged files
    mid-scan when they run the same query concurrently. Per-appId dirs
    would otherwise accumulate forever (overwrite only cleans within one
    application), so each call sweeps sibling appId dirs whose HEARTBEAT
    file is older than ``_STAGED_TTL_S``. The heartbeat (touched on every
    materialize in the session, not just writes to a given subdir)
    distinguishes write-idle-but-live sessions from dead ones far better
    than directory mtime; a session that makes NO materialize call for a
    full TTL while still holding lazily re-scanned staged frames is
    outside the contract — such callers should copy results out of the
    staging area (or checkpoint_stage to their own path)."""
    from ..session import notify_stage_observers

    notify_stage_observers(df, f"materialize_result:{name}")
    spark = df.sparkSession
    # the heartbeat touch and TTL sweep are os.* calls, so a non-local
    # warehouse refuses loudly (_require_posix_warehouse) instead of
    # writing junk 's3a:' dirs on the driver. checkpoint_stage(df, path)
    # takes an explicit caller path with no os.* bookkeeping and works on
    # any Spark-writable filesystem.
    app_dir = _app_staging_dir(spark)
    _sweep_stale_staging(os.path.dirname(app_dir), keep=os.path.basename(app_dir))
    path = os.path.join(app_dir, name)
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


class UnsupportedIndexFilesystem(RuntimeError):
    """A driver-local staging path (or the generational index's default
    pointer store) was pointed at a filesystem the ``os.*`` code behind
    it cannot honor. Heartbeats, the TTL sweep and
    :class:`~..operators.index_store.LocalPointerStore`'s exactly-once
    pointer create are POSIX primitives (atomic same-directory
    ``rename(2)``/``link(2)`` and exclusive create); object stores
    (s3/s3a/gs/abfs/...) have neither, and ``os.path.join`` would
    silently treat ``s3a://bucket/...`` as a relative local directory.
    Refusing loudly beats that. Object-store deployments of the index
    inject a conditional-PUT pointer store and pass ``root=`` (see
    operators/index_store.py)."""


def _require_posix_warehouse(
    uri: str, what: str = "spark.sql.warehouse.dir"
) -> str:
    """Enforce the local-filesystem contract at the single chokepoint
    every driver-side ``os.*`` path resolves through. Accepts local paths
    (no scheme) and ``file:`` URIs, returning the plain OS path; raises
    :class:`UnsupportedIndexFilesystem` for any other scheme. ``what``
    names the offending setting in the error (the generational index
    routes its explicit ``root=`` through here too)."""
    import re

    # URI-vs-path classification, done by SYNTAX rather than urlsplit's
    # permissive parse: a plain local path may legally contain a colon in
    # a segment ('runs:2026/idx' — not a URI: what follows the colon is
    # not a path-absolute or authority part; 'data/v1:/idx' and
    # '2026:/idx' — not URIs either: the head is not a legal RFC 3986
    # scheme), while Hadoop URIs appear both as scheme://authority/path
    # AND the single-slash scheme:/path form ('hdfs:/user/hive/warehouse'
    # is common) — BOTH must classify as URIs or a non-file scheme slips
    # past the refusal and state splits brain: os.* state under a local
    # dir literally named 'hdfs:', Spark data on the real filesystem.
    if os.path.isabs(uri):
        return uri  # absolute local path, colons in segments and all
    head, sep, rest = uri.partition(":")
    if not sep or not re.fullmatch(r"[A-Za-z][A-Za-z0-9+.\-]*", head):
        # no colon, or the head cannot be a URI scheme (must be a letter
        # followed by letters/digits/+/-/.) — a local path either way
        return uri
    scheme = head.lower()
    if scheme == "file":
        # normalize EVERY file: form to the plain OS path Hadoop would
        # resolve it to, keeping the path VERBATIM ('#'/'?' are legal in
        # filenames; no URL fragment/query truncation): file://host/path
        # drops the (local-or-meaningless) authority, file:/abs stays
        # absolute, and file:rel is relative to the working directory —
        # the same base the os.* layer resolves 'rel' against
        if rest.startswith("//"):
            after = rest[2:]
            slash = after.find("/")
            return after[slash:] if slash >= 0 else "/"
        if not rest:
            # bare 'file:' — returning '' would make downstream
            # os.path.join silently resolve to the CURRENT WORKING
            # DIRECTORY, a surprise location for durable state
            raise ValueError(
                f"{what} is the bare URI 'file:' with no path — give an "
                f"explicit location ('file:/abs/path' or a plain path)"
            )
        return rest
    if not rest.startswith("/"):
        # scheme-shaped head but the remainder is not a URI path — a
        # relative local name like 'runs:2026/idx'
        return uri
    raise UnsupportedIndexFilesystem(
        f"driver-local staging requires a POSIX filesystem (atomic rename "
        f"+ exclusive create) but {what} is '{uri}' (scheme '{scheme}'). "
        f"Point the warehouse at a local/NFS path; a generational index "
        f"on an object store takes an explicit root= plus an injected "
        f"conditional-PUT pointer store (COVERAGE.md 'Stored IVF index: "
        f"durability & operations runbook')."
    )


def _app_staging_dir(spark: SparkSession) -> str:
    """``<warehouse>/_staged_results/<applicationId>``: this application's
    heartbeat-swept staging dir (staged query results, default
    generational-index roots, embedded Derby databases). Touching it
    renews the heartbeat, so a dead session's staging is reclaimed, never
    served, and two sessions sharing a warehouse never collide. Refuses
    non-POSIX warehouse schemes (see :func:`_require_posix_warehouse`)."""
    warehouse = _require_posix_warehouse(
        spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    )
    app_dir = os.path.join(
        warehouse, "_staged_results", spark.sparkContext.applicationId
    )
    _touch_heartbeat(app_dir)
    return app_dir


_STAGED_TTL_S = 24 * 3600  # staging whose heartbeat is this stale is dead
_HEARTBEAT = "_heartbeat"


def _touch_heartbeat(app_dir: str) -> None:
    """Stamp liveness for this appId's staging dir. Touched on EVERY
    materialize call, so any session activity (not just a write landing
    in one particular subdir) renews the whole dir's lease."""
    os.makedirs(app_dir, exist_ok=True)
    with open(os.path.join(app_dir, _HEARTBEAT), "w") as fh:
        fh.write("")


def _sweep_stale_staging(staged_root: str, keep: str) -> None:
    """Delete sibling appId staging dirs whose heartbeat is past the TTL.
    Dirs from builds that predate the heartbeat fall back to dir mtime.
    Local-fs only (the sandbox case); on an object store, lifecycle rules
    on the staging prefix do this job. Best-effort: races with a
    concurrent sweeper just mean the loser's rmtree finds nothing.
    Every reclaim is logged with the dir name and heartbeat age so a
    wrongly-reclaimed live session (one that held staged frames but made
    no materialize call for a full TTL — outside the contract, but
    possible) leaves a diagnosable trace next to its FileNotFound."""
    import logging
    import shutil
    import time

    try:
        entries = os.listdir(staged_root)
    except OSError:
        return
    now = time.time()
    cutoff = now - _STAGED_TTL_S
    for entry in entries:
        p = os.path.join(staged_root, entry)
        try:
            if entry == keep or not os.path.isdir(p):
                continue
            beat = os.path.join(p, _HEARTBEAT)
            stamp = os.path.getmtime(beat if os.path.exists(beat) else p)
            if stamp < cutoff:
                logging.getLogger(__name__).warning(
                    "reclaiming stale staging dir %s (heartbeat %.0fs old, "
                    "TTL %ds) — if that session is still live, its staged "
                    "frames will now fail to re-scan",
                    p,
                    now - stamp,
                    _STAGED_TTL_S,
                )
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            continue


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    return {n: read_table(spark, sf_dir, n) for n in names}


def register_views(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TABLES
) -> dict[str, DataFrame]:
    """Load tables and register each as a temp view (reference pattern D4:
    every intermediate becomes a view so SQL and DataFrame code interleave,
    FULL.py:219 and ~25 siblings)."""
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
