"""JDBC source — reference operator S3 (SURVEY.md §2.1; JDBC.sql:88-90).

The reference bulk-copies SQL Server tables to parquet:
``spark.read.format('jdbc').options(url=…, dbtable=…).load()`` then a
snapshot-path write. That single-options read is a SINGLE-PARTITION pull —
fine for lookup tables, fatal for the 41-table BCP inventory at scale
(BCP.sql:109-150). :func:`jdbc_reader` therefore exposes Spark's parallel
read knobs (partitionColumn/lowerBound/upperBound/numPartitions, or an
explicit predicate list) so a big table lands as N concurrent range scans.

The sandbox ships no RDBMS *server*, but pyspark's own classpath carries
Apache Derby (derby-*.jar — it backs Spark's default Hive metastore), so
:func:`embedded_derby_url` provides a REAL in-process JDBC endpoint: the
write→partitioned-read round trip is exercised end-to-end against it
(plans/formats.jdbc_partitioned_ingest), while production swaps the URL
for a real server and nothing else changes. The option-assembly logic is
additionally unit-tested directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def jdbc_options(
    url: str,
    dbtable: str,
    user: str | None = None,
    password: str | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetchsize: int = 10_000,
    **extra: str,
) -> dict[str, str]:
    """Assemble the option map (JDBC.sql:88 plus parallelism)."""
    opts: dict[str, str] = {"url": url, "dbtable": dbtable, "fetchsize": str(fetchsize)}
    if user is not None:
        opts["user"] = user
    if password is not None:
        opts["password"] = password
    parallel = (partition_column, lower_bound, upper_bound, num_partitions)
    if any(v is not None for v in parallel):
        if any(v is None for v in parallel):
            raise ValueError(
                "partition_column, lower_bound, upper_bound, num_partitions "
                "must be provided together for a parallel JDBC read"
            )
        opts.update(
            partitionColumn=partition_column,
            lowerBound=str(lower_bound),
            upperBound=str(upper_bound),
            numPartitions=str(num_partitions),
        )
    opts.update({k: str(v) for k, v in extra.items()})
    return opts


#: Derby's embedded driver class — on every pyspark classpath.
DERBY_EMBEDDED_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def embedded_derby_url(spark: SparkSession, db_name: str) -> str:
    """JDBC URL for an EMBEDDED Apache Derby database under this
    application's staging dir.

    Derby runs inside the Spark JVM (no server, no network), which makes
    it the sandbox's genuine JDBC endpoint: ``spark.read/write.jdbc``
    drive the same code paths (driver resolution, dialect type mapping,
    partitioned range scans) they would against SQL Server — the
    reference's source (JDBC.sql:88-90) — so the S3 operator gets an
    end-to-end proof instead of an options unit test. App-scoped path
    (the heartbeat-swept staging dir keyed on applicationId), so
    concurrent sessions get independent databases and a dead session's
    database is reclaimed with its staging.

    Embedded Derby permits ONE booting JVM per database directory —
    exactly the app-scoped layout; a multi-process deployment uses a
    server URL instead.
    """
    import os

    from .parquet import _app_staging_dir

    db_dir = os.path.join(_app_staging_dir(spark), f"derby_{db_name}")
    return f"jdbc:derby:{db_dir};create=true"


def read_jdbc(
    spark: SparkSession, credentials_provider=None, **kwargs
) -> DataFrame:
    """JDBC read with optional credential indirection.

    The reference never embeds SQL Server credentials in the job: it
    fetches them from a secrets manager at run time (JDBC.sql:13,22-26).
    ``credentials_provider`` is the public-knowledge shape of that hook —
    a zero-arg callable returning ``(user, password)``, resolved HERE at
    read time rather than at option-assembly time, so (a) a long-lived
    job picks up rotated credentials on every read, and (b) the secret
    never sits in a plain options dict the caller assembled and might
    log or serialize. Spark's own log/explain redaction
    (``spark.redaction.regex`` matches ``password`` by default) covers
    the handoff to the reader."""
    if credentials_provider is not None:
        if kwargs.get("user") is not None or kwargs.get("password") is not None:
            raise ValueError(
                "pass credentials_provider OR explicit user/password, not both"
            )
        user, password = credentials_provider()
        kwargs = {**kwargs, "user": user, "password": password}
    return spark.read.format("jdbc").options(**jdbc_options(**kwargs)).load()


def jdbc_snapshot_to_parquet(
    spark: SparkSession, path: str, snapshot_dt: str, **kwargs
) -> None:
    """The full JDBC.sql job: pull → stamp snapshot partition → parquet."""
    from .snapshot import stamp_snapshot, write_snapshot

    df = read_jdbc(spark, **kwargs)
    write_snapshot(stamp_snapshot(df, value=snapshot_dt), path)


def replicate_tables(
    spark: SparkSession,
    manifest: list[dict],
    dest_root: str,
    snapshot_dt: str,
    reader=None,
    max_concurrency: int = 1,
) -> list[dict]:
    """The reference's ACTUAL replication workflow, made a driver instead
    of a comment graveyard: JDBC.sql:29-86 is ~15 copies of the same
    read→write block, commented in and out one table per run, and
    BCP.sql:109-150 inventories 41 source tables — one hand-edited job
    per table, and one bad table aborts the run. This iterates a table
    manifest with PER-TABLE error isolation: each entry is pulled,
    snapshot-stamped, and landed under ``dest_root/<name>/``; a failing
    table is recorded and the remaining tables still land.

    ``manifest`` entries: ``{"table": str, ...reader kwargs...}`` with an
    optional ``"dest"`` overriding the landing subdir (the reference's
    per-table path quirks, e.g. ``accountbasemigration`` for
    ``AccountBase``). ``reader(spark, dbtable=..., **kwargs) -> DataFrame``
    defaults to :func:`read_jdbc`; tests inject a parquet-backed stand-in,
    the same injection seam the REST source uses for its fetcher.

    Returns one report dict per entry (manifest order): ``{"table",
    "dest", "status", "error"}`` — the driver-side control loop is
    O(#tables), never O(rows); all row movement stays in Spark jobs.

    ``max_concurrency > 1`` submits up to that many per-table jobs from a
    bounded thread pool: the 41-table inventory is embarrassingly
    parallel, Spark's scheduler interleaves concurrent actions across the
    cluster fairly, and a mostly-idle source connection per table is the
    JDBC norm. Each entry may carry the parallel-read knobs
    (``partition_column``/``lower_bound``/``upper_bound``/
    ``num_partitions``, see :func:`jdbc_options`), so a big table is N
    range scans while small ones stream alongside it.
    """
    import os

    from .snapshot import stamp_snapshot, write_snapshot

    read = reader if reader is not None else read_jdbc

    def _one(spec) -> dict:
        # resolve INSIDE the try: a malformed entry (missing "table",
        # or not a mapping at all — None/str from a hand-edited
        # manifest) is itself a per-table error, never a run abort
        table = spec.get("table") if isinstance(spec, dict) else None
        dest = None
        try:
            spec = dict(spec)
            table = spec.pop("table")
            dest = os.path.join(dest_root, spec.pop("dest", table))
            df = read(spark, dbtable=table, **spec)
            write_snapshot(stamp_snapshot(df, value=snapshot_dt), dest)
            return {"table": table, "dest": dest, "status": "ok", "error": None}
        except Exception as exc:  # noqa: BLE001 — isolation is the point
            msg = str(exc)
            # JDBC driver exceptions routinely echo the connection
            # properties; the report is FOR logging, so scrub any
            # manifest-embedded secret before it leaves this function
            # (provider-resolved credentials never touch the spec at all)
            if isinstance(spec, dict):
                from urllib.parse import quote, quote_plus

                import re as _re

                pw = spec.get("password")
                if pw:
                    # drivers echo credentials verbatim, URL-encoded, or
                    # embedded in a connection URL — scrub every form,
                    # longest-first so a quoted form is not half-eaten by
                    # its raw substring. Case rules: ENCODED variants
                    # match case-insensitively as a whole (a normalizer
                    # may emit %2f where urllib's quote emits %2F); the
                    # raw form stays case-sensitive in its LETTERS (so
                    # unrelated case variants in prose are not garbled)
                    # but any %xx hex pair INSIDE a raw password still
                    # matches either hex case — RFC 3986 normalizers
                    # uppercase percent-encodings, so a driver may echo
                    # 'secret%2fpath' back as 'secret%2Fpath' and both
                    # must scrub.
                    raw = str(pw)

                    def _raw_pattern(s: str) -> str:
                        out, i = [], 0
                        while i < len(s):
                            if s[i] == "%" and _re.fullmatch(
                                r"[0-9A-Fa-f]{2}", s[i + 1 : i + 3]
                            ):
                                out.append("%")
                                for h in s[i + 1 : i + 3]:
                                    out.append(
                                        f"[{h.lower()}{h.upper()}]"
                                        if h.isalpha()
                                        else h
                                    )
                                i += 3
                            else:
                                out.append(_re.escape(s[i]))
                                i += 1
                        return "".join(out)

                    encoded = {quote(raw, safe=""), quote_plus(raw)} - {raw}
                    forms = [(raw, _raw_pattern(raw), 0)] + [
                        (f, _re.escape(f), _re.IGNORECASE) for f in encoded
                    ]
                    for _f, pattern, flags in sorted(
                        forms, key=lambda t: len(t[0]), reverse=True
                    ):
                        msg = _re.sub(pattern, "***redacted***", msg, flags=flags)
                user = spec.get("user")
                if user:
                    # the username is secret-adjacent, but a blanket
                    # substring replace garbles diagnostics for short
                    # names ('sa' in 'transaction', 'root' in 'root
                    # cause') — scrub only credential-shaped contexts:
                    # the user:pass@host URL form and property echoes.
                    # (?<![\w.-]) instead of \b so usernames that start
                    # or end with non-word characters ('svc$') anchor too
                    u = _re.escape(str(user))
                    msg = _re.sub(
                        rf"(?<![\w.-]){u}(?=:[^\s@/]*@)",
                        "***redacted-user***",
                        msg,
                    )
                    msg = _re.sub(
                        rf"\b(user=){u}(?![\w.-])",
                        r"\1***redacted-user***",
                        msg,
                    )
            return {"table": table, "dest": dest, "status": "error", "error": msg}

    if max_concurrency <= 1:
        return [_one(spec) for spec in manifest]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=max_concurrency) as pool:
        return list(pool.map(_one, manifest))
