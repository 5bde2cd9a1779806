"""Generational stored-IVF index — the engine's one stored ANN index.

The cell-partitioned IVF layout of :func:`.similarity.ivf_topk`, written
once and served many times, with a commit protocol that holds on any
filesystem Spark can reach (local, HDFS, S3/GCS/ABFS through the Hadoop
connectors): nothing is ever renamed, locked, or modified in place.

- **Immutable generations.** Every mutation writes a COMPLETE new
  generation under a never-reused prefix ``gen-<hex>/`` (cell parquet +
  centroids + manifest). Published data is never renamed, moved, or
  modified — there are no asides, staged moves, or torn metadata files
  for a crash to leave behind.
- **Sequenced-pointer commit.** The live generation is named by the
  highest-sequence pointer object ``ptr/LATEST.<seq>``. Commit = create
  the NEXT sequence exactly-once; the create either happens (commit) or
  fails because another writer took the sequence (lose the race, rebase,
  retry). On S3 this is a ``PUT`` with ``If-None-Match: *`` (conditional
  writes, GA since 2024); the local :class:`LocalPointerStore` emulates
  the same create-exactly-once semantics with ``os.link`` — one atomic
  metadata op, so there is NO crash window: crash before the link means
  no commit, crash after means a complete commit. Nothing to repair,
  no lock to break.
- **Manifest-pruned probes.** Each generation's ``manifest.json`` maps
  cell id → parquet file list (an append's manifest REFERENCES the
  parent generation's untouched files, so appends stay O(|batch|)).
  Probes read exactly the probed cells' files — manifest pruning
  replaces directory listing + dynamic partition pruning, which also
  removes the listing-consistency assumption.
- **GC instead of repair.** A crash leaves at worst an unpointed
  generation prefix; :func:`gen_index_gc` deletes whatever no surviving
  pointer's manifest references (behind an age horizon for in-flight
  readers). There are no damage classes to classify.
- **Multi-writer appends.** Losing the pointer race triggers a REBASE:
  the staged generation's manifest is recomposed against the new latest
  (files are immutable, so only the manifest and the XOR-composed
  fingerprint change) and the commit retries at the next sequence:
  optimistic concurrency instead of a single-writer lock.
- **History for free.** Because every pointer names a full immutable
  snapshot, retained sequences are directly servable:
  :func:`gen_index_probe` ``as_of_seq=`` time-travels to a past commit
  (reproduce a prior build's shortlist) and :func:`gen_index_diff`
  explains any two commits' physical delta from manifests alone — both
  at O(1) pointer-read cost, with GC's ``keep_pointers`` window as the
  retention lease.

Deployability: pointer CAS resolves through the :func:`_store_for`
seam (``store=`` on every public function; the local default refuses
object-store roots, an injected conditional-PUT store lifts the
refusal), and ALL data-object I/O (manifests, listings, deletes,
mtimes) goes through :class:`_HadoopFS` — Spark's own Hadoop
FileSystem connectors — so any scheme the cluster can read
(``file:``, ``s3a:``, ``gs:``, ``abfss:``) serves the whole lifecycle
(pinned end-to-end over a URI root by test).

Semantics (centroid rule, assignment tie-breaks, cosine rounding, rank
ordering) are IDENTICAL to :func:`.similarity.ivf_topk` — pinned by a
row-identity test and by the DuckDB oracles of the registered queries
in plans/gen_serving.py. Reference parity: this serves the same "write
structured data to S3, query it back" north star as the reference's S3
parquet snapshots (FULL.py:72, JDBC.sql:90); the commit design is the
Iceberg/Delta-style metadata-pointer pattern, public knowledge.
"""

from __future__ import annotations

import json
import os
import uuid
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import spread_small_input
from ..sources.parquet import _app_staging_dir, _require_posix_warehouse
from .similarity import (
    _as_double_name,
    _cosine_pre,
    _ivf_assign,
    _ivf_centroids,
    _norm_col,
)

__all__ = [
    "CommitConflict",
    "LocalPointerStore",
    "InMemoryPointerStore",
    "S3PointerStore",
    "gen_index_build",
    "gen_index_built",
    "gen_index_head",
    "gen_index_append",
    "gen_index_cell_skew",
    "gen_index_probe",
    "gen_index_rebalance",
    "gen_index_verify",
    "gen_index_gc",
    "gen_index_compact",
]


def _corpus_fingerprint(df: DataFrame, id_col: str) -> dict:
    """Order-independent corpus identity: row count + bit_xor of 64-bit id
    hashes. One column-pruned scan, one single-row collect. XOR composes
    under append (fp(A ∪ B).id_xor == fp(A).id_xor ^ fp(B).id_xor), which
    is what lets :func:`gen_index_append` advance the committed
    fingerprint without rescanning the index."""
    row = df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.expr(f"bit_xor(xxhash64({id_col}))").alias("id_xor"),
    ).collect()[0]
    return {"rows": int(row["rows"]), "id_xor": int(row["id_xor"] or 0)}


def _fp_core(fp: dict) -> dict:
    """The corpus-identity projection of a fingerprint. Pointer payloads
    and manifests may carry bookkeeping beyond identity; probes compare
    identity only."""
    return {"rows": fp["rows"], "id_xor": fp["id_xor"]}


class CommitConflict(RuntimeError):
    """The pointer CAS lost ``max_retries`` races in a row. The staged
    generation was deleted (it is unpointed garbage either way — GC
    would sweep it); retry the mutation. Seeing this at all means many
    writers are racing one index — consider batching their inputs."""


#: Probe shortlists (nprobe × |queries| rows of id + vector) up to this
#: size get an explicit broadcast hint — comfortably driver-safe for
#: serving traffic; beyond it (corpus-sized recall sweeps) AQE chooses
#: from measured sizes so the probe degrades to a shuffled join rather
#: than a driver-built broadcast blowup. BOTH caps must hold: rows
#: bound the join hash table, bytes bound the driver-collected vector
#: payload (row count alone would wave through ~6 GB of 768-dim
#: doubles at 900k rows).
_BROADCAST_SHORTLIST_ROWS = 1_000_000
_BROADCAST_SHORTLIST_BYTES = 128 << 20  # 128 MB of estimated payload


class LocalPointerStore:
    """Create-exactly-once pointer objects on a local filesystem.

    The contract every implementation must honor (and the ONLY
    store-specific primitive the generational index needs):

    - ``read_latest() -> (seq, payload) | (None, None)`` — highest
      sequence wins; a reader never sees a torn payload.
    - ``try_commit(seq, payload) -> bool`` — publish ``payload`` at
      exactly sequence ``seq``; at most ONE concurrent caller per
      sequence returns True. Atomic: a crashed caller either committed
      or didn't.
    - ``read_at(seq) -> payload | None`` — the pointer at EXACTLY that
      integer sequence, one targeted read (no listing); ``None`` for a
      never-committed or garbage-collected sequence. Serves
      ``gen_index_probe(as_of_seq=...)`` time-travel reads.

    Local emulation: payload is written to a private temp file, then
    ``os.link(temp, ptr/LATEST.<seq>)`` — link(2) is one atomic
    metadata op that fails with EEXIST if the sequence is taken, and
    readers only ever see the fully-written inode. An S3 implementation
    is ``PUT ptr/LATEST.<seq>`` with ``If-None-Match: *`` (conditional
    write): same exactly-once create, same atomic-visibility guarantee,
    no lock object anywhere. Listing ``ptr/`` to find the max sequence
    relies on strongly consistent listing, which S3 has provided since
    2020.
    """

    def __init__(self, root: str):
        self._dir = os.path.join(root, "ptr")
        os.makedirs(self._dir, exist_ok=True)

    def _seq_of(self, fname: str) -> int | None:
        if not fname.startswith("LATEST."):
            return None
        try:
            return int(fname.split(".", 1)[1])
        except ValueError:
            return None

    #: list/open race retries in read_latest — a concurrent GC resolves in
    #: one re-list (it keeps newer sequences); only an external process
    #: deleting LIVE pointers could exhaust this, and that should raise,
    #: not spin. Same bound the S3 backend applies via max_attempts.
    _MAX_READ_RACES = 8

    def read_latest(self) -> tuple[int | None, dict | None]:
        for _ in range(self._MAX_READ_RACES):
            best: tuple[int, str] | None = None
            for fname in os.listdir(self._dir):
                seq = self._seq_of(fname)
                if seq is not None and (best is None or seq > best[0]):
                    best = (seq, fname)
            if best is None:
                return None, None
            try:
                with open(os.path.join(self._dir, best[1])) as fh:
                    return best[0], json.load(fh)
            except FileNotFoundError:
                # a concurrent GC dropped the listed pointer between the
                # listdir and the open (its keep_pointers window moved) —
                # re-list, same tolerance pointers() already has
                continue
        raise RuntimeError(
            f"read_latest of {self._dir} unresolved after "
            f"{self._MAX_READ_RACES} list/open races — the newest pointer "
            f"keeps vanishing between listing and read; an external "
            f"process is deleting live pointers (GC only ever removes "
            f"superseded sequences)"
        )

    def read_at(self, seq: int) -> dict | None:
        """The pointer at EXACTLY ``seq`` — one targeted read, no
        listing. ``None`` if that sequence was never committed or was
        garbage-collected (historical reads are valid only within GC's
        ``keep_pointers`` retention window — the same supersession-lease
        contract live probes ride)."""
        try:
            with open(os.path.join(self._dir, f"LATEST.{seq}")) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def try_commit(self, seq: int, payload: dict) -> bool:
        tmp = os.path.join(self._dir, f".tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump(payload, fh)
        try:
            os.link(tmp, os.path.join(self._dir, f"LATEST.{seq}"))
            return True
        except FileExistsError:
            return False
        finally:
            os.unlink(tmp)

    def pointers(self) -> list[tuple[int, dict]]:
        """All pointers, ascending sequence (GC's reachability input).
        Tolerates a concurrent GC unlinking an entry between the listing
        and the read — the pointer is simply gone, not an error."""
        out = []
        for fname in sorted(os.listdir(self._dir)):
            seq = self._seq_of(fname)
            if seq is None:
                continue
            try:
                with open(os.path.join(self._dir, fname)) as fh:
                    out.append((seq, json.load(fh)))
            except FileNotFoundError:
                continue
        return sorted(out)

    def oldest_pointer_mtime(self) -> float | None:
        """mtime of the OLDEST surviving pointer — GC's supersession
        bound (see :func:`gen_index_gc`): any generation unreachable
        from the surviving pointers was superseded no later than the
        moment the oldest survivor committed."""
        times = []
        for fname in os.listdir(self._dir):
            if self._seq_of(fname) is None:
                continue
            try:
                times.append(os.path.getmtime(os.path.join(self._dir, fname)))
            except FileNotFoundError:
                continue
        return min(times) if times else None

    def sweep_tmp(self, min_age_s: float) -> int:
        """Delete leaked ``.tmp.*`` payload files (a writer killed
        between writing the temp and linking it leaves one behind;
        nothing else ever deletes them). Age-guarded so an in-flight
        try_commit's temp survives."""
        import time

        now = time.time()
        n = 0
        for fname in os.listdir(self._dir):
            if not fname.startswith(".tmp."):
                continue
            p = os.path.join(self._dir, fname)
            try:
                if now - os.path.getmtime(p) >= min_age_s:
                    os.unlink(p)
                    n += 1
            except FileNotFoundError:
                continue
        return n

    def drop(self, seq: int) -> None:
        try:
            os.unlink(os.path.join(self._dir, f"LATEST.{seq}"))
        except FileNotFoundError:
            pass


class _AmbiguousPutResponse(RuntimeError):
    """The store accepted the write but the RESPONSE was lost — the
    object-store failure mode (S3 5xx/timeout after a conditional PUT
    may mean either outcome). Internal to :class:`InMemoryPointerStore`'s
    fault injection; a real client never sees it escape try_commit."""


class InMemoryPointerStore:
    """The documented S3 conditional-PUT backend, emulated in memory —
    the drop-in seam's second implementation and its fault harness.

    Honors exactly the :class:`LocalPointerStore` contract (read_latest /
    try_commit / pointers / oldest_pointer_mtime / sweep_tmp / drop) but
    over a key→object map whose only write primitive is
    ``_put_if_absent`` — a ``PUT ptr/LATEST.<seq>`` with
    ``If-None-Match: *``: at most one concurrent caller per sequence
    succeeds, and a reader never sees a torn body. Two injectable
    object-store faults:

    - :meth:`inject_race` — a hook fired inside the next try_commit
      BEFORE its conditional PUT, so a competing commit can take the
      sequence in the widest possible window (listing said free, PUT
      finds taken). The caller must lose cleanly and rebase/retry.
    - :meth:`inject_lost_responses` — the next N conditional PUTs LAND
      but their responses are lost (S3 ambiguous 5xx). try_commit
      disambiguates by read-back: each attempt's payload names a
      freshly minted ``gen-<uuid>`` so body equality means "that was my
      PUT" — commit reports True exactly once, never double-commits,
      never falsely loses. This is the retry contract a real S3 client
      must implement around HTTP, here made testable.

    Single-process by nature (it IS memory); the cross-process CAS
    guarantee is the local store's department
    (test_pointer_cas_exactly_once_across_processes).
    """

    def __init__(self):
        import threading
        import time as _time

        self._time = _time
        self._lock = threading.Lock()
        self._objects: dict[int, str] = {}
        self._mtimes: dict[int, float] = {}
        self._lost_responses = 0
        self._pre_put_hooks: list = []

    # --- fault injection (tests only; no-ops unless armed) -------------
    def inject_race(self, hook) -> None:
        """Arm ``hook(store, seq)`` to run inside the next try_commit,
        after the caller chose ``seq`` but before its conditional PUT."""
        self._pre_put_hooks.append(hook)

    def inject_lost_responses(self, n: int = 1) -> None:
        """The next ``n`` successful conditional PUTs raise an ambiguous
        error AFTER persisting — the write landed, the response didn't."""
        self._lost_responses += n

    # --- the raw store primitive ---------------------------------------
    def _put_if_absent(self, seq: int, body: str) -> bool:
        with self._lock:
            if seq in self._objects:
                return False  # 412 Precondition Failed
            self._objects[seq] = body
            self._mtimes[seq] = self._time.time()
            if self._lost_responses > 0:
                self._lost_responses -= 1
                raise _AmbiguousPutResponse(
                    f"response for PUT LATEST.{seq} lost after the write"
                )
            return True

    # --- the PointerStore contract --------------------------------------
    def read_latest(self) -> tuple[int | None, dict | None]:
        with self._lock:
            if not self._objects:
                return None, None
            seq = max(self._objects)
            return seq, json.loads(self._objects[seq])

    def read_at(self, seq: int) -> dict | None:
        # type-gated lookup so the backends stay observationally equal:
        # Local/S3 format the key ('LATEST.2.0'/'LATEST.True' → absent)
        # while a bare dict .get would let 2.0/True hit int keys by
        # value-equality. Non-bool int SUBCLASSES (IntEnum) stay
        # accepted — they format as their numeric value everywhere.
        ok = isinstance(seq, int) and not isinstance(seq, bool)
        with self._lock:
            body = self._objects.get(int(seq)) if ok else None
        return json.loads(body) if body is not None else None

    def try_commit(self, seq: int, payload: dict) -> bool:
        while self._pre_put_hooks:
            self._pre_put_hooks.pop(0)(self, seq)
        body = json.dumps(payload)
        try:
            return self._put_if_absent(seq, body)
        except _AmbiguousPutResponse:
            # the PUT may or may not have landed; the retry would see 412
            # either way, so read back and compare — payload bodies are
            # writer-unique (each attempt stages a fresh gen-<uuid>)
            with self._lock:
                return self._objects.get(seq) == body

    def pointers(self) -> list[tuple[int, dict]]:
        with self._lock:
            return [
                (seq, json.loads(self._objects[seq]))
                for seq in sorted(self._objects)
            ]

    def oldest_pointer_mtime(self) -> float | None:
        with self._lock:
            return min(self._mtimes.values()) if self._mtimes else None

    def sweep_tmp(self, min_age_s: float) -> int:
        return 0  # conditional PUT leaves no temp objects to leak

    def drop(self, seq: int) -> None:
        with self._lock:
            self._objects.pop(seq, None)
            self._mtimes.pop(seq, None)


class S3PointerStore:
    """The documented S3 conditional-PUT pointer backend, as real code.

    Maps the pointer contract (see :class:`LocalPointerStore`) onto the
    S3 API exactly as COVERAGE.md's recipe states — all public
    knowledge (conditional writes GA Nov 2024, strongly consistent
    listing since Dec 2020):

    - ``try_commit(seq, payload)`` = ``PutObject <prefix>ptr/LATEST.<seq>``
      with ``If-None-Match: *``. 200 → True. EVERY 412 read-backs
      before reporting a loss: the taken sequence may be a
      competitor's object OR our own PUT whose success we never saw —
      an ambiguous 5xx, or a client-layer transparent retry that
      swallowed the 200 and surfaced only the follow-up 412 (botocore
      retries PutObject on 5xx by default, which is why the default
      client is built with retries disabled; an injected client with
      retries on is still safe for exactly this reason). Bodies are
      writer-unique — every commit attempt stages a fresh
      ``gen-<uuid>`` — so body equality means mine (True) and anything
      else means a clean loss (False): True exactly once, never a
      double commit, never a false loss. Ambiguous failures (5xx /
      connection-shaped) read back the same way, retrying the PUT if
      nothing landed. 409 ``ConditionalRequestConflict`` (a concurrent
      conditional write in flight) → backoff and retry the PUT.
    - ``read_latest`` / ``pointers`` = paginated
      ``ListObjectsV2(Prefix='…ptr/LATEST.')`` + GetObject, re-listing
      on a 404 race with GC — the same tolerance the local store has.
    - ``oldest_pointer_mtime`` = min ``LastModified`` from the listing;
      ``drop`` = DeleteObject (idempotent, like S3 itself);
      ``sweep_tmp`` = 0 (a conditional PUT stages no temp objects).

    ``client`` is any boto3-shaped S3 client (``put_object`` /
    ``get_object`` / ``delete_object`` / ``get_paginator``). The
    default builds ``boto3.client('s3')`` lazily so the module keeps
    zero hard AWS dependencies; tests drive the class through an
    in-memory fake that injects 412 races inside the PUT window, 409
    conflicts, and landed-but-lost responses, and the same bisimulation
    harness that pins Local↔InMemory holds this class to lockstep
    observational equality with both.

    Pair with the data side by passing the matching ``s3a://`` URI as
    ``root=`` — manifests/listings go through :class:`_HadoopFS`, row
    data through Spark parquet jobs, pointer CAS through this store.
    """

    #: error codes S3 uses for retryable server trouble even when the
    #: HTTP status is not parsed out of the response
    _RETRYABLE_CODES = frozenset(
        {"SlowDown", "RequestTimeout", "InternalError", "ServiceUnavailable"}
    )

    def __init__(
        self,
        bucket: str,
        prefix: str = "",
        *,
        client=None,
        max_attempts: int = 8,
        sleep=None,
    ):
        import time

        self._bucket = bucket
        prefix = prefix.strip("/")
        self._pfx = f"{prefix}/ptr/" if prefix else "ptr/"
        if client is None:  # lazy: no boto3 import unless actually deployed
            import boto3
            from botocore.config import Config

            # retries OURS to own: botocore's transparent PutObject
            # retry would turn a landed-but-5xx conditional PUT into a
            # first-visible 412 before this class ever saw the
            # ambiguity — try_commit's read-back covers that too, but
            # double retry layers multiply worst-case latency
            client = boto3.client(
                "s3", config=Config(retries={"max_attempts": 1})
            )
        self._c = client
        self._max_attempts = max_attempts
        self._sleep = sleep if sleep is not None else time.sleep

    @classmethod
    def from_uri(cls, uri: str, **kw) -> "S3PointerStore":
        """``s3://bucket/path/to/index`` (or the Hadoop scheme aliases
        ``s3a``/``s3n`` of the same store) → ``S3PointerStore(bucket,
        path)`` — so the pointer store can be built from the very URI
        passed as the lifecycle's ``root=``."""
        from urllib.parse import urlsplit

        parts = urlsplit(uri)
        if parts.scheme not in ("s3", "s3a", "s3n"):
            raise ValueError(f"not an S3 URI: {uri!r}")
        if not parts.netloc:
            raise ValueError(f"S3 URI has no bucket: {uri!r}")
        return cls(parts.netloc, parts.path.lstrip("/"), **kw)

    # --- error taxonomy ---------------------------------------------------
    @classmethod
    def _classify(cls, exc: Exception) -> str:
        """'taken' (412) | 'conflict' (409) | 'missing' (404) |
        'ambiguous' (the write may have landed: 5xx or a
        connection-shaped failure). Anything else — auth errors,
        NoSuchBucket, programming mistakes — re-raises: retrying into a
        misconfiguration must stay loud."""
        import errno
        import socket
        import ssl

        resp = getattr(exc, "response", None)
        if resp is None:
            # only NETWORK-shaped OSErrors are ambiguous (the request may
            # have reached the store); PermissionError / FileNotFoundError
            # from a wrapping layer are misconfigurations that must raise
            # immediately, not burn the full backoff budget first.
            # ECONNRESET/EPIPE/ETIMEDOUT arrive as the mapped OSError
            # subclasses below; the route-flap errnos have NO subclass
            # mapping and must be matched by number.
            if isinstance(exc, ssl.SSLCertVerificationError):
                # subclass of SSLError, but a bad/expired cert or wrong
                # endpoint is a MISCONFIGURATION — retrying cannot fix it
                raise exc
            if isinstance(
                exc,
                (
                    ConnectionError,
                    TimeoutError,
                    socket.gaierror,
                    socket.herror,
                    ssl.SSLError,
                ),
            ) or (
                isinstance(exc, OSError)
                and getattr(exc, "errno", None)
                in (
                    errno.ENETUNREACH,
                    errno.EHOSTUNREACH,
                    errno.ENETDOWN,
                    errno.ENETRESET,
                )
            ):
                return "ambiguous"
            # response-less client-library errors are ambiguous ONLY when
            # network-shaped; NoCredentialsError, ParamValidationError and
            # friends are misconfigurations and must raise immediately
            mod = type(exc).__module__ or ""
            name = type(exc).__name__
            if mod.startswith(("botocore", "boto3", "urllib3")) and (
                "Connection" in name
                or "Timeout" in name
                or "HTTPClient" in name
                or name in ("ResponseStreamingError", "IncompleteReadError")
            ):
                return "ambiguous"
            raise exc
        code = (resp.get("Error") or {}).get("Code", "")
        http = (resp.get("ResponseMetadata") or {}).get("HTTPStatusCode")
        if code == "NoSuchBucket":
            raise exc  # configuration error, not a race — never retry
        if code == "PreconditionFailed" or http == 412:
            return "taken"
        if code == "ConditionalRequestConflict" or http == 409:
            return "conflict"
        if code in ("NoSuchKey", "404") or http == 404:
            return "missing"
        if (isinstance(http, int) and http >= 500) or code in cls._RETRYABLE_CODES:
            return "ambiguous"
        raise exc

    @staticmethod
    def _backoff(attempt: int) -> float:
        return min(0.05 * (2**attempt), 1.0)

    def _key(self, seq: int) -> str:
        return f"{self._pfx}LATEST.{seq}"

    def _seq_of(self, key: str) -> int | None:
        tail = key.rsplit("LATEST.", 1)[-1]
        try:
            return int(tail)
        except ValueError:
            return None

    def _body_at(self, key: str) -> str | None:
        """GetObject body as text, ``None`` if absent; bounded retries
        over transient (5xx/409/connection) GET failures."""
        last: Exception | None = None
        for attempt in range(self._max_attempts):
            try:
                obj = self._c.get_object(Bucket=self._bucket, Key=key)
                return obj["Body"].read().decode("utf-8")
            except Exception as exc:  # noqa: BLE001 — classified below
                if self._classify(exc) == "missing":
                    return None
                last = exc
                if attempt < self._max_attempts - 1:
                    self._sleep(self._backoff(attempt))
        raise last  # type: ignore[misc]

    def _list(self) -> list[tuple[int, str, float | None]]:
        """``[(seq, key, last_modified_epoch)]`` ascending, via
        paginated ListObjectsV2 — strongly consistent on S3. Bounded
        retries over transient (5xx/connection) listing failures, same
        policy as ``_body_at``: one SlowDown must not crash a
        read_latest that sits on every lifecycle path."""
        last: Exception | None = None
        for attempt in range(self._max_attempts):
            try:
                out: list[tuple[int, str, float | None]] = []
                paginator = self._c.get_paginator("list_objects_v2")
                for page in paginator.paginate(
                    Bucket=self._bucket, Prefix=f"{self._pfx}LATEST."
                ):
                    for obj in page.get("Contents", []):
                        seq = self._seq_of(obj["Key"])
                        if seq is None:
                            continue
                        lm = obj.get("LastModified")
                        if lm is not None and hasattr(lm, "timestamp"):
                            lm = lm.timestamp()  # boto3 returns datetimes
                        out.append((seq, obj["Key"], lm))
                return sorted(out)
            except Exception as exc:  # noqa: BLE001 — classified below
                if self._classify(exc) == "missing":
                    return []  # a prefix listing can't 404; tolerate anyway
                last = exc
                if attempt < self._max_attempts - 1:
                    self._sleep(self._backoff(attempt))
        raise last  # type: ignore[misc]

    # --- the PointerStore contract ----------------------------------------
    #: list/GET race retries in read_latest — deliberately NOT
    #: max_attempts: that knob tunes NETWORK retries (a fail-fast
    #: max_attempts=1 store must still tolerate benign concurrent-GC
    #: races, which are not failures). Same bound as the local backend.
    _MAX_READ_RACES = 8

    def read_latest(self) -> tuple[int | None, dict | None]:
        for _ in range(self._MAX_READ_RACES):
            entries = self._list()
            if not entries:
                return None, None
            seq, key, _ = entries[-1]
            body = self._body_at(key)
            if body is None:
                # GC dropped the listed pointer between the list and the
                # GET; the sweep keeps newer sequences, so one re-list
                # normally resolves it. Bounded: only a MISBEHAVING
                # external deleter (deleting the newest pointer over and
                # over) could exhaust this, and that must surface loudly
                # rather than spin forever.
                continue
            return seq, json.loads(body)
        raise RuntimeError(
            f"read_latest of s3://{self._bucket}/{self._pfx} unresolved "
            f"after {self._MAX_READ_RACES} list/GET races — the newest "
            f"pointer keeps vanishing between listing and read; an "
            f"external process is deleting live pointers (GC only ever "
            f"removes superseded sequences)"
        )

    def read_at(self, seq: int) -> dict | None:
        """The pointer at EXACTLY ``seq`` — ONE GetObject, no listing
        (the historical-probe serving shape: same O(1) pointer cost as
        a live probe). ``None`` if never committed or GC'd; historical
        reads are valid only within GC's ``keep_pointers`` retention
        window, the same supersession-lease contract live probes ride."""
        body = self._body_at(self._key(seq))
        return json.loads(body) if body is not None else None

    def try_commit(self, seq: int, payload: dict) -> bool:
        """Conditional PUT of ``LATEST.<seq>``; True iff THIS call won.

        PRECONDITION (callers, not just the class docstring): ``payload``
        must be writer-unique per attempt — the 412/ambiguity read-back
        decides ownership by body equality, so two writers committing a
        byte-identical payload to the same sequence would BOTH see True
        for the single slot. Every lifecycle caller satisfies this by
        staging a fresh ``gen-<uuid>`` per commit; direct callers must
        include their own nonce (a uuid field) in ``payload``.
        """
        key, body = self._key(seq), json.dumps(payload)
        last: Exception | None = None
        for attempt in range(self._max_attempts):
            try:
                self._c.put_object(
                    Bucket=self._bucket,
                    Key=key,
                    Body=body.encode("utf-8"),
                    IfNoneMatch="*",
                )
                return True
            except Exception as exc:  # noqa: BLE001 — classified below
                kind = self._classify(exc)
                last = exc
                if kind == "taken":
                    # the sequence is taken — by a competitor, or by OUR
                    # own PUT whose success we never saw (an ambiguous
                    # 5xx below, or a client-layer transparent retry that
                    # swallowed it before we looked). Bodies are
                    # writer-unique — every commit attempt stages a fresh
                    # ``gen-<uuid>`` — so read-back equality decides:
                    # mine → True, anything else → clean loss
                    return self._body_at(key) == body
                if kind in ("ambiguous", "missing"):
                    existing = self._body_at(key)
                    if existing is not None:
                        return existing == body
                    # never landed — fall through and retry the PUT
                if attempt < self._max_attempts - 1:
                    self._sleep(self._backoff(attempt))
        raise RuntimeError(
            f"conditional PUT of s3://{self._bucket}/{key} unresolved "
            f"after {self._max_attempts} attempts"
        ) from last

    def pointers(self) -> list[tuple[int, dict]]:
        out = []
        for seq, key, _ in self._list():
            body = self._body_at(key)
            if body is None:
                continue  # GC race, same tolerance as the local store
            out.append((seq, json.loads(body)))
        return out

    def oldest_pointer_mtime(self) -> float | None:
        times = [lm for _, _, lm in self._list() if lm is not None]
        return min(times) if times else None

    def sweep_tmp(self, min_age_s: float) -> int:
        return 0  # conditional PUT leaves no temp objects to leak

    def drop(self, seq: int) -> None:
        # S3 DeleteObject of an absent key succeeds — idempotent, so a
        # landed-but-lost delete is safe to retry; same bounded policy as
        # the read paths (GC's drop loop must shrug off one SlowDown)
        last: Exception | None = None
        for attempt in range(self._max_attempts):
            try:
                self._c.delete_object(Bucket=self._bucket, Key=self._key(seq))
                return
            except Exception as exc:  # noqa: BLE001 — classified below
                if self._classify(exc) == "missing":
                    return
                last = exc
                if attempt < self._max_attempts - 1:
                    self._sleep(self._backoff(attempt))
        raise last  # type: ignore[misc]


def _sweep_unpointed(fs: "_HadoopFS", gen_dir: str) -> None:
    """Best-effort delete of a STAGED (never-pointed) generation dir.
    The dir is unreachable garbage either way — GC's reachability sweep
    is the durable cleanup — so a transient delete failure here must
    never mask the primary outcome it accompanies (a CommitConflict
    diagnostic, a twin-delivery return, a restage retry)."""
    try:
        fs.delete(gen_dir)
    except Exception:  # noqa: BLE001 — GC is the backstop
        pass


def _pointer_at(ptr, seq: int, index_name: str, which: str = "as_of_seq") -> dict:
    """THE historical-read contract, shared by every entry point that
    accepts a pinned sequence (``gen_index_probe(as_of_seq=)``,
    ``gen_index_diff``): validates the sequence is a true int (bool
    excluded — and a float would hit the dict-backed store but miss the
    key-formatting ones), raises a contract-naming TypeError for
    injected stores without ``read_at``, and reports the retained range
    when the sequence is absent (never committed, or GC'd past the
    ``keep_pointers`` retention lease)."""
    if not isinstance(seq, int) or isinstance(seq, bool):
        raise TypeError(
            f"{which} must be an integer sequence number, got {seq!r} — "
            f"pointer sequences are the ints read_latest()/pointers() "
            f"report"
        )
    read_at = getattr(ptr, "read_at", None)
    if read_at is None:
        raise TypeError(
            f"{type(ptr).__name__} does not implement read_at(seq), "
            f"required for historical reads — see the PointerStore "
            f"contract in LocalPointerStore's docstring"
        )
    payload = read_at(seq)
    if payload is None:
        retained = [s for s, _ in ptr.pointers()]
        raise FileNotFoundError(
            f"generational index '{index_name}' has no pointer at "
            f"sequence {seq} — never committed, or already "
            f"garbage-collected past the keep_pointers window "
            f"(retained sequences: {retained or 'none'})"
        )
    return payload


def _store_for(root: str, store=None):
    """THE injection seam: every lifecycle entry point resolves its
    pointer backend here and nowhere else. ``store=None`` (production
    local default) → :class:`LocalPointerStore` on ``root``; an explicit
    ``store`` (an S3 conditional-PUT client, the in-memory fake, …) is
    used as-is — no call site names a concrete class, so an object-store
    deployment changes ONE argument, not ten functions."""
    if store is not None:
        return store
    return LocalPointerStore(root)


class _HadoopFS:
    """The generational store's DATA-object I/O (manifests, listings,
    deletes, mtimes), through Spark's own Hadoop FileSystem API — the
    same connector layer the module's parquet reads/writes already use,
    so every scheme Spark can read (``file:``, ``s3a:``, ``gs:``,
    ``abfss:``) works here with no extra client library. Combined with
    an injected :class:`PointerStore <LocalPointerStore>` this makes the
    WHOLE lifecycle object-store-capable: pointer CAS through the
    injected store, data through the cluster's configured connectors.
    All calls are metadata-sized (a manifest JSON, a directory listing,
    a status probe) — the row data always moves through Spark jobs."""

    def __init__(self, spark: SparkSession, root: str):
        self._jvm = spark._jvm
        self._gateway = spark.sparkContext._gateway
        self._Path = spark._jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )

    def is_local(self) -> bool:
        return self._fs.getScheme() == "file"

    def _is_missing(self, exc: Exception) -> bool:
        """True iff a py4j-raised Java exception is a FileNotFound —
        the ONLY failure the metadata helpers may swallow. A throttling
        / auth / socket error must PROPAGATE: treating it as 'no files'
        would let a build commit an empty manifest under a full-corpus
        fingerprint, the exact silent corruption this store refuses.
        A real instanceof check, because connectors throw SUBCLASSES
        whose names need not contain the substring (e.g. Hadoop's
        PathNotFoundException extends java.io.FileNotFoundException)."""
        java_exc = getattr(exc, "java_exception", None)
        if java_exc is None:
            return isinstance(exc, FileNotFoundError)
        try:
            from py4j.java_gateway import is_instance_of

            return is_instance_of(
                self._gateway, java_exc, "java.io.FileNotFoundException"
            )
        except Exception:
            # gateway unavailable mid-teardown: fall back to name match
            try:
                return "FileNotFoundException" in java_exc.getClass().getName()
            except Exception:
                return False

    def list_names(self, path: str) -> list[str]:
        p = self._Path(path)
        if not self._fs.exists(p):
            return []
        try:
            return sorted(
                st.getPath().getName() for st in self._fs.listStatus(p)
            )
        except Exception as exc:
            if self._is_missing(exc):
                return []  # deleted between exists and list (GC race)
            raise

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._Path(path))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    def write_text(self, path: str, text: str) -> None:
        out = self._fs.create(self._Path(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def exists(self, path: str) -> bool:
        return bool(self._fs.exists(self._Path(path)))

    def delete(self, path: str) -> None:
        try:
            self._fs.delete(self._Path(path), True)
        except Exception as exc:
            if self._is_missing(exc):
                return  # already gone (concurrent sweep) — fine
            raise

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._Path(path))

    def mtime(self, path: str) -> float | None:
        """Modification time in epoch seconds; ``None`` means 'no
        trustworthy age' — missing path OR an age that cannot be
        determined. For a DIRECTORY on a real filesystem this is the dir
        inode's mtime; object stores have no directory objects (status
        may be a synthetic 0-mtime entry), so fall back to the newest
        direct child, and if THOSE are synthetic prefixes too (e.g. a
        generation dir whose direct children are only the virtual
        ``cells``/``centroids`` levels), return None rather than 0 —
        callers must treat unknown age as YOUNG, never as infinitely
        old (GC keeps, not deletes)."""
        p = self._Path(path)
        try:
            st = self._fs.getFileStatus(p)
        except Exception as exc:
            if self._is_missing(exc):
                return None
            raise
        m = st.getModificationTime()
        if m > 0:
            return m / 1000.0
        try:
            children = [
                c.getModificationTime() for c in self._fs.listStatus(p)
            ]
        except Exception as exc:
            if self._is_missing(exc):
                return None
            raise
        best = max(children, default=0)
        return best / 1000.0 if best > 0 else None


def _store_root(spark: SparkSession, index_name: str) -> str:
    """DEFAULT root for a generational index: app-scoped under the
    staged-results dir, reusing its path resolution (and therefore its
    POSIX check — the default LocalPointerStore is filesystem code).
    Data I/O goes through :class:`_HadoopFS` regardless, so with an
    injected pointer store any Spark-supported scheme works via an
    explicit ``root=``.

    App-scoping gives lifecycle hygiene (heartbeat-swept with the
    session's staging) but confines the index to ONE application.
    Every public function takes ``root=`` to override it with a shared
    location — the deployment shape where separate driver applications
    (a build job, a streaming maintenance job, probe services) operate
    on one index: the protocol keeps no in-memory state, so any process
    that can reach the root participates safely in the same CAS
    sequence (pinned by the cross-application test)."""
    return os.path.join(_app_staging_dir(spark), f"{index_name}_gens")


def _resolve_root(
    spark: SparkSession, index_name: str, root: str | None, store=None
) -> str:
    """Resolve the store root. With the DEFAULT pointer backend
    (``store=None`` → :class:`LocalPointerStore`, which is os.* code) an
    explicit ``root=`` gets the same POSIX refusal as the default path —
    an object-store URI would silently become a local relative dir named
    ``s3a:`` and the index would commit empty pointer state while
    claiming the full corpus. With an INJECTED pointer store the
    refusal lifts: pointer CAS goes through the injected backend and all
    data I/O goes through :class:`_HadoopFS`, so any scheme the Spark
    runtime's connectors support is deployable (the conditional-PUT
    protocol the store must honor is documented on
    :class:`LocalPointerStore`)."""
    if root is not None:
        if store is None:
            return _require_posix_warehouse(root, what="the explicit root=")
        return root
    return _store_root(spark, index_name)


def _list_cell_files(fs: _HadoopFS, gen_dir: str, gen_name: str) -> dict[str, list[str]]:
    """cell id -> ROOT-relative parquet paths for one freshly written
    generation. List-after-write of our own unpublished output; strongly
    consistent on local fs and (since 2020) on S3."""
    cells: dict[str, list[str]] = {}
    cells_dir = os.path.join(gen_dir, "cells")
    for entry in fs.list_names(cells_dir):
        if not entry.startswith("cell_id="):
            continue
        cell = entry.split("=", 1)[1]
        files = sorted(
            f"{gen_name}/cells/{entry}/{fname}"
            for fname in fs.list_names(os.path.join(cells_dir, entry))
            if fname.endswith(".parquet")
        )
        if files:
            cells[cell] = files
    return cells


def _merge_cells(
    parent: dict[str, list[str]], new: dict[str, list[str]]
) -> dict[str, list[str]]:
    merged = {c: list(fs) for c, fs in parent.items()}
    for c, fs in new.items():
        merged.setdefault(c, []).extend(fs)
    return merged


def _write_manifest(fs: _HadoopFS, gen_dir: str, manifest: dict) -> None:
    """The manifest lives INSIDE the (still unpublished, writer-private)
    generation dir; a direct overwrite needs no tmp+rename atomicity —
    nothing reads it until the pointer commits, and a torn write in an
    unpointed generation is just GC-able garbage."""
    fs.write_text(os.path.join(gen_dir, "manifest.json"), json.dumps(manifest))


def _read_manifest(fs: _HadoopFS, root: str, gen_name: str) -> dict:
    return json.loads(fs.read_text(os.path.join(root, gen_name, "manifest.json")))


def _write_assigned_cells(assigned: DataFrame, gen_dir: str) -> None:
    """Land one generation's cell files. ``cell`` duplicates the
    partition column INTO the rows: probes read manifest-selected FILE
    lists (no directory scan), where Spark does not infer partition
    columns from paths."""
    (
        assigned.withColumn("cell", F.col("cell_id"))
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(os.path.join(gen_dir, "cells"))
    )


def gen_index_build(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_mod: int = 50,
    max_centroids: int = 256,
    index_name: str = "gen_ivf",
    root: str | None = None,
    store=None,
) -> dict:
    """Build (or rebuild) a generational IVF index: one assignment pass
    lands a complete generation, then ONE pointer create publishes it.
    Returns the committed pointer payload.

    A build's content is a function of the CALLER's corpus snapshot, so
    unlike appends it cannot rebase: if any other commit lands while the
    build is staging, publishing the staged generation would CLOBBER
    that commit's rows — and, worse, carrying its append token forward
    would make the stream's replay of the clobbered batch self-discard
    as "already applied": permanent silent loss. The build therefore
    commits ONLY at the sequence it started from +1 and raises
    :class:`CommitConflict` if the index advanced meanwhile — the caller
    re-derives the corpus (which now must include the interleaved
    batches) and rebuilds. The previous append token is carried forward
    (a rebuild from the full corpus must keep replay detection armed) —
    sound precisely BECAUSE the commit refuses when a tokened append
    interleaves."""
    spark = corpus.sparkSession
    root = _resolve_root(spark, index_name, root, store)
    fs = _HadoopFS(spark, root)
    ptr = _store_for(root, store)
    start_seq, start_latest = ptr.read_latest()

    cents = _ivf_centroids(corpus, vec_col, id_col, centroid_mod, max_centroids)
    if cents.limit(1).count() == 0:
        raise ValueError(
            f"corpus yields NO centroids under centroid_mod={centroid_mod} "
            f"/ max_centroids={max_centroids} (no id satisfies id % "
            f"{centroid_mod} == 0 below {centroid_mod * max_centroids}): "
            "every row would be dropped by the cell assignment while the "
            "fingerprint claimed the full corpus — pick a centroid_mod "
            "that divides some corpus ids"
        )
    assigned = _ivf_assign(
        spread_small_input(corpus).select(
            F.col(id_col).alias("neighbor_id"),
            _as_double_name(vec_col).alias("cv"),
        ),
        cents,
        "neighbor_id",
        "cv",
        keep=1,
    ).withColumnRenamed("cent_id", "cell_id")

    gen_name = f"gen-{uuid.uuid4().hex}"
    gen_dir = os.path.join(root, gen_name)
    _write_assigned_cells(assigned, gen_dir)
    cents.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(gen_dir, "centroids")
    )
    fp = _corpus_fingerprint(corpus, id_col)
    cent_fp = _corpus_fingerprint(
        spark.read.parquet(os.path.join(gen_dir, "centroids")), "cent_id"
    )
    manifest = {
        "kind": "build",
        "cells": _list_cell_files(fs, gen_dir, gen_name),
        "fingerprint": fp,
        "centroid_fp": cent_fp,
        "centroids": f"{gen_name}/centroids",
    }
    _write_manifest(fs, gen_dir, manifest)

    payload = {
        "gen": gen_name,
        "fingerprint": fp,
        "centroid_fp": cent_fp,
        "last_token": (start_latest or {}).get("last_token"),
    }
    if ptr.try_commit((start_seq or 0) + 1, payload):
        return payload
    _sweep_unpointed(fs, gen_dir)  # unpointed; GC is the backstop
    raise CommitConflict(
        f"index '{index_name}' advanced while this build was staging "
        f"(another commit took sequence {(start_seq or 0) + 1}); "
        "publishing the staged generation would clobber that commit's "
        "rows — re-derive the corpus (it must include the interleaved "
        "batches) and rebuild"
    )


def gen_index_built(
    spark: SparkSession,
    index_name: str = "gen_ivf",
    root: str | None = None,
    store=None,
) -> bool:
    """True iff the named generational index has a committed generation —
    one pointer read, the build-once gate callers (bench loop, a probe
    service warmup) use before serving. There is no session-local build
    set to consult: the pointer IS the state, wherever it lives."""
    return gen_index_head(spark, index_name, root, store)[0] is not None


def gen_index_head(
    spark: SparkSession,
    index_name: str = "gen_ivf",
    root: str | None = None,
    store=None,
) -> tuple[int | None, dict | None]:
    """``(seq, payload)`` of the head commit, or ``(None, None)`` for an
    index that never committed — one pointer read, no manifest or parquet
    I/O. The payload carries the committed corpus ``fingerprint``
    (``rows`` + ``id_xor``), so lifecycle callers can check completion
    and replay position without reading the commit ledger."""
    root = _resolve_root(spark, index_name, root, store)
    return _store_for(root, store).read_latest()


def gen_index_append(
    batch: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index_name: str = "gen_ivf",
    idempotency_token: str | int | None = None,
    max_retries: int = 5,
    root: str | None = None,
    store=None,
) -> dict:
    """O(|batch|) append with optimistic concurrency. The batch is
    assigned against the latest generation's FROZEN centroids and lands
    as a new generation whose manifest references every untouched parent
    file; commit is one pointer create. Losing the race rebases: the
    manifest is recomposed against the NEW latest and the fingerprint
    re-XORed (immutable files make both pure metadata edits) — unless
    the new latest changed the centroid set (a rebuild/compact won),
    in which case the staged assignment is invalid and the whole append
    restages from scratch. ``idempotency_token`` keeps foreachBatch's
    at-least-once replays exactly-once (single-token lookback: the
    head's ``last_token``); the replay check re-runs inside every
    CAS attempt, so a duplicate delivery that loses a race to its twin
    discards itself instead of double-appending."""
    spark = batch.sparkSession
    root = _resolve_root(spark, index_name, root, store)
    fs = _HadoopFS(spark, root)
    ptr = _store_for(root, store)

    # ONE budget for both loss modes — plain commit races (inner loop)
    # and centroid-churn restages (outer loop) — so CommitConflict's
    # "lost max_retries races" contract holds for either
    attempts = max_retries

    while attempts > 0:
        seq, latest = ptr.read_latest()
        if latest is None:
            raise FileNotFoundError(
                f"generational index '{index_name}' has no committed "
                "generation — gen_index_build first"
            )
        if (
            idempotency_token is not None
            and latest.get("last_token") == idempotency_token
        ):
            return latest  # duplicate delivery — already applied
        parent_manifest = _read_manifest(fs, root, latest["gen"])
        cents = spark.read.parquet(
            os.path.join(root, parent_manifest["centroids"])
        )
        assigned = _ivf_assign(
            spread_small_input(batch).select(
                F.col(id_col).alias("neighbor_id"),
                _as_double_name(vec_col).alias("cv"),
            ),
            cents,
            "neighbor_id",
            "cv",
            keep=1,
        ).withColumnRenamed("cent_id", "cell_id")

        gen_name = f"gen-{uuid.uuid4().hex}"
        gen_dir = os.path.join(root, gen_name)
        _write_assigned_cells(assigned, gen_dir)
        batch_fp = _corpus_fingerprint(batch, id_col)
        my_cells = _list_cell_files(fs, gen_dir, gen_name)

        # CAS loop: rebase against whoever beats us, restage only if the
        # centroid set moved underneath the staged assignment
        while attempts > 0:
            seq, latest = ptr.read_latest()
            if (
                idempotency_token is not None
                and latest.get("last_token") == idempotency_token
            ):
                _sweep_unpointed(fs, gen_dir)  # twin delivery won the race
                return latest
            if latest["centroid_fp"] != parent_manifest["centroid_fp"]:
                _sweep_unpointed(fs, gen_dir)  # assignment is against dead cells
                break  # outer loop restages against the new centroids
            base = _read_manifest(fs, root, latest["gen"])
            fp = {
                "rows": base["fingerprint"]["rows"] + batch_fp["rows"],
                "id_xor": base["fingerprint"]["id_xor"] ^ batch_fp["id_xor"],
            }
            manifest = {
                "kind": "append",
                "cells": _merge_cells(base["cells"], my_cells),
                "fingerprint": fp,
                "centroid_fp": base["centroid_fp"],
                "centroids": base["centroids"],
                "parent": latest["gen"],
            }
            _write_manifest(fs, gen_dir, manifest)
            payload = {
                "gen": gen_name,
                "fingerprint": fp,
                "centroid_fp": base["centroid_fp"],
                "last_token": (
                    idempotency_token
                    if idempotency_token is not None
                    else latest.get("last_token")
                ),
            }
            if ptr.try_commit(seq + 1, payload):
                return payload
            attempts -= 1  # lost a commit race: re-read, recompose, retry
        else:
            # inner loop exhausted the budget while the staged gen is
            # still on disk (plain commit contention, no restage)
            _sweep_unpointed(fs, gen_dir)
        attempts -= 1  # a restage (centroid churn) also spends one
    raise CommitConflict(
        f"append to '{index_name}' lost {max_retries} commit races "
        "(contention and/or centroid churn); retry, or serialize "
        "structural maintenance away from append traffic"
    )


def _read_files(
    spark: SparkSession, fs: _HadoopFS, paths: list[str], schema=None
) -> DataFrame:
    """``spark.read.parquet`` over manifest-listed files (with ``schema``
    given, no schema-inference job). The manifest already names every
    file, so Spark's listing of them is only a status call per file. Past ``parallelPartitionDiscovery.threshold`` paths
    Spark makes that a distributed listing job; on a local filesystem the
    driver-side stats are far cheaper than the job, so the threshold is
    lifted for this read. Other schemes keep Spark's choice: sequential
    object-store HEADs on the driver would not scale with the file count."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    if not fs.is_local():
        return reader.parquet(*paths)
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, str(len(paths)))
    try:
        return reader.parquet(*paths)  # the listing happens here
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _probe_files(
    spark: SparkSession, fs: _HadoopFS, root: str, manifest: dict, cells: list[str]
):
    files = [
        os.path.join(root, rel)
        for c in cells
        for rel in manifest["cells"].get(c, [])
    ]
    if not files:
        return None
    return _read_files(spark, fs, files)


def gen_index_probe(
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    nprobe: int = 3,
    index_name: str = "gen_ivf",
    expected_fingerprint: dict | None = None,
    root: str | None = None,
    store=None,
    as_of_seq: int | None = None,
) -> DataFrame:
    """Serve top-k from the pointed generation. One pointer read pins the
    ENTIRE snapshot (manifest + files are immutable), so a probe can
    never observe a half-published mutation, even one racing a
    rebalance or compaction. Reads exactly the probed cells' manifest
    files. Output schema and values are row-identical to the in-memory
    :func:`.similarity.ivf_topk` over the same corpus (pinned by test).

    ``expected_fingerprint`` is the misuse guard: pass the corpus
    fingerprint the caller believes the index serves
    (:func:`_corpus_fingerprint`, one small aggregate job) and a
    mismatch with the committed one raises instead of silently answering
    for a different corpus.

    ``as_of_seq`` is the TIME-TRAVEL dial: probe the snapshot a PAST
    commit published (e.g. reproduce exactly the shortlist a prior
    training-data build retrieved) instead of the latest one. Same O(1)
    serving cost — one targeted pointer read, zero listing — because
    every commit's pointer names its full immutable snapshot.
    Historical sequences are servable only while GC retains them
    (``gen_index_gc(keep_pointers=N)`` — the documented supersession
    lease); a swept or never-committed sequence raises
    ``FileNotFoundError`` naming the retained range.
    """
    from pyspark.sql import Window

    spark = queries.sparkSession
    root = _resolve_root(spark, index_name, root, store)
    fs = _HadoopFS(spark, root)
    ptr = _store_for(root, store)
    if as_of_seq is None:
        _seq, latest = ptr.read_latest()
        if latest is None:
            raise FileNotFoundError(
                f"generational index '{index_name}' has no committed "
                f"generation"
            )
    else:
        latest = _pointer_at(ptr, as_of_seq, index_name, "as_of_seq")
    if expected_fingerprint is not None:
        stored = _fp_core(latest["fingerprint"])
        want = _fp_core(expected_fingerprint)
        if stored != want:
            raise ValueError(
                f"generational index '{index_name}' does not match the "
                f"corpus being queried: index {stored}, corpus {want} — "
                "rebuild or append the missing batch"
            )
    manifest = _read_manifest(fs, root, latest["gen"])
    cents = spark.read.parquet(os.path.join(root, manifest["centroids"]))

    q_plan = _ivf_assign(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double_name(vec_col).alias("qv")
        ),
        cents,
        "query_id",
        "qv",
        keep=nprobe,
    )
    # ONE execution of the assignment job, but only the DISTINCT probed
    # cell ids ever reach the driver for manifest pruning (≤
    # centroid-count values, ≤ max_centroids — bounded regardless of
    # |queries|). The eager lineage break materializes the assignment
    # once; the join reuses it instead of re-running the
    # queries×centroids scoring. NOTE the JOIN side is still
    # nprobe×|queries| rows: the broadcast hint below is applied only
    # while that stays under _BROADCAST_SHORTLIST_ROWS (a broadcast is
    # built ON the driver, so hinting an unbounded query batch would be
    # the very OOM the collect fix avoids); above it, AQE picks the
    # strategy from measured sizes — big recall sweeps degrade to a
    # shuffled join instead of a driver blowup.
    from pyspark.sql import Observation

    from ..session import eager_checkpoint

    # the checkpoint's own job also observes all three needs: the probed
    # cell ids, the shortlist row count, AND the vector width (≤
    # max_centroids ids come back, never the shortlist itself)
    seen = Observation()
    q = eager_checkpoint(
        q_plan.observe(
            seen,
            F.collect_set("cent_id").alias("cells"),
            F.count(F.lit(1)).alias("n"),
            F.max(F.size("qv")).alias("dim"),
        ),
        "gen_probe_assignment",
    )
    stats = seen.get
    probed = sorted(str(c) for c in stats["cells"])
    n_shortlist = stats["n"]
    dim = stats["dim"] or 0
    index = _probe_files(spark, fs, root, manifest, probed)
    if index is None:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    q_side = q.withColumnRenamed("cent_id", "cell").withColumn(
        "_nq", _norm_col("qv")
    )
    # the hint gate must be BYTE-aware, not row-only: 900k rows of
    # 768-dim doubles is ~6 GB — under any sane row cap yet far past
    # what a driver-built broadcast should carry
    shortlist_bytes = n_shortlist * (dim * 8 + 48)
    if (
        n_shortlist <= _BROADCAST_SHORTLIST_ROWS
        and shortlist_bytes <= _BROADCAST_SHORTLIST_BYTES
    ):
        q_side = F.broadcast(q_side)
    scored = (
        index.withColumn("_nc", _norm_col("cv"))
        .join(q_side, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            _cosine_pre("qv", "cv", "_nq", "_nc").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rk").alias("rank"),
        )
    )


def gen_index_verify(
    spark: SparkSession,
    index_name: str = "gen_ivf",
    root: str | None = None,
    store=None,
) -> dict:
    """Audit the POINTED generation: every manifest file must exist, and
    the content fingerprint (count + id-hash XOR over the manifest's
    files) must equal the pointer's. There are no orphan/aside damage
    classes — unpointed garbage is GC's department, not an
    inconsistency. Returns {stored, actual, missing_files, consistent}."""
    root = _resolve_root(spark, index_name, root, store)
    fs = _HadoopFS(spark, root)
    _seq, latest = _store_for(root, store).read_latest()
    if latest is None:
        raise FileNotFoundError(
            f"generational index '{index_name}' has no committed generation"
        )
    manifest = _read_manifest(fs, root, latest["gen"])
    all_files = [
        rel for files in manifest["cells"].values() for rel in files
    ]
    missing = sorted(
        rel for rel in all_files if not fs.exists(os.path.join(root, rel))
    )
    if all_files and not missing:
        actual = _corpus_fingerprint(
            _read_files(spark, fs, [os.path.join(root, rel) for rel in all_files]),
            "neighbor_id",
        )
    else:
        actual = {"rows": 0, "id_xor": 0}
    stored = {
        "rows": latest["fingerprint"]["rows"],
        "id_xor": latest["fingerprint"]["id_xor"],
    }
    return {
        "stored": stored,
        "actual": actual,
        "missing_files": missing,
        "consistent": not missing and stored == actual,
    }


def gen_index_diff(
    spark: SparkSession,
    seq_a: int,
    seq_b: int | None = None,
    index_name: str = "gen_ivf",
    root: str | None = None,
    store=None,
) -> DataFrame:
    """MANIFEST-ONLY diff between two committed snapshots: which files
    each cell gained or lost going from ``seq_a`` to ``seq_b`` (default:
    the latest commit) — "what did this append/rebalance/compact
    physically change", answered without touching row data.

    Cost is two pointer reads + two manifest reads and ZERO parquet
    I/O — safe to run on every commit of a 100 TB index. With both
    sequences pinned the pointer reads are targeted GETs (zero
    object-store LIST); the ``seq_b=None`` default resolves the latest
    pointer via ``read_latest``, which is one LIST on every backend
    (contrast :func:`gen_index_cell_skew`, which reads per-cell ROW
    counts and answers the drift question).
    Columns: ``cell_id, files_then, files_now, added_files,
    removed_files, centroids_changed`` (the last is the same value on
    every row: a rebalance/rebuild publishes a new centroid set, an
    append never does). Row count is bounded by the union of cell sets
    (≤ max_centroids + splits), never by index size. Sequences obey the
    same GC retention lease as :func:`gen_index_probe`'s ``as_of_seq``.
    """
    root = _resolve_root(spark, index_name, root, store)
    fs = _HadoopFS(spark, root)
    ptr = _store_for(root, store)

    # seq_a is REQUIRED to be a pinned int (a None that slipped in must
    # not silently diff latest-vs-latest and report "nothing changed");
    # only seq_b carries the documented latest default.
    pa = _pointer_at(ptr, seq_a, index_name, "seq_a")
    if seq_b is None:
        _seq, pb = ptr.read_latest()
        if pb is None:
            raise FileNotFoundError(
                f"generational index '{index_name}' has no committed "
                f"generation"
            )
    else:
        pb = _pointer_at(ptr, seq_b, index_name, "seq_b")
    ma = _read_manifest(fs, root, pa["gen"])
    mb = _read_manifest(fs, root, pb["gen"])
    # compare the centroid FINGERPRINT, not the path: a compact copies
    # the same centroids into its own generation dir (path moves, set
    # doesn't), while a rebalance/rebuild publishes a genuinely new set
    cents_changed = ma["centroid_fp"] != mb["centroid_fp"]

    def _cell_key(c: str):
        try:
            return (0, int(c), c)
        except ValueError:  # split cells may carry non-numeric ids
            return (1, 0, c)

    rows = []
    for cell in sorted(set(ma["cells"]) | set(mb["cells"]), key=_cell_key):
        fa = set(ma["cells"].get(cell, ()))
        fb = set(mb["cells"].get(cell, ()))
        rows.append(
            (
                cell,
                len(fa),
                len(fb),
                sorted(fb - fa),
                sorted(fa - fb),
                cents_changed,
            )
        )
    return spark.createDataFrame(
        rows,
        "cell_id string, files_then int, files_now int, "
        "added_files array<string>, removed_files array<string>, "
        "centroids_changed boolean",
    )


def gen_index_history(
    spark: SparkSession,
    index_name: str = "gen_ivf",
    root: str | None = None,
    store=None,
) -> DataFrame:
    """The commit LEDGER: one row per retained pointer, ascending
    sequence — the audit-log view an operator asks for first ("what
    happened to this index and when"), answered manifest-only.

    Cost: one pointer listing + one manifest read per RETAINED pointer
    (bounded by the GC ``keep_pointers`` retention, never by index size
    or total commit history) and ZERO parquet I/O — safe to run on every
    commit of a 100 TB index, same contract as :func:`gen_index_diff`.

    Columns: ``seq, gen, kind`` (build/append/rebalance/compact, from
    the manifest), ``rows`` + ``id_xor`` (the committed corpus
    fingerprint), ``n_cells, n_files``, ``files_added/files_removed``
    (manifest file-set delta vs the PREDECESSOR row — the same
    comparison :func:`gen_index_diff` makes, collapsed to counts),
    ``centroids_changed`` (fingerprint compare: True on
    rebalance/rebuild, False on append/compact), and ``last_token``
    (the append-idempotency high-water mark). Delta columns are NULL on
    the oldest retained row: its predecessor may have been GC'd, and a
    ledger must not guess. If GC swept intermediate pointers, deltas
    compare against the previous SURVIVING commit — the ledger reports
    the retained history, exactly what the store can still prove.
    """
    root = _resolve_root(spark, index_name, root, store)
    fs = _HadoopFS(spark, root)
    ptr = _store_for(root, store)
    entries = ptr.pointers()
    if not entries:
        raise FileNotFoundError(
            f"generational index '{index_name}' has no committed generation"
        )
    rows = []
    prev: dict | None = None
    for seq, payload in entries:
        m = _read_manifest(fs, root, payload["gen"])
        files_now = {f for fl in m["cells"].values() for f in fl}
        if prev is None:
            added = removed = cents_changed = None
        else:
            files_then = {f for fl in prev["cells"].values() for f in fl}
            added = len(files_now - files_then)
            removed = len(files_then - files_now)
            cents_changed = prev["centroid_fp"] != m["centroid_fp"]
        rows.append(
            (
                seq,
                payload["gen"],
                m.get("kind"),
                int(m["fingerprint"]["rows"]),
                int(m["fingerprint"]["id_xor"]),
                len(m["cells"]),
                len(files_now),
                added,
                removed,
                cents_changed,
                payload.get("last_token"),
            )
        )
        prev = m
    return spark.createDataFrame(
        rows,
        "seq long, gen string, kind string, rows long, id_xor long, "
        "n_cells int, n_files int, files_added int, files_removed int, "
        "centroids_changed boolean, last_token string",
    )


def gen_index_rollback(
    spark: SparkSession,
    to_seq: int,
    index_name: str = "gen_ivf",
    root: str | None = None,
    store=None,
    max_retries: int = 5,
) -> dict:
    """Re-point serving at a RETAINED historical snapshot — the "undo
    the bad append/rebalance" lever the history/diff surface exists to
    inform. POINTER-ONLY: commits one new pointer whose payload is the
    ``to_seq`` payload verbatim (same generation dir, same fingerprint,
    same ``last_token`` high-water mark AS OF that snapshot), so the
    operation is two small pointer ops regardless of index size, no data
    moves, and the rolled-back commits stay retained for audit until
    :func:`gen_index_gc`'s usual lease expires.

    Forward-only history: rollback never deletes pointers — it appends a
    new sequence that *serves* the old snapshot, so ``as_of_seq`` reads
    of the rolled-back commits keep working and
    :func:`gen_index_history` shows the full event (the new row carries
    the old generation's kind/fingerprint with negative file drift vs
    its predecessor). Because ``last_token`` reverts with the snapshot,
    an append that landed after ``to_seq`` and is re-sent with its
    idempotency token after the rollback RE-APPLIES — exactly the "the
    index is that snapshot again" contract.

    Rolling back to the currently-served snapshot is a no-op (returns
    the live payload without committing). ``to_seq`` obeys the same GC
    retention lease as every historical read: never-committed or swept
    sequences raise ``FileNotFoundError`` via the shared
    :func:`_pointer_at` contract. Lost CAS races (concurrent appends)
    retry against the new head up to ``max_retries`` times, then raise
    :class:`CommitConflict` — rolling back an index under live append
    traffic is a coordination decision, not something to spin on.
    """
    root = _resolve_root(spark, index_name, root, store)
    ptr = _store_for(root, store)
    payload = _pointer_at(ptr, to_seq, index_name, "to_seq")
    for _ in range(max_retries):
        seq, latest = ptr.read_latest()
        if seq is None:
            raise FileNotFoundError(
                f"generational index '{index_name}' has no committed "
                f"generation"
            )
        if latest["gen"] == payload["gen"]:
            return latest  # already serving that snapshot
        if ptr.try_commit(seq + 1, dict(payload)):
            return dict(payload)
    raise CommitConflict(
        f"rollback of '{index_name}' to sequence {to_seq} lost "
        f"{max_retries} commit races; quiesce append traffic and retry"
    )


def gen_index_gc(
    spark: SparkSession,
    index_name: str = "gen_ivf",
    keep_pointers: int = 2,
    min_age_s: float = 3600.0,
    root: str | None = None,
    store=None,
) -> dict:
    """Garbage-collect unreachable state: pointer files below the newest
    ``keep_pointers`` sequences, then any generation directory no
    SURVIVING pointer's manifest references (crash residue from a
    writer that died before its commit, or history past the horizon).
    ``min_age_s`` protects three races the pointer protocol itself cannot
    see: a writer that has staged but not yet committed (its generation
    is unpointed ON PURPOSE for a few seconds), a crashed try_commit's
    leaked temp payload, and an in-flight reader still scanning a
    just-superseded generation — which includes LAZY readers:
    :func:`gen_index_probe` returns an unevaluated DataFrame over
    manifest files, so a caller that holds a probe frame past the
    horizon (without collecting or checkpointing it) is outside the
    contract, exactly like the staging sweeper's documented lease.
    Reader protection measures age from SUPERSESSION, not creation: an
    unreachable generation was superseded no later than the commit of
    the OLDEST surviving pointer, so nothing is deleted until that
    pointer is ``min_age_s`` old — a generation served for hours is not
    suddenly sweepable the instant two structural commits land. (Under
    continuous commit traffic this makes GC lag by design; pointer
    files stay bounded by ``keep_pointers`` regardless.) Size
    ``min_age_s`` above the longest staging time AND the longest
    reader-consumption lag; ``keep_pointers`` additionally retains that
    many full history snapshots regardless of age.

    HISTORICAL-baseline readers (:func:`gen_index_cell_skew` reads the
    generation of ANY surviving pointer, not just the latest) get a
    two-part lease: generation deletion computes reachability from the
    pointers that existed at sweep START (pre-drop), so a generation
    whose pointer was dropped THIS sweep always survives until a later
    sweep — and a ``.last_gc`` stamp spaces generation-deleting sweeps
    at least ``min_age_s`` apart, so "a later sweep" is at least the
    horizon away. A reader that picked a then-live pointer therefore
    has ≥ ``min_age_s`` from pointer drop to data deletion. Concurrent
    sweeps are safe: each tolerates the other's deletions. Returns
    {dropped_pointers, dropped_generations, kept_generations}."""
    import time

    root = _resolve_root(spark, index_name, root, store)
    fs = _HadoopFS(spark, root)
    ptr = _store_for(root, store)
    ptrs = ptr.pointers()
    if not ptrs:
        return {"dropped_pointers": [], "dropped_generations": [], "kept_generations": []}
    survivors = ptrs[-keep_pointers:] if keep_pointers > 0 else ptrs[-1:]

    # reachability FIRST, from every pointer alive at sweep start: a
    # generation losing its pointer in this very sweep keeps its data
    # until the next (min_age_s-spaced) sweep — the historical-reader
    # lease above
    reachable: set[str] = set()
    for _seq, payload in ptrs:
        manifest = _read_manifest(fs, root, payload["gen"])
        reachable.add(payload["gen"])
        reachable.add(manifest["centroids"].split("/", 1)[0])
        for files in manifest["cells"].values():
            for rel in files:
                reachable.add(rel.split("/", 1)[0])

    dropped_ptrs = []
    for seq, _payload in ptrs[: len(ptrs) - len(survivors)]:
        ptr.drop(seq)
        dropped_ptrs.append(seq)
    ptr.sweep_tmp(min_age_s)

    now = time.time()
    # supersession bound: after the drops above, the oldest surviving
    # pointer's commit time upper-bounds when ANY unreachable generation
    # stopped being live
    superseded_bound = ptr.oldest_pointer_mtime() or now
    stamp = os.path.join(root, "ptr", ".last_gc")
    last_sweep = fs.mtime(stamp)
    sweep_spaced = last_sweep is None or now - last_sweep >= min_age_s
    readers_safe = (now - superseded_bound >= min_age_s) and sweep_spaced
    dropped_gens, kept = [], []
    for entry in fs.list_names(root):
        if not entry.startswith("gen-"):
            continue
        if entry in reachable:
            kept.append(entry)
            continue
        gen_dir = os.path.join(root, entry)
        dir_mtime = fs.mtime(gen_dir)
        if dir_mtime is None:
            if not fs.exists(gen_dir):
                continue  # a concurrent sweep already took it
            # exists but age undeterminable (object-store virtual
            # prefixes all the way down) — unknown age is YOUNG: a
            # possibly-staging writer must never be swept on a guess
            kept.append(entry)
            continue
        staging_young = now - dir_mtime < min_age_s
        if staging_young or not readers_safe:
            kept.append(entry)  # possibly staging / recent readers — next sweep
            continue
        fs.delete(gen_dir)
        dropped_gens.append(entry)
    # stamp sweeps that changed state (dropped pointers or deleted
    # data): a pointer dropped at sweep N must not see its generation
    # deleted until ≥ min_age_s later, so the drop itself starts the
    # clock; pure no-op sweeps don't stamp, so they can't push the
    # deletion horizon out indefinitely
    if dropped_ptrs or dropped_gens:
        # the stamp is DATA-side bookkeeping (it spaces generation
        # deletion sweeps), so it lives next to the generations even when
        # the pointer backend is not the local one
        fs.mkdirs(os.path.dirname(stamp))
        fs.write_text(stamp, "")
    return {
        "dropped_pointers": dropped_ptrs,
        "dropped_generations": dropped_gens,
        "kept_generations": kept,
    }


def gen_index_cell_skew(
    spark: SparkSession,
    index_name: str = "gen_ivf",
    baseline_seq: int | None = None,
    root: str | None = None,
    store=None,
) -> DataFrame:
    """Per-cell drift report for a generational index. Appends against
    FROZEN centroids never move existing rows, so a drifted batch
    distribution shows up as unbounded growth of a few hot cells — probe
    cost per cell rises and recall falls, and without this audit nothing
    measures it. The BASELINE is not a separate stored artifact: the
    pointer history IS the baseline store. Compares the live snapshot's
    per-cell row counts against the generation pointed at by
    ``baseline_seq`` (default: the OLDEST surviving pointer — the build
    commit until GC drops it).

    Columns: ``cell_id, rows_at_build, rows_now, added, growth`` —
    ``rows_at_build`` is the baseline count (0 for a cell born after the
    baseline), ``growth`` is ``rows_now / rows_at_build`` rounded to 4
    places (NULL for a newborn cell). This is the schema the registered
    ``embedding_ivf_cell_skew`` query is hash-checked against. One
    column-pruned scan of the files either manifest lists, counted per
    file (≤ manifest-size rows reach the driver); the per-cell sums are
    composed from the two manifests. Feed the hot cells to
    :func:`gen_index_rebalance`."""
    root = _resolve_root(spark, index_name, root, store)
    fs = _HadoopFS(spark, root)
    ptr = _store_for(root, store)
    ptrs = ptr.pointers()
    if not ptrs:
        raise FileNotFoundError(
            f"generational index '{index_name}' has no committed generation"
        )
    latest = ptrs[-1][1]
    if baseline_seq is None:
        base_payload = ptrs[0][1]
    else:
        by_seq = dict(ptrs)
        if baseline_seq not in by_seq:
            raise ValueError(
                f"no surviving pointer at seq {baseline_seq} for "
                f"'{index_name}' (have {sorted(by_seq)}); GC may have "
                "dropped it — pass one of the surviving sequences"
            )
        base_payload = by_seq[baseline_seq]

    then = _read_manifest(fs, root, base_payload["gen"])["cells"]
    now = _read_manifest(fs, root, latest["gen"])["cells"]
    # generations share immutable files, so ONE scan of the union counts
    # rows per file, and each side's per-cell count is the sum over the
    # files its manifest lists
    rels = sorted({rel for m in (then, now) for fl in m.values() for rel in fl})
    per_file: dict[str, int] = {}
    if rels:
        for r in (
            # no columns: only row counts are read
            _read_files(
                spark, fs, [os.path.join(root, rel) for rel in rels], StructType()
            )
            .groupBy(F.input_file_name().alias("uri"))
            .count()
            .collect()  # bounded: one row per manifest-listed file
        ):
            # a manifest path is <gen>/cells/cell_id=<c>/<file>: the URI's
            # last four segments, whatever the root's spelling
            per_file[unquote("/".join(r["uri"].rsplit("/", 4)[1:]))] = r["count"]
        unmapped = set(per_file) - set(rels)
        if unmapped:  # a silent miss would report those rows as 0
            raise RuntimeError(
                f"scanned files do not map to manifest paths: {sorted(unmapped)[:3]}"
            )

    def cell_rows(cells: dict[str, list[str]]) -> dict[int, int]:
        return {int(c): sum(per_file.get(rel, 0) for rel in fl) for c, fl in cells.items()}

    rows_then, rows_now = cell_rows(then), cell_rows(now)
    # every cell either side knows: born after the baseline
    # (rows_at_build 0, growth NULL) or EMPTIED/relaid-out since it
    # (rows_now 0, growth 0.0) — dropping the drained side would hide
    # exactly the cells a rebalance emptied, inflating sum(added)
    counts = spark.createDataFrame(
        [
            (c, rows_then.get(c, 0), rows_now.get(c, 0))
            for c in sorted(set(rows_then) | set(rows_now))
        ],
        "cell_id long, rows_at_build long, rows_now long",
    )
    return counts.select(
        "cell_id",
        "rows_at_build",
        "rows_now",
        (F.col("rows_now") - F.col("rows_at_build")).alias("added"),
        F.round(
            F.col("rows_now")
            / F.when(F.col("rows_at_build") > 0, F.col("rows_at_build")),
            4,
        ).alias("growth"),
    )


def gen_index_rebalance(
    spark: SparkSession,
    index_name: str = "gen_ivf",
    cells: list[int] | None = None,
    hot_factor: float = 4.0,
    factor: int = 2,
    max_retries: int = 5,
    root: str | None = None,
    store=None,
) -> list[int]:
    """Split hot cells into ``factor`` sub-cells, as a generational
    commit. Refinement is deterministic, so the whole operation is
    DuckDB-replayable: sub-centroids = the ``factor`` smallest-id member
    vectors per split cell, excluding ids that survive as centroids,
    iterated to a fixpoint; split rows are reassigned max-cosine WITHIN
    their parent; refined set = kept ∪ subs — pinned row-identical to
    ``_ivf_rebalanced_oracle`` (plans/llm_ops.py) by test and by the
    registered ``embedding_ivf_rebalanced_topk``. ``cells=None`` selects
    cells holding more than
    ``hot_factor ×`` the mean cell population of the CURRENT snapshot
    (the generational store has no separate build-time baseline — prior
    generations' manifests ARE the history; pass an explicit list to
    reproduce an audit-driven choice).

    No lock and no crash handling: this is just another generation —
    rows unchanged (fingerprint carried), new
    centroid set (``centroid_fp`` changes — which automatically forces
    any concurrently-staged append to RESTAGE rather than land rows in
    dead cells), one pointer create to publish, GC for the history. A
    lost race re-reads and redoes from scratch — the split derives from
    the snapshot, so rebasing would split stale contents. Returns the
    parent cell ids actually split."""
    from pyspark.sql import Window

    root = _resolve_root(spark, index_name, root, store)
    fs = _HadoopFS(spark, root)
    ptr = _store_for(root, store)
    for _attempt in range(max_retries):
        seq, latest = ptr.read_latest()
        if latest is None:
            raise FileNotFoundError(
                f"generational index '{index_name}' has no committed generation"
            )
        manifest = _read_manifest(fs, root, latest["gen"])
        cents = spark.read.parquet(os.path.join(root, manifest["centroids"]))
        all_cent_ids = {
            int(r["cent_id"]) for r in cents.select("cent_id").collect()
        }  # bounded: ≤ max_centroids rows
        if cells is None:
            all_files = [
                os.path.join(root, rel)
                for files in manifest["cells"].values()
                for rel in files
            ]
            if not all_files:
                return []
            counts = (
                _read_files(spark, fs, all_files)
                .groupBy("cell")
                .count()
                .collect()  # bounded: one row per live cell ≤ centroids
            )
            mean = sum(r["count"] for r in counts) / len(counts)
            chosen = sorted(
                int(r["cell"])
                for r in counts
                if r["count"] > hot_factor * mean and r["count"] > factor
            )
        else:
            chosen = sorted(int(c) for c in cells)
        split = [c for c in chosen if c in all_cent_ids]
        if not split:
            return []

        # sub-centroid fixpoint: a member row whose id survives as a
        # centroid cannot seed a sub-cell (its id would collide in the
        # refined set), and a cell left with no candidates leaves the
        # split set (returning its id to the kept set, so iterate)
        while True:
            kept_ids = sorted(all_cent_ids - set(split))
            split_files = [
                os.path.join(root, rel)
                for c in split
                for rel in manifest["cells"].get(str(c), [])
            ]
            if not split_files:
                return []
            sub_rows = _read_files(spark, fs, split_files).select(
                F.col("cell").cast("long").alias("parent"),
                "neighbor_id",
                "cv",
            )
            w = Window.partitionBy("parent").orderBy("neighbor_id")
            subcents = (
                sub_rows.where(~F.col("neighbor_id").isin(kept_ids))
                .withColumn("srk", F.row_number().over(w))
                .where(F.col("srk") <= factor)
                .select(
                    "parent",
                    F.col("neighbor_id").alias("sub_id"),
                    F.col("cv").alias("sub_v"),
                )
            )
            splittable = sorted(
                int(r["parent"])
                for r in subcents.select("parent").distinct().collect()
            )  # bounded: ≤ |split| rows
            if splittable == split:
                break
            split = splittable
            if not split:
                return []

        scored = (
            sub_rows.withColumn("_ncv", _norm_col("cv"))
            .join(
                F.broadcast(subcents.withColumn("_nsv", _norm_col("sub_v"))),
                "parent",
            )
            .select(
                "neighbor_id",
                "cv",
                "sub_id",
                _cosine_pre("cv", "sub_v", "_ncv", "_nsv").alias("sub_cos"),
                "parent",
            )
        )
        wr = Window.partitionBy("parent", "neighbor_id").orderBy(
            F.col("sub_cos").desc(), F.col("sub_id")
        )
        assigned = (
            scored.withColumn("rrk", F.row_number().over(wr))
            .where(F.col("rrk") == 1)
            .select(F.col("sub_id").alias("cell_id"), "neighbor_id", "cv")
        )

        gen_name = f"gen-{uuid.uuid4().hex}"
        gen_dir = os.path.join(root, gen_name)
        _write_assigned_cells(assigned, gen_dir)
        refined = cents.where(
            ~F.col("cent_id").isin([int(c) for c in split])
        ).unionByName(
            subcents.select(
                F.col("sub_id").alias("cent_id"), F.col("sub_v").alias("cent_v")
            )
        )
        refined.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(gen_dir, "centroids")
        )
        cent_fp = _corpus_fingerprint(
            spark.read.parquet(os.path.join(gen_dir, "centroids")), "cent_id"
        )
        surviving = {
            c: files
            for c, files in manifest["cells"].items()
            if int(c) not in set(split)
        }
        new_manifest = {
            "kind": "rebalance",
            "cells": _merge_cells(surviving, _list_cell_files(fs, gen_dir, gen_name)),
            "fingerprint": manifest["fingerprint"],  # same rows, new layout
            "centroid_fp": cent_fp,
            "centroids": f"{gen_name}/centroids",
            "parent": latest["gen"],
            "split": split,
        }
        _write_manifest(fs, gen_dir, new_manifest)
        payload = {
            "gen": gen_name,
            "fingerprint": manifest["fingerprint"],
            "centroid_fp": cent_fp,
            "last_token": latest.get("last_token"),
        }
        if ptr.try_commit(seq + 1, payload):
            return split
        _sweep_unpointed(fs, gen_dir)  # superseded mid-split: re-read and redo
    raise CommitConflict(
        f"rebalance of '{index_name}' lost {max_retries} commit races; "
        "schedule structural maintenance apart from append traffic"
    )


def gen_index_compact(
    spark: SparkSession,
    index_name: str = "gen_ivf",
    max_retries: int = 5,
    root: str | None = None,
    store=None,
) -> dict:
    """Rewrite the live index into ONE self-contained generation (appends
    accrete one file-set per batch per touched cell; probes of a
    long-appended index pay that in file-open overhead). Reads the
    pointed snapshot, writes a full generation carrying the SAME
    centroid set, fingerprint, and token, commits with the same CAS. A
    lost race discards the rewrite and re-reads — compaction of a moved
    index must re-read, not rebase, because its content IS the parent
    snapshot. Old generations become GC-able history."""
    root = _resolve_root(spark, index_name, root, store)
    fs = _HadoopFS(spark, root)
    ptr = _store_for(root, store)
    for _attempt in range(max_retries):
        seq, latest = ptr.read_latest()
        if latest is None:
            raise FileNotFoundError(
                f"generational index '{index_name}' has no committed generation"
            )
        manifest = _read_manifest(fs, root, latest["gen"])
        all_files = [
            os.path.join(root, rel)
            for files in manifest["cells"].values()
            for rel in files
        ]
        gen_name = f"gen-{uuid.uuid4().hex}"
        gen_dir = os.path.join(root, gen_name)
        if all_files:
            live = _read_files(spark, fs, all_files).select(
                "neighbor_id", "cv", F.col("cell").alias("cell_id")
            )
            _write_assigned_cells(live, gen_dir)
        else:
            fs.mkdirs(os.path.join(gen_dir, "cells"))
        spark.read.parquet(os.path.join(root, manifest["centroids"])).coalesce(
            1
        ).write.mode("overwrite").parquet(os.path.join(gen_dir, "centroids"))
        new_manifest = {
            "kind": "compact",
            "cells": _list_cell_files(fs, gen_dir, gen_name),
            "fingerprint": manifest["fingerprint"],
            "centroid_fp": manifest["centroid_fp"],
            "centroids": f"{gen_name}/centroids",
            "parent": latest["gen"],
        }
        _write_manifest(fs, gen_dir, new_manifest)
        payload = {
            "gen": gen_name,
            "fingerprint": manifest["fingerprint"],
            "centroid_fp": manifest["centroid_fp"],
            "last_token": latest.get("last_token"),
        }
        if ptr.try_commit(seq + 1, payload):
            return payload
        _sweep_unpointed(fs, gen_dir)  # superseded mid-rewrite: re-read and redo
    raise CommitConflict(
        f"compaction of '{index_name}' lost {max_retries} commit races; "
        "schedule it apart from heavy append traffic and retry"
    )


def gen_index_catalog(
    spark: SparkSession,
    index_names: list[str] | None = None,
    root_by_name: dict[str, str] | None = None,
    store=None,
) -> DataFrame:
    """Fleet dashboard: ONE DataFrame row per generational index — the
    first view an operator of MANY indexes asks for ("what indexes
    exist, what is each serving, how much history does each retain").

    Row shape: ``index_name``, the HEAD commit's ``head_seq / head_gen /
    kind / rows / id_xor / n_cells / n_files / last_token`` (NULLs for a
    root that exists but has never committed — e.g. a build crashed
    before its first pointer), and the retention span ``n_retained`` +
    ``oldest_retained_seq`` (the GC horizon: the oldest sequence
    time-travel/rollback can still reach).

    Cost: one pointer listing + ONE manifest read per index — zero
    parquet I/O, zero LIST over data files — so it composes
    :func:`gen_index_history` heads without paying per-commit manifest
    reads. Safe to poll from a dashboard against any number of 100 TB
    indexes: driver work is O(indexes), not O(rows) or O(commits).

    Discovery: with no arguments, lists this application's staging dir
    for ``*_gens`` index roots (the :func:`_store_root` convention —
    local by construction). ``index_names`` resolves each name through
    the default convention; ``root_by_name`` addresses indexes at
    explicit/shared roots (the multi-application deployment), combinable
    with an injected pointer ``store`` like every other entry point.
    """
    if root_by_name is None:
        if index_names is None:
            app_dir = _app_staging_dir(spark)
            try:
                children = sorted(os.listdir(app_dir))
            except FileNotFoundError:
                children = []
            index_names = [
                c[: -len("_gens")]
                for c in children
                if c.endswith("_gens")
                and os.path.isdir(os.path.join(app_dir, c))
            ]
        root_by_name = {
            name: _resolve_root(spark, name, None, store)
            for name in index_names
        }
    elif store is None:
        # caller-supplied roots get the same POSIX refusal as explicit
        # root= everywhere else: with the default LocalPointerStore an
        # object-store URI would be mkdir'd as a local relative path and
        # a LIVE s3a:// index reported as never-committed (all-NULL head)
        # — the silent-failure mode _resolve_root's docstring warns about
        root_by_name = {
            name: _require_posix_warehouse(
                root, what=f"root_by_name[{name!r}]"
            )
            for name, root in root_by_name.items()
        }
    rows = []
    for name in sorted(root_by_name):
        root = root_by_name[name]
        ptr = _store_for(root, store)
        entries = ptr.pointers()
        if not entries:
            rows.append(
                (name, None, None, None, None, None, None, None, None, 0, None)
            )
            continue
        head_seq, payload = entries[-1]
        m = _read_manifest(_HadoopFS(spark, root), root, payload["gen"])
        rows.append(
            (
                name,
                head_seq,
                payload["gen"],
                m.get("kind"),
                int(m["fingerprint"]["rows"]),
                int(m["fingerprint"]["id_xor"]),
                len(m["cells"]),
                sum(len(fl) for fl in m["cells"].values()),
                payload.get("last_token"),
                len(entries),
                entries[0][0],
            )
        )
    schema = (
        "index_name string, head_seq long, head_gen string, kind string, "
        "rows long, id_xor long, n_cells int, n_files int, "
        "last_token string, n_retained int, oldest_retained_seq long"
    )
    return spark.createDataFrame(rows, schema)
