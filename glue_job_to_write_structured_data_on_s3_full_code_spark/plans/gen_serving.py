"""Stored-IVF serving queries, all on the generational index
(operators/index_store.py) — the engine's one stored ANN index.

Every query here is ``(spark, sf_dir) -> DataFrame`` and keeps its index
under a per-query name in this application's staging dir, so repeated
invocations (the bench loop, a query service) measure the SERVING cost
— one pointer read plus manifest-pruned cell-file reads — not the
amortized build. The lifecycle queries reach their index state through
:func:`_converge`: each lifecycle step commits exactly one pointer
sequence, so the head sequence says which steps an earlier (possibly
crashed) invocation already committed, and only the rest run.

Probes that serve a corpus-complete index verify the committed corpus
fingerprint against ``embeddings`` on every call (:func:`_probe`): one
small aggregate job, never memoized, so an index that does not hold the
corpus being queried raises instead of answering.

Scale shape: a probe is one pointer GET + nprobe·Q manifest-listed file
reads — zero object-store LIST, zero rename — and an append commit is
two small PUTs regardless of index size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.index_store import (
    _corpus_fingerprint,
    gen_index_append,
    gen_index_build,
    gen_index_built,
    gen_index_cell_skew,
    gen_index_compact,
    gen_index_head,
    gen_index_probe,
    gen_index_rebalance,
)
from ..session import tune
from ..sources.parquet import read_table
from .llm_ops import (
    EMBEDDING_IVF_BASE_ORACLE,
    EMBEDDING_IVF_ORACLE,
    IVF_CELL_SKEW_ORACLE,
    IVF_REBALANCED_ORACLE,
)


def _sf_tag(sf_dir: str) -> str:
    return os.path.basename(os.path.normpath(sf_dir))


def _base(emb: DataFrame) -> DataFrame:
    """The build corpus of the append lifecycles: ``vec_id % 50 != 17``.
    The held-out residue class contains no centroid id (centroids are
    ``vec_id % 50 == 0``), so the base build's frozen centroid set equals
    the full corpus's and base ∪ appended batches probes row-identically
    to a full build."""
    return emb.where(F.col("vec_id") % 50 != 17)


def _batch(emb: DataFrame) -> DataFrame:
    return emb.where(F.col("vec_id") % 50 == 17)


def _converge(spark: SparkSession, index_name: str, steps: list) -> None:
    """Run the lifecycle ``steps`` the index has not committed yet. Step
    ``i`` commits sequence ``i + 1``, so one pointer read tells how far
    an earlier invocation got: a crash between steps resumes at the
    first missing commit rather than freezing a partial index into
    serving, and a converged index runs no step at all. The index must
    be private to its query (no other writer advances its sequence)."""
    seq, _head = gen_index_head(spark, index_name=index_name)
    for step in steps[seq or 0:]:
        step()


def _probe(emb: DataFrame, index_name: str, fp: dict | None = None) -> DataFrame:
    """The registered probe shape — top-5 at nprobe=3 for ``vec_id < 10``
    — refusing to answer unless the index's committed fingerprint is
    ``emb``'s (``fp`` when the caller already computed it)."""
    return gen_index_probe(
        emb.where(F.col("vec_id") < 10),
        k=5,
        nprobe=3,
        index_name=index_name,
        expected_fingerprint=fp or _corpus_fingerprint(emb, "vec_id"),
    )


def gen_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve top-5 (nprobe=3) from a single-generation index built on the
    full corpus. Row-identical to the in-memory ``ivf_topk`` (same
    centroids, probe set, scoring), so the query hash-matches
    ``EMBEDDING_IVF_ORACLE``. Also registered as
    ``embedding_ivf_indexed_topk``."""
    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    name = f"gen_ivf_bench_{_sf_tag(sf_dir)}"
    _converge(spark, name, [lambda: gen_index_build(emb, index_name=name)])
    return _probe(emb, name)


def _accreted_index(spark: SparkSession, emb: DataFrame, sf_dir: str) -> str:
    """Build on the base corpus, append the held-out batch against the
    FROZEN centroids: a two-fileset manifest, the shape a long-appended
    index serves before compaction. Returns the index name."""
    name = f"gen_ivf_app_bench_{_sf_tag(sf_dir)}"
    _converge(
        spark,
        name,
        [
            lambda: gen_index_build(_base(emb), index_name=name),
            lambda: gen_index_append(_batch(emb), index_name=name),
        ],
    )
    return name


def gen_ivf_append_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve from the accreted (build + appended batch) index. The probe
    verifies the committed fingerprint against the FULL corpus, so the
    gate row also exercises the XOR composition build fp ⊕ batch fp ==
    full-corpus fp, and hash-matches ``EMBEDDING_IVF_ORACLE``. Registered
    as ``gen_ivf_append`` and ``embedding_ivf_index_append``."""
    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return _probe(emb, _accreted_index(spark, emb, sf_dir))


def embedding_ivf_cell_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift audit of the accreted index: per-cell ``rows_now`` against
    the build commit's counts (:func:`gen_index_cell_skew` — the pointer
    history is the baseline). Appends against frozen centroids make hot
    cells grow when the batch distribution drifts; ``growth`` is the
    signal :func:`embedding_ivf_rebalanced_topk` re-splits on."""
    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return gen_index_cell_skew(spark, index_name=_accreted_index(spark, emb, sf_dir))


def embedding_ivf_rebalanced_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full maintenance lifecycle: build → append → audit → re-split
    the hottest cell (max ``rows_now``, cell_id tie-break) into 2
    sub-cells → probe. Sub-centroids are the cell's two smallest-id
    members and only that cell's rows are reassigned
    (:func:`gen_index_rebalance`), so the whole lifecycle — including
    the refined probe answer — is replayed by the DuckDB oracle."""
    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    name = f"gen_ivf_rebal_{_sf_tag(sf_dir)}"

    def split_hottest() -> None:
        hot = (
            gen_index_cell_skew(spark, index_name=name)
            .orderBy(F.col("rows_now").desc(), "cell_id")
            .first()["cell_id"]
        )
        gen_index_rebalance(spark, index_name=name, cells=[int(hot)], factor=2)

    _converge(
        spark,
        name,
        [
            lambda: gen_index_build(_base(emb), index_name=name),
            lambda: gen_index_append(_batch(emb), index_name=name),
            split_hottest,
        ],
    )
    return _probe(emb, name)


def embedding_ivf_compacted_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction in the lifecycle: the held-out batch lands as three
    appends (three file-sets per touched cell), then
    :func:`gen_index_compact` rewrites the snapshot into one
    self-contained generation. The probe is row-identical to a full
    build — it hash-matches ``EMBEDDING_IVF_ORACLE`` — so this row
    proves compaction changes layout, never content."""
    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    name = f"gen_ivf_compact_{_sf_tag(sf_dir)}"
    appends = [
        # the %50==17 batch in three slices
        lambda r=residue: gen_index_append(
            emb.where(F.col("vec_id") % 150 == r), index_name=name
        )
        for residue in (17, 67, 117)
    ]
    _converge(
        spark,
        name,
        [lambda: gen_index_build(_base(emb), index_name=name)]
        + appends
        + [lambda: gen_index_compact(spark, index_name=name)],
    )
    return _probe(emb, name)


def gen_ivf_rollback_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serve from an index whose head was ROLLED BACK to the base build
    — the "undo the bad append" shape, end to end: build on the base
    corpus (``vec_id % 50 != 17``), append the excluded batch, then
    :func:`~..operators.index_store.gen_index_rollback` re-points
    serving at the build snapshot with one pointer commit. The probe
    must return exactly the IVF results over the BASE corpus
    (:data:`~.llm_ops.EMBEDDING_IVF_BASE_ORACLE`) — the appended rows
    are gone from serving while remaining time-travel-readable at their
    own sequence. Registered in the r14 swap (paired with a same-round
    retirement); parity pinned by tests/test_r14_swap_candidates.py.

    Crash-safe by state inspection, NOT a build-once boolean: gating the
    append+rollback on ``gen_index_built`` would freeze a crash between
    build and rollback into permanently-wrong serving. Instead every
    invocation
    reads the commit ledger (manifest-only) and converges: no index →
    build; build only → append then roll back; head not serving the
    build snapshot → roll back; already rolled back → probe.
    """
    from ..operators.index_store import gen_index_history, gen_index_rollback

    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    name = f"gen_ivf_rb_bench_{_sf_tag(sf_dir)}"
    if not gen_index_built(spark, name):
        gen_index_build(emb.where(F.col("vec_id") % 50 != 17), index_name=name)
    ledger = gen_index_history(spark, index_name=name).collect()
    # the base is the BUILD commit, located by kind — not ledger[0]: if
    # GC ever sweeps the bench index (keep_pointers dropping seq 1), the
    # oldest RETAINED row is a later commit, and healing toward it would
    # silently break the BASE-corpus oracle rather than fail loudly
    builds = [r for r in ledger if r.kind == "build"]
    if not builds:
        raise ValueError(
            f"generational index '{name}' retains no build commit — "
            "cannot identify the rollback base (GC swept it?)"
        )
    base_seq, base_gen = builds[0].seq, builds[0].gen
    if len(ledger) == 1:  # fresh build (or a crash before the append)
        gen_index_append(
            emb.where(F.col("vec_id") % 50 == 17),
            index_name=name,
            idempotency_token="rb_bench:b0",
        )
        gen_index_rollback(spark, base_seq, index_name=name)
    elif ledger[-1].gen != base_gen:  # crash between append and rollback
        gen_index_rollback(spark, base_seq, index_name=name)
    return gen_index_probe(
        emb.where(F.col("vec_id") < 10), k=5, nprobe=3, index_name=name
    )


def gen_streaming_ivf_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stored index maintained by a STREAM: embedding micro-batches
    land through ``foreachBatch`` → :func:`gen_index_append`, with the
    checkpoint-namespaced idempotency token making foreachBatch's
    at-least-once delivery exactly-once at the INDEX (a replayed
    batch_id is a pointer-level no-op — Structured Streaming commits
    batch N before starting N+1, so the latest pointer's high-water
    token is exactly the replay window). Commit cost per micro-batch is
    two small pointer PUTs + the batch's own cell files regardless of
    index size, so the shape holds on a 100 TB index under continuous
    arrival. The closing probe verifies the full-corpus fingerprint
    (composition: base ∪ batches == full corpus; frozen centroids) and
    hash-matches the full-corpus IVF oracle. Registered as
    ``gen_streaming_ivf_maintenance`` and
    ``streaming_ivf_index_maintenance``.

    Crash-safe by COMPLETION gating, not a build-once boolean: the
    harness's stream checkpoint is a temp dir, so a crash mid-stream
    cannot resume from it — instead every invocation compares the head
    commit's row count (one pointer read) against the corpus and, if the
    index is partial (a crash between build and the last append),
    REBUILDS the base as a fresh generation (one CAS commit; the partial
    appends become superseded history) and re-runs the whole stream
    clean. Within one stream run, foreachBatch replay stays exactly-once
    via the checkpoint-namespaced token.
    """
    import shutil
    import tempfile

    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    name = f"gen_ivf_stream_{_sf_tag(sf_dir)}"
    fp = _corpus_fingerprint(emb, "vec_id")
    _seq, head = gen_index_head(spark, index_name=name)
    if head is None or head["fingerprint"]["rows"] != fp["rows"]:
        gen_index_build(_base(emb), index_name=name)
        work = tempfile.mkdtemp(prefix="gen_stream_ivf_")
        in_dir = os.path.join(work, "in")
        os.makedirs(in_dir)
        # the %50==17 batch arrives as three micro-batches (one file per
        # trigger, staggered mtimes fix the arrival order)
        for i, residue in enumerate((17, 67, 117)):
            b = emb.where(F.col("vec_id") % 150 == residue).select(
                "vec_id", "embedding"
            )
            tmp = os.path.join(work, f"t{i}")
            b.coalesce(1).write.parquet(tmp)
            f = [x for x in os.listdir(tmp) if x.endswith(".parquet")][0]
            dst = os.path.join(in_dir, f"part-{i:03d}.parquet")
            shutil.move(os.path.join(tmp, f), dst)
            shutil.rmtree(tmp)
            now = os.stat(dst).st_mtime
            os.utime(dst, (now - 1000 + i * 100, now - 1000 + i * 100))

        ckpt = os.path.join(work, "ckpt")

        def _append(batch_df, batch_id):
            if batch_df.isEmpty():
                return
            gen_index_append(
                batch_df,
                index_name=name,
                idempotency_token=f"{ckpt}:batch-{batch_id}",
            )

        try:
            (
                spark.readStream.schema("vec_id bigint, embedding array<float>")
                .option("maxFilesPerTrigger", "1")
                .parquet(in_dir)
                .writeStream.foreachBatch(_append)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        finally:
            shutil.rmtree(work, ignore_errors=True)
    return _probe(emb, name, fp)


def gen_index_catalog_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLEET view: one row per generational index with its head
    commit and retention span, from
    :func:`~..operators.index_store.gen_index_catalog` (manifest-only —
    one pointer listing + ONE manifest read per index, zero parquet
    I/O). Reported over two indexes held in known lifecycle states
    (build-only, and build→append→rollback), so every column the oracle
    checks is a real invariant of the commit protocol: head sequence,
    served kind, corpus row accounting, retained-pointer count, and the
    GC horizon. Registered in the r15 swap (paired with two same-round
    retirements in plans/llm_ops.py); parity pinned by
    tests/test_r15_swap_candidates.py.

    Crash-safe by ledger inspection like :func:`gen_ivf_rollback_probe`:
    the rolled-back index converges from any crash state (build only →
    append + rollback; head off the build snapshot → rollback), and the
    build-only index is a single commit (no partial state possible).

    Oracle scope: ``GEN_CATALOG_ORACLE``'s sequence/retention constants
    (head_seq 3, n_retained 3) pin the IN-PROCESS lifecycle. A head
    mutated by an EXTERNAL writer heals back to serving the build
    snapshot (kind/corpus rows converge), but the healing rollback is a
    real commit, so head_seq/n_retained advance past the constants —
    the exact divergence is asserted in
    tests/test_r15_swap_candidates.py's crash-recovery test, which runs
    against its own symlink-tagged index pair so the gate row's indexes
    stay on the clean lifecycle.
    """
    from ..operators.index_store import (
        gen_index_catalog,
        gen_index_history,
        gen_index_rollback,
    )

    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    tag = _sf_tag(sf_dir)
    idx_a, idx_c = f"gen_cat_build_{tag}", f"gen_cat_rb_{tag}"
    if not gen_index_built(spark, idx_a):
        gen_index_build(base, index_name=idx_a)
    if not gen_index_built(spark, idx_c):
        gen_index_build(base, index_name=idx_c)
    ledger = gen_index_history(spark, index_name=idx_c).collect()
    builds = [r for r in ledger if r.kind == "build"]
    if not builds:
        raise ValueError(
            f"generational index '{idx_c}' retains no build commit — "
            "cannot identify the rollback base (GC swept it?)"
        )
    base_seq, base_gen = builds[0].seq, builds[0].gen
    if len(ledger) == 1:  # fresh build (or a crash before the append)
        gen_index_append(
            emb.where(F.col("vec_id") % 50 == 17),
            index_name=idx_c,
            idempotency_token="cat_bench:b0",
        )
        gen_index_rollback(spark, base_seq, index_name=idx_c)
    elif ledger[-1].gen != base_gen:  # crash between append and rollback
        gen_index_rollback(spark, base_seq, index_name=idx_c)
    cat = gen_index_catalog(spark, index_names=[idx_a, idx_c])
    # sf-tagged physical names → stable report labels so the oracle is
    # corpus-only; gen uuids / file counts / tokens are runtime-specific
    # and stay out of the hash (they are pinned by the pytest surface)
    return cat.select(
        F.when(F.col("index_name") == idx_a, "build_only")
        .otherwise("rolled_back")
        .alias("index_state"),
        "head_seq",
        "kind",
        F.col("rows").alias("corpus_rows"),
        "n_retained",
        "oldest_retained_seq",
    ).orderBy("index_state")


# both catalog rows are pure protocol invariants over the base corpus:
# the build-only index serves commit 1; the rolled-back index serves the
# BASE snapshot (kind build, base rows) at head sequence 3 with all three
# pointers retained back to sequence 1
GEN_CATALOG_ORACLE = """
WITH n AS (
    SELECT count(*) AS base_n FROM embeddings WHERE vec_id % 50 != 17
)
SELECT 'build_only' AS index_state,
       CAST(1 AS BIGINT) AS head_seq,
       'build' AS kind,
       CAST(base_n AS BIGINT) AS corpus_rows,
       CAST(1 AS INT) AS n_retained,
       CAST(1 AS BIGINT) AS oldest_retained_seq
FROM n
UNION ALL
SELECT 'rolled_back',
       CAST(3 AS BIGINT),
       'build',
       CAST(base_n AS BIGINT),
       CAST(3 AS INT),
       CAST(1 AS BIGINT)
FROM n
"""


def gen_gc_horizon_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GC end of the commit protocol under the driver's hash: a
    build → append → rollback lifecycle is garbage-collected down to
    ``keep_pointers=1``, and the report pins the POST-GC invariants —
    exactly one retained pointer (the rollback head), the horizon
    advanced to its sequence, and the served snapshot still accounting
    for the full base corpus. Two ``min_age_s=0`` sweeps run because
    generation deletion is leased: reachability is computed from the
    pointers alive at sweep START, so the append generation survives
    the sweep that drops its pointer and is reclaimed by the next
    (operators/index_store.gen_index_gc — the historical-reader lease).
    r17 swap candidate (registry is rotation-saturated); parity pinned
    by tests/test_r17_swap_candidates.py, which also pins post-GC
    SERVING (probe rows identical to the in-memory IVF on the base
    corpus) and on-disk generation reclamation.

    Crash-safe by ledger inspection: every interruption point
    (fresh build / append committed but not rolled back / rollback at
    head with any subset of GC sweeps done) is detected from the ledger
    kinds and converges to the same report, and the GC sweeps
    themselves are idempotent no-ops once converged — repeated
    invocations (smoke, gate, bench) are stable by construction.
    """
    from ..operators.index_store import (
        gen_index_catalog,
        gen_index_gc,
        gen_index_history,
        gen_index_rollback,
    )

    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    idx = f"gen_gc_{_sf_tag(sf_dir)}"
    if not gen_index_built(spark, idx):
        gen_index_build(base, index_name=idx)
    ledger = gen_index_history(spark, index_name=idx).collect()
    # ledger `kind` comes from the POINTED generation's manifest, so the
    # converged post-GC state — one pointer, the rollback head — also
    # reads kind='build'. Sequence disambiguates: a FRESH build is the
    # only single-pointer state at seq 1 (GC keeps the newest pointer,
    # and the lifecycle's head commit is seq 3).
    if len(ledger) == 1 and ledger[0].seq == 1:
        # fresh build (or a crash before the append)
        gen_index_append(
            emb.where(F.col("vec_id") % 50 == 17),
            index_name=idx,
            idempotency_token="gc_probe:a0",
        )
        gen_index_rollback(spark, ledger[0].seq, index_name=idx)
    elif ledger[-1].kind == "append":  # crash between append and rollback
        builds = [r for r in ledger if r.kind == "build"]
        if not builds:
            raise ValueError(
                f"generational index '{idx}' retains an append head but "
                "no build commit — cannot identify the rollback base"
            )
        gen_index_rollback(spark, builds[0].seq, index_name=idx)
    # else: the rollback is already at head — only the sweeps remain.
    # Always sweep twice: the first drops pointers below the horizon,
    # the second reclaims the generations those pointers leased; both
    # are no-ops once converged.
    gen_index_gc(spark, index_name=idx, keep_pointers=1, min_age_s=0.0)
    gen_index_gc(spark, index_name=idx, keep_pointers=1, min_age_s=0.0)
    cat = gen_index_catalog(spark, index_names=[idx])
    return cat.select(
        F.lit("gc_converged").alias("index_state"),
        "head_seq",
        "kind",
        F.col("rows").alias("corpus_rows"),
        "n_retained",
        "oldest_retained_seq",
    )


# post-GC protocol invariants: the lifecycle commits three pointers
# (build 1, append 2, rollback 3); gc(keep_pointers=1) retains ONLY the
# rollback head, so the horizon advances to sequence 3 while the served
# snapshot still accounts for the full base corpus
GEN_GC_ORACLE = """
SELECT 'gc_converged' AS index_state,
       CAST(3 AS BIGINT) AS head_seq,
       'build' AS kind,
       CAST(count(*) AS BIGINT) AS corpus_rows,
       CAST(1 AS INT) AS n_retained,
       CAST(3 AS BIGINT) AS oldest_retained_seq
FROM embeddings WHERE vec_id % 50 != 17
"""


# One body may serve several registered names: the embedding_ivf_* and
# streaming_ivf_* names predate the generational store and keep their
# oracles and bench history; `gen_ivf_append` is the name bench.py has
# recorded for the accreted-index probe since round 11.
REGISTRY: list[tuple] = [
    ("gen_ivf_probe", gen_ivf_probe, EMBEDDING_IVF_ORACLE),
    ("embedding_ivf_indexed_topk", gen_ivf_probe, EMBEDDING_IVF_ORACLE),
    ("gen_ivf_append", gen_ivf_append_probe, EMBEDDING_IVF_ORACLE),
    ("embedding_ivf_index_append", gen_ivf_append_probe, EMBEDDING_IVF_ORACLE),
    ("embedding_ivf_cell_skew", embedding_ivf_cell_skew, IVF_CELL_SKEW_ORACLE),
    (
        "embedding_ivf_rebalanced_topk",
        embedding_ivf_rebalanced_topk,
        IVF_REBALANCED_ORACLE,
    ),
    (
        "embedding_ivf_compacted_probe",
        embedding_ivf_compacted_probe,
        EMBEDDING_IVF_ORACLE,
    ),
    ("gen_ivf_rollback_probe", gen_ivf_rollback_probe, EMBEDDING_IVF_BASE_ORACLE),
    (
        "gen_streaming_ivf_maintenance",
        gen_streaming_ivf_maintenance,
        EMBEDDING_IVF_ORACLE,
    ),
    (
        "streaming_ivf_index_maintenance",
        gen_streaming_ivf_maintenance,
        EMBEDDING_IVF_ORACLE,
    ),
    # the fleet-catalog protocol invariants under the driver's DuckDB hash
    ("gen_index_catalog_report", gen_index_catalog_report, GEN_CATALOG_ORACLE),
]
