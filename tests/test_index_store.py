"""Generational (object-store-safe) stored-IVF index: pointer-CAS commit,
manifest-pruned probes, GC-instead-of-repair, multi-writer rebase. The
semantics pin is row-identity with the in-memory `ivf_topk` and the
DuckDB oracles of the registered stored-index queries."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from glue_job_to_write_structured_data_on_s3_full_code_spark.operators import index_store as gs
from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.similarity import ivf_topk
from glue_job_to_write_structured_data_on_s3_full_code_spark.sources import read_table


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _ptrs(spark, name):
    root = gs._store_root(spark, name)
    return gs._store_for(root).pointers()


def _manifest(spark, root, gen_name):
    return gs._read_manifest(gs._HadoopFS(spark, root), root, gen_name)


class _NoReadAt:
    """A contract-minimal pointer store WITHOUT read_at — historical
    entry points must refuse it with a contract-naming TypeError."""

    def read_latest(self):
        return None, None

    def pointers(self):
        return []


class _Backend:
    def __init__(self, name, cls):
        self.name, self.cls = name, cls

    def nm(self, index_name: str) -> str:
        """Backend-suffixed index name: the two param runs of one test
        must not share a store root."""
        return f"{index_name}_{self.name}"


@pytest.fixture(scope="module", params=["local", "memory", "s3"])
def pointer_backend(request):
    """Runs the lifecycle suite against ALL THREE pointer backends.
    'local' is the production default (seam untouched). 'memory'
    repoints the `_store_for` seam at a per-root InMemoryPointerStore —
    the conditional-PUT emulation of the documented S3 backend. 's3'
    repoints it at a per-root S3PointerStore over the botocore-shaped
    fake — the REAL S3 client code (conditional PUTs, read-back,
    paginated listing), minus only the network. Every lifecycle call
    site must resolve its store through the seam for the non-local runs
    to pass, which is exactly the drop-in property this parametrization
    pins (a call site naming LocalPointerStore directly would keep
    committing to disk and the other runs would see no pointers)."""
    if request.param == "local":
        yield _Backend("local", gs.LocalPointerStore)
        return
    stores: dict = {}
    orig = gs._store_for

    if request.param == "memory":
        make = lambda root: gs.InMemoryPointerStore()  # noqa: E731
        cls = gs.InMemoryPointerStore
    else:
        make = lambda root: gs.S3PointerStore(  # noqa: E731
            "test-bucket",
            root.strip("/"),
            client=_FakeS3Client(),
            sleep=lambda s: None,
        )
        cls = gs.S3PointerStore

    def seam(root, store=None):
        if store is not None:
            return store
        return stores.setdefault(root, make(root))

    gs._store_for = seam
    try:
        yield _Backend(request.param, cls)
    finally:
        gs._store_for = orig


@pytest.fixture
def nm(pointer_backend):
    return pointer_backend.nm


@pytest.fixture(scope="module")
def gen_shared(spark, sf_dir, pointer_backend):
    """One shared build PER BACKEND for the read-only core tests (probe
    identity, pointer shape, fingerprint guard) — mutation tests build
    their own. Yields (emb, payload, index_name)."""
    emb = read_table(spark, sf_dir, "embeddings")
    idx = pointer_backend.nm("t_gen_shared")
    payload = gs.gen_index_build(emb, index_name=idx)
    return emb, payload, idx


def test_gen_build_probe_matches_in_memory_ivf(spark, gen_shared):
    """The generational probe must be row-identical to ivf_topk on the
    same corpus — same centroid rule, assignment tie-breaks, cosine
    rounding, and rank ordering."""
    emb, _payload, idx = gen_shared
    q = emb.where(F.col("vec_id") < 10)
    got = _rows(gs.gen_index_probe(q, k=5, index_name=idx))
    want = _rows(ivf_topk(emb, q, k=5))
    assert got == want and len(got) > 0


def test_gen_commit_is_one_pointer_create(spark, gen_shared):
    """Publishing = exactly one new LATEST.<seq> object; the generation
    itself is immutable and complete before the pointer exists."""
    _emb, payload, idx = gen_shared
    ptrs = _ptrs(spark, idx)
    assert [seq for seq, _ in ptrs] == [1]
    assert ptrs[0][1]["gen"] == payload["gen"]
    root = gs._store_root(spark, idx)
    manifest = _manifest(spark, root, payload["gen"])
    # every manifest file lives inside the committed generation
    assert all(rel.startswith(payload["gen"] + "/") for files in manifest["cells"].values() for rel in files)


@pytest.mark.slow  # index mutation lifecycle (slow tier)
def test_gen_probe_as_of_seq_time_travel(spark, sf_dir, pointer_backend, nm):
    """Time-travel probes: as_of_seq serves EXACTLY the snapshot that
    sequence's commit published (reproducing a past training-data
    build's shortlist), at the same one-pointer-read cost. After an
    append, as_of_seq=1 still returns the pre-append results; a
    never-committed sequence raises naming the retained range; and once
    GC sweeps sequence 1 past keep_pointers, the historical probe
    raises instead of serving deleted files."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    idx = nm("t_gen_asof")
    q = emb.where(F.col("vec_id") < 10)

    gs.gen_index_build(base, index_name=idx)
    pre_append = _rows(gs.gen_index_probe(q, k=5, index_name=idx))
    assert pre_append == _rows(ivf_topk(base, q, k=5))

    gs.gen_index_append(batch, index_name=idx, idempotency_token="asof:b0")
    # latest serves the appended corpus; as_of 1 reproduces the past
    assert _rows(gs.gen_index_probe(q, k=5, index_name=idx)) == _rows(
        ivf_topk(emb, q, k=5)
    )
    assert (
        _rows(gs.gen_index_probe(q, k=5, index_name=idx, as_of_seq=1))
        == pre_append
    )
    # identical to latest when explicitly pinned at the head sequence
    assert _rows(
        gs.gen_index_probe(q, k=5, index_name=idx, as_of_seq=2)
    ) == _rows(gs.gen_index_probe(q, k=5, index_name=idx))

    with pytest.raises(FileNotFoundError, match=r"sequence 9.*retained"):
        gs.gen_index_probe(q, k=5, index_name=idx, as_of_seq=9)
    # non-int sequences refuse up front (bool IS int to isinstance; a
    # float would silently behave differently across backends otherwise)
    for bad in (1.0, True, "1"):
        with pytest.raises(TypeError, match="integer sequence"):
            gs.gen_index_probe(q, k=5, index_name=idx, as_of_seq=bad)
    # a contract-minimal store without read_at gets a contract error,
    # not an AttributeError
    with pytest.raises(TypeError, match="read_at"):
        gs.gen_index_probe(
            q,
            k=5,
            root=gs._store_root(spark, idx),
            store=_NoReadAt(),
            as_of_seq=1,
        )

    # GC retires sequence 1 (keep_pointers=1, no age grace): the lease
    # is over — the historical probe must refuse, not read swept files
    root = gs._store_root(spark, idx)
    gs.gen_index_gc(spark, root=root, keep_pointers=1, min_age_s=0.0)
    with pytest.raises(FileNotFoundError, match="sequence 1"):
        gs.gen_index_probe(q, k=5, index_name=idx, as_of_seq=1)
    # the surviving sequence still serves
    assert _rows(
        gs.gen_index_probe(q, k=5, index_name=idx, as_of_seq=2)
    ) == _rows(ivf_topk(emb, q, k=5))


@pytest.mark.slow  # index mutation lifecycle (slow tier)
def test_gen_index_diff_is_manifest_only(spark, sf_dir, pointer_backend, nm):
    """gen_index_diff answers "what did this commit physically change"
    from the two manifests alone: an append only ADDS files (centroids
    unchanged), a compact swaps accreted files for the compacted set,
    a rebalance flips centroids_changed — and missing/invalid sequences
    refuse exactly like as_of_seq probes."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    idx = nm("t_gen_diff")

    gs.gen_index_build(base, index_name=idx)
    gs.gen_index_append(batch, index_name=idx, idempotency_token="diff:b0")

    d12 = gs.gen_index_diff(spark, 1, 2, index_name=idx).collect()
    assert all(r.removed_files == [] for r in d12)  # appends never remove
    assert any(r.added_files for r in d12)
    assert all(r.centroids_changed is False for r in d12)
    # seq_b defaults to the latest commit
    dlatest = gs.gen_index_diff(spark, 1, index_name=idx).collect()
    assert [tuple(r) for r in dlatest] == [tuple(r) for r in d12]
    # every added file belongs to the APPEND's generation
    ptrs = dict(_ptrs(spark, idx))
    gen2 = ptrs[2]["gen"]
    assert all(f.startswith(gen2 + "/") for r in d12 for f in r.added_files)

    # compact collapses the accreted file-sets: the touched cells both
    # remove (the build+append files) and add (the compacted file)
    gs.gen_index_compact(spark, index_name=idx)
    d23 = gs.gen_index_diff(spark, 2, 3, index_name=idx).collect()
    touched = [r for r in d23 if r.removed_files]
    assert touched and all(r.added_files for r in touched)
    assert all(r.centroids_changed is False for r in d23)

    # a rebalance publishes a NEW centroid set
    skew = gs.gen_index_cell_skew(spark, index_name=idx).collect()
    hot = max(skew, key=lambda r: (r["rows_now"], r["cell_id"]))["cell_id"]
    gs.gen_index_rebalance(spark, index_name=idx, cells=[int(hot)])
    d34 = gs.gen_index_diff(spark, 3, 4, index_name=idx).collect()
    assert all(r.centroids_changed is True for r in d34)

    with pytest.raises(FileNotFoundError, match=r"sequence 9.*retained"):
        gs.gen_index_diff(spark, 9, index_name=idx)
    with pytest.raises(TypeError, match="seq_a"):
        gs.gen_index_diff(spark, 1.0, index_name=idx)
    with pytest.raises(TypeError, match="seq_b"):
        gs.gen_index_diff(spark, 1, True, index_name=idx)

    # contract-minimal store without read_at: contract error, not
    # AttributeError (same guarantee the as_of_seq probe gives)
    with pytest.raises(TypeError, match="read_at"):
        gs.gen_index_diff(
            spark, 1, root=gs._store_root(spark, idx), store=_NoReadAt()
        )
    # seq_a=None must refuse, NOT silently diff latest-vs-latest and
    # report "nothing changed"
    with pytest.raises(TypeError, match="seq_a"):
        gs.gen_index_diff(spark, None, index_name=idx)

    # GC retires sequences 1-3: diffing against a swept sequence refuses
    # (the same retention lease as as_of_seq probes), while the
    # surviving head still diffs against itself as all-unchanged
    gs.gen_index_gc(
        spark,
        root=gs._store_root(spark, idx),
        keep_pointers=1,
        min_age_s=0.0,
    )
    with pytest.raises(FileNotFoundError, match="sequence 1"):
        gs.gen_index_diff(spark, 1, index_name=idx)
    same = gs.gen_index_diff(spark, 4, 4, index_name=idx).collect()
    assert same and all(
        r.added_files == [] and r.removed_files == [] and not r.centroids_changed
        for r in same
    )


@pytest.mark.slow  # index mutation lifecycle (slow tier)
def test_gen_index_history_ledger(spark, sf_dir, pointer_backend, nm):
    """gen_index_history is the manifest-only commit ledger: one row per
    retained pointer across build→append→compact→rebalance, with kinds,
    fingerprints, file-set deltas vs the predecessor, the
    centroids_changed flag, and the idempotency high-water mark — and
    after GC it reports exactly the surviving history."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    idx = nm("t_gen_history")

    gs.gen_index_build(base, index_name=idx)
    gs.gen_index_append(batch, index_name=idx, idempotency_token="hist:b0")
    gs.gen_index_compact(spark, index_name=idx)
    skew = gs.gen_index_cell_skew(spark, index_name=idx).collect()
    hot = max(skew, key=lambda r: (r["rows_now"], r["cell_id"]))["cell_id"]
    gs.gen_index_rebalance(spark, index_name=idx, cells=[int(hot)])

    ledger = gs.gen_index_history(spark, index_name=idx).collect()
    assert [r.seq for r in ledger] == [1, 2, 3, 4]
    assert [r.kind for r in ledger] == ["build", "append", "compact", "rebalance"]
    by_seq = {r.seq: r for r in ledger}
    # oldest retained row: no predecessor to diff against → NULL deltas
    assert by_seq[1].files_added is None and by_seq[1].centroids_changed is None
    # the append adds files, removes none, keeps the centroid set, and
    # raises the corpus fingerprint by the batch size
    assert by_seq[2].files_added > 0 and by_seq[2].files_removed == 0
    assert by_seq[2].centroids_changed is False
    assert by_seq[2].rows - by_seq[1].rows == batch.count()
    assert by_seq[2].last_token == "hist:b0"
    # the compact swaps accreted files, identical corpus + centroids
    assert by_seq[3].files_removed > 0 and by_seq[3].centroids_changed is False
    assert (by_seq[3].rows, by_seq[3].id_xor) == (by_seq[2].rows, by_seq[2].id_xor)
    # the rebalance publishes a new centroid set, same corpus
    assert by_seq[4].centroids_changed is True
    assert (by_seq[4].rows, by_seq[4].id_xor) == (by_seq[2].rows, by_seq[2].id_xor)
    # the ledger's file-set deltas agree with gen_index_diff's counts
    d23 = gs.gen_index_diff(spark, 2, 3, index_name=idx).collect()
    assert by_seq[3].files_added == sum(len(r.added_files) for r in d23)
    assert by_seq[3].files_removed == sum(len(r.removed_files) for r in d23)
    # cells/files bookkeeping is internally consistent
    assert all(r.n_cells > 0 and r.n_files >= r.n_cells for r in ledger)

    # GC to the latest pointer: the ledger shrinks to the survivor, whose
    # deltas are NULL (its predecessor is gone — a ledger must not guess)
    gs.gen_index_gc(
        spark, root=gs._store_root(spark, idx), keep_pointers=1, min_age_s=0.0
    )
    survived = gs.gen_index_history(spark, index_name=idx).collect()
    assert [r.seq for r in survived] == [4]
    assert survived[0].files_added is None and survived[0].centroids_changed is None

    # an index with no committed generation refuses loudly
    with pytest.raises(FileNotFoundError, match="no committed generation"):
        gs.gen_index_history(spark, index_name=nm("t_gen_history_none"))


def test_gen_index_rollback_cas_races(spark, tmp_path):
    """Rollback is ONE conditional pointer PUT, so its concurrency story
    is pure CAS: a commit race (concurrent append takes the sequence)
    rebases against the new head and retries; persistent contention
    exhausts the bounded budget and raises CommitConflict — never a spin,
    never a silent half-rollback. Pointer-level test (rollback touches no
    manifests or data), injected races via the in-memory fault harness."""
    root = str(tmp_path / "rb_races")
    store = gs.InMemoryPointerStore()
    p1 = {"gen": "g-base", "fingerprint": {"rows": 1, "id_xor": 1}, "last_token": None}
    p2 = {"gen": "g-append", "fingerprint": {"rows": 2, "id_xor": 3}, "last_token": "t1"}
    assert store.try_commit(1, p1) and store.try_commit(2, p2)

    # a competing append steals seq 3 inside the PUT window: rollback
    # must lose cleanly, rebase, and land at seq 4
    p3 = {"gen": "g-race", "fingerprint": {"rows": 3, "id_xor": 0}, "last_token": "t2"}
    store.inject_race(lambda s, seq: s._put_if_absent(seq, json.dumps(p3)))
    out = gs.gen_index_rollback(spark, 1, index_name="rb", root=root, store=store)
    assert out == p1
    assert store.read_latest() == (4, p1)
    assert store.read_at(3) == p3  # the racer's commit survives untouched

    # persistent contention: every attempt loses → bounded CommitConflict
    class _AlwaysTaken(gs.InMemoryPointerStore):
        def try_commit(self, seq, payload):
            return False

    losing = _AlwaysTaken()
    assert gs.InMemoryPointerStore.try_commit(losing, 1, p1)
    assert gs.InMemoryPointerStore.try_commit(losing, 2, p2)
    with pytest.raises(gs.CommitConflict, match="lost 5 commit races"):
        gs.gen_index_rollback(spark, 1, index_name="rb", root=root, store=losing)

    # rolling back to the head is a no-op even under an armed race hook
    quiet = gs.InMemoryPointerStore()
    assert quiet.try_commit(1, p1)
    assert gs.gen_index_rollback(
        spark, 1, index_name="rb", root=root, store=quiet
    ) == p1
    assert quiet.read_latest() == (1, p1)


@pytest.mark.slow  # index mutation lifecycle (slow tier)
def test_gen_index_rollback_repoints_serving(spark, sf_dir, pointer_backend, nm):
    """gen_index_rollback re-points serving at a retained snapshot with
    one pointer commit: probes serve the old corpus again, history is
    forward-only (the rolled-back commits stay readable via as_of_seq),
    the idempotency high-water mark reverts with the snapshot so a
    re-sent append re-applies, and invalid/swept targets refuse through
    the shared historical-read contract."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.similarity import (
        ivf_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    q = emb.where(F.col("vec_id") < 10)
    idx = nm("t_gen_rollback")

    gs.gen_index_build(base, index_name=idx)
    gs.gen_index_append(batch, index_name=idx, idempotency_token="rb:b0")
    want_base = _rows(ivf_topk(base, q, k=5))
    want_full = _rows(ivf_topk(emb, q, k=5))
    assert _rows(gs.gen_index_probe(q, k=5, index_name=idx)) == want_full

    # rollback to the pre-append snapshot: latest serves the base corpus
    payload = gs.gen_index_rollback(spark, 1, index_name=idx)
    assert _rows(gs.gen_index_probe(q, k=5, index_name=idx)) == want_base
    # forward-only: three pointers, seq 3 re-serves seq 1's generation,
    # and the rolled-back append snapshot still time-travels
    ptrs = dict(_ptrs(spark, idx))
    assert sorted(ptrs) == [1, 2, 3]
    assert ptrs[3]["gen"] == ptrs[1]["gen"] == payload["gen"]
    assert _rows(
        gs.gen_index_probe(q, k=5, index_name=idx, as_of_seq=2)
    ) == want_full
    # the ledger shows the event: the head row carries the build's
    # fingerprint and negative file drift vs the append it undid
    ledger = {r.seq: r for r in gs.gen_index_history(spark, index_name=idx).collect()}
    assert ledger[3].rows == ledger[1].rows
    assert ledger[3].files_removed > 0 and ledger[3].files_added == 0
    # the high-water mark reverted: re-sending the SAME append token
    # re-applies (the index really is the old snapshot again)
    assert ledger[3].last_token is None
    gs.gen_index_append(batch, index_name=idx, idempotency_token="rb:b0")
    assert _rows(gs.gen_index_probe(q, k=5, index_name=idx)) == want_full

    # rolling back to the snapshot already being served is a no-op
    before = [s for s, _ in _ptrs(spark, idx)]
    gs.gen_index_rollback(spark, 4, index_name=idx)
    assert [s for s, _ in _ptrs(spark, idx)] == before

    # contract refusals ride _pointer_at: bad type, never-committed seq
    with pytest.raises(TypeError, match="to_seq"):
        gs.gen_index_rollback(spark, 1.0, index_name=idx)
    with pytest.raises(FileNotFoundError, match="sequence 99"):
        gs.gen_index_rollback(spark, 99, index_name=idx)
    # GC past the target: a swept snapshot cannot be rolled back to
    gs.gen_index_gc(
        spark, root=gs._store_root(spark, idx), keep_pointers=1, min_age_s=0.0
    )
    with pytest.raises(FileNotFoundError, match="sequence 1"):
        gs.gen_index_rollback(spark, 1, index_name=idx)


@pytest.mark.slow  # index mutation lifecycle (slow tier)
def test_gen_append_references_parent_files(spark, sf_dir, pointer_backend, nm):
    """An append generation holds ONLY the batch's files; untouched
    parent files are REFERENCED by manifest, not copied — the O(|batch|)
    property. Probe afterwards equals ivf_topk on base ∪ batch."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    built = gs.gen_index_build(base, index_name=nm("t_gen_app"))
    appended = gs.gen_index_append(batch, index_name=nm("t_gen_app"))
    root = gs._store_root(spark, nm("t_gen_app"))
    manifest = _manifest(spark, root, appended["gen"])
    gens_used = {rel.split("/", 1)[0] for files in manifest["cells"].values() for rel in files}
    assert built["gen"] in gens_used and appended["gen"] in gens_used
    # the append's own directory contains only batch-sized state
    own = [rel for files in manifest["cells"].values() for rel in files if rel.startswith(appended["gen"])]
    n_batch = batch.count()
    got_rows = spark.read.parquet(*[os.path.join(root, rel) for rel in own])
    assert got_rows.count() == n_batch
    q = emb.where(F.col("vec_id") < 10)
    assert _rows(gs.gen_index_probe(q, k=5, index_name=nm("t_gen_app"))) == _rows(
        ivf_topk(emb, q, k=5)
    )
    assert gs.gen_index_verify(spark, nm("t_gen_app"))["consistent"]


@pytest.mark.slow  # index mutation lifecycle (slow tier)
def test_gen_idempotency_token_skips_replay(spark, sf_dir, pointer_backend, nm):
    """A replayed delivery (same token) must not advance the pointer or
    re-append rows — foreachBatch's at-least-once becomes exactly-once."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    gs.gen_index_build(base, index_name=nm("t_gen_tok"))
    first = gs.gen_index_append(batch, index_name=nm("t_gen_tok"), idempotency_token="ck:b0")
    n_ptrs = len(_ptrs(spark, nm("t_gen_tok")))
    replay = gs.gen_index_append(batch, index_name=nm("t_gen_tok"), idempotency_token="ck:b0")
    assert replay == first
    assert len(_ptrs(spark, nm("t_gen_tok"))) == n_ptrs
    assert gs.gen_index_verify(spark, nm("t_gen_tok"))["consistent"]


def test_gen_probe_fingerprint_mismatch_raises(spark, gen_shared):
    emb, _payload, idx = gen_shared
    # a subset fingerprint ≠ the indexed full corpus
    wrong = gs._corpus_fingerprint(emb.where(F.col("vec_id") % 50 != 17), "vec_id")
    with pytest.raises(ValueError, match="does not match the corpus"):
        gs.gen_index_probe(
            emb.where(F.col("vec_id") < 5),
            k=5,
            index_name=idx,
            expected_fingerprint=wrong,
        )


@pytest.mark.slow  # index mutation lifecycle (slow tier)
def test_gen_gc_respects_age_horizon(spark, sf_dir, pointer_backend, nm):
    """An unpointed generation younger than min_age_s is a possibly-
    staging writer and must survive the sweep; with the horizon at 0 it
    is crash residue and goes."""
    emb = read_table(spark, sf_dir, "embeddings")
    gs.gen_index_build(emb.where(F.col("vec_id") < 500), index_name=nm("t_gen_gc"))
    root = gs._store_root(spark, nm("t_gen_gc"))
    orphan = os.path.join(root, "gen-deadbeef")
    os.makedirs(os.path.join(orphan, "cells"))
    with open(os.path.join(orphan, "manifest.json"), "w") as fh:
        json.dump({"cells": {}}, fh)
    kept = gs.gen_index_gc(spark, nm("t_gen_gc"), min_age_s=3600.0)
    assert "gen-deadbeef" in kept["kept_generations"]
    swept = gs.gen_index_gc(spark, nm("t_gen_gc"), min_age_s=0.0)
    assert "gen-deadbeef" in swept["dropped_generations"]
    assert not os.path.exists(orphan)


@pytest.mark.slow  # crash-injection lifecycle test (slow tier)
def test_gen_crash_before_commit_is_invisible_and_gc_sweeps(spark, sf_dir, pointer_backend, nm):
    """Kill the writer AFTER its generation is fully staged but BEFORE
    the pointer create: the index serves the old snapshot unchanged
    (there is no publish window to crash inside), verify stays
    consistent, and GC sweeps the orphan generation."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    gs.gen_index_build(base, index_name=nm("t_gen_crash"))
    before = _rows(
        gs.gen_index_probe(
            emb.where(F.col("vec_id") < 10), k=5, index_name=nm("t_gen_crash")
        )
    )

    real = pointer_backend.cls.try_commit

    def dying(self, seq, payload):
        raise OSError("simulated process kill before pointer create")

    pointer_backend.cls.try_commit = dying
    try:
        with pytest.raises(OSError, match="simulated process kill"):
            gs.gen_index_append(batch, index_name=nm("t_gen_crash"))
    finally:
        pointer_backend.cls.try_commit = real

    # the crash is INVISIBLE to readers: same pointer, same results
    assert len(_ptrs(spark, nm("t_gen_crash"))) == 1
    after = _rows(
        gs.gen_index_probe(
            emb.where(F.col("vec_id") < 10), k=5, index_name=nm("t_gen_crash")
        )
    )
    assert after == before
    assert gs.gen_index_verify(spark, nm("t_gen_crash"))["consistent"]
    report = gs.gen_index_gc(spark, nm("t_gen_crash"), min_age_s=0.0)
    assert len(report["dropped_generations"]) == 1  # the orphan staging gen
    # and the real append still lands afterwards
    gs.gen_index_append(batch, index_name=nm("t_gen_crash"))
    q = emb.where(F.col("vec_id") < 10)
    assert _rows(gs.gen_index_probe(q, k=5, index_name=nm("t_gen_crash"))) == _rows(
        ivf_topk(emb, q, k=5)
    )


@pytest.mark.slow  # concurrency lifecycle test (slow tier)
def test_gen_concurrent_appends_rebase_not_lost(spark, sf_dir, pointer_backend, nm):
    """Two appends racing one index: the loser of the pointer CAS must
    REBASE (recompose its manifest against the winner) and commit at the
    next sequence — both batches land exactly once, no lock anywhere.
    The race is made deterministic by having writer A's first commit
    attempt yield to a full competing append from writer B."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    b_a = emb.where(F.col("vec_id") % 150 == 17)
    b_b = emb.where(F.col("vec_id") % 150 == 67)
    rest = emb.where(F.col("vec_id") % 150 == 117)
    gs.gen_index_build(emb.subtract(b_a).subtract(b_b).subtract(rest), index_name=nm("t_gen_race"))
    gs.gen_index_append(rest, index_name=nm("t_gen_race"))

    real = pointer_backend.cls.try_commit
    state = {"interposed": False}

    def racing(self, seq, payload):
        if not state["interposed"]:
            state["interposed"] = True
            pointer_backend.cls.try_commit = real
            try:
                gs.gen_index_append(b_b, index_name=nm("t_gen_race"))  # B wins
            finally:
                pointer_backend.cls.try_commit = racing
        return real(self, seq, payload)

    pointer_backend.cls.try_commit = racing
    try:
        gs.gen_index_append(b_a, index_name=nm("t_gen_race"))  # A rebases
    finally:
        pointer_backend.cls.try_commit = real

    assert state["interposed"], "the race was never exercised"
    report = gs.gen_index_verify(spark, nm("t_gen_race"))
    assert report["consistent"]
    assert report["actual"]["rows"] == emb.count()
    q = emb.where(F.col("vec_id") < 10)
    assert _rows(gs.gen_index_probe(q, k=5, index_name=nm("t_gen_race"))) == _rows(
        ivf_topk(emb, q, k=5)
    )


@pytest.mark.slow  # concurrency lifecycle test (slow tier)
def test_gen_append_restages_when_centroids_move(spark, sf_dir, pointer_backend, nm):
    """If a REBUILD with a different centroid set wins the race while an
    append is staged, the staged assignment points at dead cells — the
    append must throw it away and restage against the new centroids,
    never rebase onto them."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    gs.gen_index_build(base, index_name=nm("t_gen_restage"), centroid_mod=50)

    real = pointer_backend.cls.try_commit
    state = {"interposed": False}

    def rebuilding(self, seq, payload):
        if not state["interposed"]:
            state["interposed"] = True
            pointer_backend.cls.try_commit = real
            try:
                # different centroid rule -> different centroid_fp
                gs.gen_index_build(base, index_name=nm("t_gen_restage"), centroid_mod=25)
            finally:
                pointer_backend.cls.try_commit = rebuilding
        return real(self, seq, payload)

    pointer_backend.cls.try_commit = rebuilding
    try:
        gs.gen_index_append(batch, index_name=nm("t_gen_restage"))
    finally:
        pointer_backend.cls.try_commit = real

    assert state["interposed"]
    report = gs.gen_index_verify(spark, nm("t_gen_restage"))
    assert report["consistent"]
    assert report["actual"]["rows"] == emb.count()
    # and the batch is assigned against the REBUILT (mod=25) centroids:
    # the probe with the same corpus matches the mod=25 in-memory IVF
    q = emb.where(F.col("vec_id") < 10)
    assert _rows(gs.gen_index_probe(q, k=5, index_name=nm("t_gen_restage"))) == _rows(
        ivf_topk(emb, q, k=5, centroid_mod=25)
    )


@pytest.mark.slow  # index mutation lifecycle (slow tier)
def test_gen_compact_collapses_history_and_preserves_results(spark, sf_dir, pointer_backend, nm):
    """After appends accrete per-batch file sets, compaction rewrites the
    live index into ONE self-contained generation: same fingerprint,
    same probe rows, manifest references a single generation; the
    superseded history is GC-able and the probe still serves after GC."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    gs.gen_index_build(base, index_name=nm("t_gen_cpt"))
    gs.gen_index_append(
        emb.where(F.col("vec_id") % 150 == 17), index_name=nm("t_gen_cpt")
    )
    gs.gen_index_append(
        emb.where((F.col("vec_id") % 150 == 67) | (F.col("vec_id") % 150 == 117)),
        index_name=nm("t_gen_cpt"),
    )
    q = emb.where(F.col("vec_id") < 10)
    before = _rows(gs.gen_index_probe(q, k=5, index_name=nm("t_gen_cpt")))

    compacted = gs.gen_index_compact(spark, nm("t_gen_cpt"))
    root = gs._store_root(spark, nm("t_gen_cpt"))
    manifest = _manifest(spark, root, compacted["gen"])
    gens_used = {rel.split("/", 1)[0] for files in manifest["cells"].values() for rel in files}
    assert gens_used == {compacted["gen"]}
    assert _rows(gs.gen_index_probe(q, k=5, index_name=nm("t_gen_cpt"))) == before
    assert gs.gen_index_verify(spark, nm("t_gen_cpt"))["consistent"]

    # two-phase deletion: sweep 1 drops the old pointers but KEEPS their
    # generations (the historical-reader lease — reachability is computed
    # pre-drop); sweep 2, spaced past the (zero) horizon, deletes them
    sweep1 = gs.gen_index_gc(spark, nm("t_gen_cpt"), keep_pointers=1, min_age_s=0.0)
    assert sweep1["dropped_pointers"] and not sweep1["dropped_generations"]
    assert _rows(gs.gen_index_probe(q, k=5, index_name=nm("t_gen_cpt"))) == before
    sweep2 = gs.gen_index_gc(spark, nm("t_gen_cpt"), keep_pointers=1, min_age_s=0.0)
    assert len(sweep2["dropped_generations"]) >= 3  # build + 2 append gens
    assert _rows(gs.gen_index_probe(q, k=5, index_name=nm("t_gen_cpt"))) == before
    assert gs.gen_index_verify(spark, nm("t_gen_cpt"))["consistent"]


@pytest.mark.slow  # index mutation lifecycle (slow tier)
def test_gen_rebalance_matches_rebalanced_oracle(spark, sf_dir, duck, pointer_backend, nm):
    """The generational rebalance must match the DuckDB replay of the
    split (_ivf_rebalanced_oracle): on a full-corpus build, splitting
    the hottest cell (most rows, smallest id) into 2 sub-cells gives a
    refined probe row-identical to the oracle. Rows and fingerprint are
    unchanged (same data, new layout); the split cell disappears from
    the manifest and its sub-cells appear."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.plans.llm_ops import (
        _ivf_rebalanced_oracle,
    )
    from tests.parity import assert_parity

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    gs.gen_index_build(emb, index_name=nm("t_gen_rb"))

    # the oracle's hot cell, read from the gen store's manifest
    root = gs._store_root(spark, nm("t_gen_rb"))
    _seq, latest = gs._store_for(root).read_latest()
    manifest = _manifest(spark, root, latest["gen"])
    files = [os.path.join(root, rel) for fs in manifest["cells"].values() for rel in fs]
    counts = spark.read.parquet(*files).groupBy("cell").count().collect()
    hot = min(counts, key=lambda r: (-r["count"], int(r["cell"])))
    split_cells = [int(hot["cell"])]

    got_split = gs.gen_index_rebalance(
        spark, nm("t_gen_rb"), cells=split_cells, factor=2
    )
    assert got_split == split_cells

    assert_parity(
        gs.gen_index_probe(q, k=5, nprobe=3, index_name=nm("t_gen_rb")),
        duck,
        _ivf_rebalanced_oracle(),
        "gen_index_rebalance",
    )

    report = gs.gen_index_verify(spark, nm("t_gen_rb"))
    assert report["consistent"]
    assert report["actual"]["rows"] == emb.count()
    new_manifest = _manifest(
        spark, root, gs._store_for(root).read_latest()[1]["gen"]
    )
    assert not (set(map(str, split_cells)) & set(new_manifest["cells"]))


@pytest.mark.slow  # concurrency lifecycle test (slow tier)
def test_gen_rebalance_forces_concurrent_append_to_restage(spark, sf_dir, pointer_backend, nm):
    """A rebalance that wins the race while an append is staged changes
    centroid_fp — the append must restage against the refined set, and
    the batch's rows must land in LIVE cells (reachable by probes)."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    gs.gen_index_build(base, index_name=nm("t_gen_rb_race"))

    root = gs._store_root(spark, nm("t_gen_rb_race"))
    _seq, latest = gs._store_for(root).read_latest()
    manifest = _manifest(spark, root, latest["gen"])
    files = [os.path.join(root, rel) for fs in manifest["cells"].values() for rel in fs]
    hot = int(
        max(
            spark.read.parquet(*files).groupBy("cell").count().collect(),
            key=lambda r: (r["count"], r["cell"]),
        )["cell"]
    )

    real = pointer_backend.cls.try_commit
    state = {"interposed": False}

    def splitting(self, seq, payload):
        if not state["interposed"]:
            state["interposed"] = True
            pointer_backend.cls.try_commit = real
            try:
                gs.gen_index_rebalance(spark, nm("t_gen_rb_race"), cells=[hot])
            finally:
                pointer_backend.cls.try_commit = splitting
        return real(self, seq, payload)

    pointer_backend.cls.try_commit = splitting
    try:
        gs.gen_index_append(batch, index_name=nm("t_gen_rb_race"))
    finally:
        pointer_backend.cls.try_commit = real

    assert state["interposed"]
    report = gs.gen_index_verify(spark, nm("t_gen_rb_race"))
    assert report["consistent"]
    assert report["actual"]["rows"] == emb.count()
    # every manifest cell is a live centroid — no rows stranded in the
    # pre-split layout
    final = _manifest(
        spark, root, gs._store_for(root).read_latest()[1]["gen"]
    )
    cents = spark.read.parquet(os.path.join(root, final["centroids"]))
    live = {int(r["cent_id"]) for r in cents.select("cent_id").collect()}
    assert {int(c) for c in final["cells"]} <= live


@pytest.mark.slow  # concurrency lifecycle test (slow tier)
def test_gen_build_refuses_to_clobber_interleaved_append(spark, sf_dir, pointer_backend, nm):
    """A rebuild staged from corpus snapshot C must NOT publish over an
    append that committed while it staged: publishing would drop the
    batch's rows AND carry its token forward, so the stream's replay
    would self-discard as already-applied — permanent silent loss. The
    build must raise CommitConflict; the interleaved batch survives."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    idx = nm("t_gen_clobber")  # per-backend root, per the nm contract
    gs.gen_index_build(base, index_name=idx)

    real = pointer_backend.cls.try_commit
    state = {"interposed": False}

    def appending(self, seq, payload):
        if not state["interposed"]:
            state["interposed"] = True
            pointer_backend.cls.try_commit = real
            try:
                gs.gen_index_append(
                    batch, index_name=idx, idempotency_token="ck:b7"
                )
            finally:
                pointer_backend.cls.try_commit = appending
        return real(self, seq, payload)

    pointer_backend.cls.try_commit = appending
    try:
        with pytest.raises(gs.CommitConflict, match="advanced while this build"):
            gs.gen_index_build(base, index_name=idx)
    finally:
        pointer_backend.cls.try_commit = real

    assert state["interposed"]
    # the interleaved batch is still served, its token still armed
    report = gs.gen_index_verify(spark, idx)
    assert report["consistent"] and report["actual"]["rows"] == emb.count()
    replay = gs.gen_index_append(
        batch, index_name=idx, idempotency_token="ck:b7"
    )
    assert replay["last_token"] == "ck:b7"
    assert gs.gen_index_verify(spark, idx)["actual"]["rows"] == emb.count()


def test_gen_build_refuses_empty_centroid_set(spark, sf_dir, pointer_backend, nm):
    """A corpus with no ids under the centroid rule must refuse at build
    time — the alternative is an index whose fingerprint claims N rows
    while every row was dropped by the assignment."""
    emb = read_table(spark, sf_dir, "embeddings")
    odd = emb.where(F.col("vec_id") % 2 == 1)
    with pytest.raises(ValueError, match="NO centroids"):
        gs.gen_index_build(odd, index_name=nm("t_gen_nocents"), centroid_mod=2)


@pytest.mark.slow  # index mutation lifecycle (slow tier)
def test_gen_gc_measures_reader_age_from_supersession(spark, sf_dir, pointer_backend, nm):
    """An unreachable generation must stay until the OLDEST surviving
    pointer is min_age_s old — a generation that served reads for hours
    is not sweepable the instant structural commits supersede it (the
    creation-age-only rule would void the in-flight-reader horizon).
    Leaked pointer temp files are swept on the same horizon."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    built = gs.gen_index_build(base, index_name=nm("t_gen_age"))
    root = gs._store_root(spark, nm("t_gen_age"))
    # age the BUILD generation (it has served for "hours")
    old = os.path.getmtime(os.path.join(root, built["gen"])) - 7200
    os.utime(os.path.join(root, built["gen"]), (old, old))
    # structural commit supersedes it seconds later
    gs.gen_index_compact(spark, nm("t_gen_age"))
    leak = None
    if pointer_backend.name == "local":
        # a crashed try_commit leaked a temp payload (conditional PUT
        # backends have no temp objects — nothing to leak there)
        leak = os.path.join(root, "ptr", ".tmp.deadbeef")
        with open(leak, "w") as fh:
            fh.write("{}")
        os.utime(leak, (old, old))

    report = gs.gen_index_gc(spark, nm("t_gen_age"), keep_pointers=1, min_age_s=60.0)
    # the superseding pointer is seconds old -> readers may still be on
    # the old generation; it must survive even though its dir is 2h old
    assert built["gen"] in report["kept_generations"]
    if leak is not None:
        assert not os.path.exists(leak), "aged temp leak must be swept"

    # age the surviving pointer (and the sweep-spacing stamp) past the
    # horizon -> now sweepable
    if pointer_backend.name == "local":
        ptr_dir = os.path.join(root, "ptr")
        for fname in os.listdir(ptr_dir):
            p = os.path.join(ptr_dir, fname)
            os.utime(p, (old, old))
    else:
        store = gs._store_for(root)
        if pointer_backend.name == "memory":
            for s in list(store._mtimes):
                store._mtimes[s] = old
        else:  # s3: LastModified lives on the fake bucket's objects
            fake = store._c
            for key, (body, _mtime) in list(fake.objects.items()):
                fake.objects[key] = (body, old)
        stamp = os.path.join(root, "ptr", ".last_gc")
        if os.path.exists(stamp):
            os.utime(stamp, (old, old))
    report2 = gs.gen_index_gc(spark, nm("t_gen_age"), keep_pointers=1, min_age_s=60.0)
    assert built["gen"] in report2["dropped_generations"]


@pytest.mark.slow  # index plan gate, builds on the stored index (slow tier)
def test_gen_probe_reads_only_probed_cells_files(spark, gen_shared):
    """Manifest pruning is the generational analog of dynamic partition
    pruning — the probe's scan must touch exactly the probed cells'
    manifest files, never the whole index."""
    emb, payload, idx = gen_shared
    # ONE query at nprobe=1: at sf0.001 the index has only a handful of
    # cells, and a wider probe legitimately covers them all
    q = emb.where(F.col("vec_id") == 3)
    out = gs.gen_index_probe(q, k=5, nprobe=1, index_name=idx)

    root = gs._store_root(spark, idx)
    manifest = _manifest(spark, root, payload["gen"])
    all_files = {
        os.path.realpath(os.path.join(root, rel))
        for files in manifest["cells"].values()
        for rel in files
    }
    touched = {
        os.path.realpath(p.removeprefix("file:"))
        for p in out.inputFiles()
        if "ptr" not in p
    }
    assert touched, "probe plan reports no input files"
    assert touched < all_files, (
        "probe read the ENTIRE index — manifest pruning is not happening"
    )
    # and exactly the probed cells' files: recompute the probed set
    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.similarity import (
        _as_double,
        _ivf_assign,
    )

    cents = spark.read.parquet(os.path.join(root, manifest["centroids"]))
    probed = {
        str(r["cent_id"])
        for r in _ivf_assign(
            q.select(F.col("vec_id").alias("query_id"), _as_double(F.col("embedding")).alias("qv")),
            cents, "query_id", "qv", keep=1,
        ).select("cent_id").distinct().collect()
    }
    expected = {
        os.path.realpath(os.path.join(root, rel))
        for c in probed
        for rel in manifest["cells"].get(c, [])
    }
    assert touched == expected


@pytest.mark.slow  # index mutation lifecycle (slow tier)
def test_gen_cell_skew_reports_growth_against_pointer_history(spark, sf_dir, pointer_backend, nm):
    """The pointer history IS the drift baseline: after an append, skew
    vs the oldest surviving pointer shows exactly the appended cells as
    added rows (growth NULL for cells born after the baseline), and the
    hot cells it names are valid rebalance input."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    gs.gen_index_build(base, index_name=nm("t_gen_skew"))
    gs.gen_index_append(batch, index_name=nm("t_gen_skew"))

    skew = gs.gen_index_cell_skew(spark, nm("t_gen_skew")).collect()
    total_added = sum(r["added"] for r in skew)
    assert total_added == batch.count()
    assert all(r["rows_now"] >= r["rows_at_build"] for r in skew)
    # newborn cells (no baseline rows) report NULL growth, never a crash
    for r in skew:
        if r["rows_at_build"] == 0:
            assert r["growth"] is None

    # feed the hottest cell (highest growth, newborn cells first) to the
    # rebalance — the audit→rebalance loop
    by_heat = sorted(
        skew, key=lambda r: (r["growth"] is not None, -(r["growth"] or 0), r["cell_id"])
    )
    hot = [int(r["cell_id"]) for r in by_heat if (r["added"] or 0) > 0][:1]
    if hot:
        split = gs.gen_index_rebalance(spark, nm("t_gen_skew"), cells=hot)
        assert split == hot
        assert gs.gen_index_verify(spark, nm("t_gen_skew"))["consistent"]
        # EMPTIED cells must still report (full_outer): the drained
        # split parent shows rows_now=0 with negative added, not
        # silently vanish from the report
        post = {r["cell_id"]: r for r in gs.gen_index_cell_skew(spark, nm("t_gen_skew")).collect()}
        drained = post[hot[0]]
        assert drained["rows_now"] == 0
        assert drained["added"] == -(drained["rows_at_build"])
        assert drained["growth"] == 0.0

    # explicit baseline: skew vs the LATEST pointer is all-zero added
    seqs = [s for s, _ in gs._store_for(gs._store_root(spark, nm(("t_gen_skew")))).pointers()]
    flat = gs.gen_index_cell_skew(spark, nm("t_gen_skew"), baseline_seq=seqs[-1]).collect()
    assert all(r["added"] == 0 for r in flat)
    with pytest.raises(ValueError, match="no surviving pointer at seq"):
        gs.gen_index_cell_skew(spark, nm("t_gen_skew"), baseline_seq=99)


@pytest.mark.slow  # streaming end-to-end lifecycle (slow tier)
def test_gen_streaming_maintenance_matches_full_rebuild(spark, sf_dir, pointer_backend, nm):
    """The generational store's STREAMING deployment shape: foreachBatch
    lands each micro-batch through gen_index_append with a checkpoint-
    namespaced idempotency token (the contract the registered
    streaming_ivf_index_maintenance relies on). Micro-batches run
    sequentially, the pointer advances once per non-empty batch, and the
    closing probe is row-identical to the in-memory IVF over the full
    corpus — batch-boundary-insensitive by construction."""
    import os as _os
    import shutil as _shutil
    import tempfile

    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    gs.gen_index_build(base, index_name=nm("t_gen_stream"))

    work = tempfile.mkdtemp(prefix="gen_stream_")
    in_dir = _os.path.join(work, "in")
    _os.makedirs(in_dir)
    for i, residue in enumerate((17, 67, 117)):
        b = emb.where(F.col("vec_id") % 150 == residue).select("vec_id", "embedding")
        tmp = _os.path.join(work, f"t{i}")
        b.coalesce(1).write.parquet(tmp)
        f = [x for x in _os.listdir(tmp) if x.endswith(".parquet")][0]
        dst = _os.path.join(in_dir, f"part-{i:03d}.parquet")
        _shutil.move(_os.path.join(tmp, f), dst)
        _shutil.rmtree(tmp)
        now = _os.stat(dst).st_mtime
        _os.utime(dst, (now - 1000 + i * 100, now - 1000 + i * 100))

    ckpt = _os.path.join(work, "ckpt")

    def _append(batch_df, batch_id):
        if batch_df.isEmpty():
            return
        gs.gen_index_append(
            batch_df,
            index_name=nm("t_gen_stream"),
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
        _shutil.rmtree(work, ignore_errors=True)

    ptrs = _ptrs(spark, nm("t_gen_stream"))
    assert [s for s, _ in ptrs] == [1, 2, 3, 4]  # build + 3 micro-batches
    assert ptrs[-1][1]["last_token"].endswith(":batch-2")
    report = gs.gen_index_verify(spark, nm("t_gen_stream"))
    assert report["consistent"] and report["actual"]["rows"] == emb.count()
    q = emb.where(F.col("vec_id") < 10)
    assert _rows(gs.gen_index_probe(q, k=5, index_name=nm("t_gen_stream"))) == _rows(
        ivf_topk(emb, q, k=5)
    )


def test_pointer_cas_exactly_once_across_processes(tmp_path):
    """The commit primitive's whole contract is create-exactly-once
    under REAL concurrency: 8 separate OS processes hammer the same
    pointer directory, each looping read-latest → try_commit(seq+1).
    Exactly one winner per sequence, no gaps, no duplicate sequences,
    and every committed payload is intact (never torn) — this is the
    property an S3 conditional PUT provides and os.link must emulate."""
    import subprocess
    import sys

    root = str(tmp_path / "idx")
    n_procs, commits_each = 8, 12
    script = r"""
import json, sys, os
sys.path.insert(0, "/root/repo")
from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.index_store import LocalPointerStore

root, me, target = sys.argv[1], sys.argv[2], int(sys.argv[3])
ptr = LocalPointerStore(root)
wins = []
while len(wins) < target:
    seq, latest = ptr.read_latest()
    nxt = (seq or 0) + 1
    if ptr.try_commit(nxt, {"writer": me, "n": len(wins), "gen": f"g-{me}-{len(wins)}"}):
        wins.append(nxt)
print(json.dumps(wins))
"""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, root, f"w{i}", str(commits_each)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for i in range(n_procs)
    ]
    all_wins = []
    for p in procs:
        out, err = p.communicate(timeout=120)
        assert p.returncode == 0, err.decode()[-500:]
        all_wins.append(__import__("json").loads(out))

    flat = sorted(s for wins in all_wins for s in wins)
    total = n_procs * commits_each
    # exactly-once: every sequence won by exactly one process, contiguous
    assert flat == list(range(1, total + 1))

    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.index_store import (
        LocalPointerStore,
    )

    ptrs = LocalPointerStore(root).pointers()
    assert [s for s, _ in ptrs] == list(range(1, total + 1))
    # no torn payloads, and each sequence's payload names its true winner
    by_seq = dict(ptrs)
    for wins, i in zip(all_wins, range(n_procs)):
        for s in wins:
            assert by_seq[s]["writer"] == f"w{i}"
    # no leaked temp files (every loser cleaned up)
    assert not [f for f in os.listdir(os.path.join(root, "ptr")) if f.startswith(".tmp.")]


@pytest.mark.slow  # cross-application lifecycle (slow tier, two extra Spark boots)
def test_gen_store_shared_root_across_applications(spark, sf_dir, tmp_path):
    """The multi-writer story across APPLICATIONS, not just threads: the
    protocol keeps no in-memory state, so a build job and a maintenance
    job in separate Spark applications (separate processes, separate
    applicationIds) operate on one index via an explicit shared root,
    and this session probes the result. The default app-scoped root
    cannot express this — root= is the deployment seam."""
    import subprocess
    import sys

    root = str(tmp_path / "shared_idx")
    script = r"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
import pyspark.sql.functions as F
from glue_job_to_write_structured_data_on_s3_full_code_spark.operators import index_store as gs
from glue_job_to_write_structured_data_on_s3_full_code_spark.sources import read_table

root, sf_dir, role = sys.argv[1], sys.argv[2], sys.argv[3]
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .appName(f"genstore_{role}").getOrCreate())
emb = read_table(spark, sf_dir, "embeddings")
if role == "builder":
    gs.gen_index_build(emb.where(F.col("vec_id") % 50 != 17), root=root)
else:
    gs.gen_index_append(
        emb.where(F.col("vec_id") % 50 == 17),
        root=root,
        idempotency_token="xapp:b0",
    )
print("done", role)
"""
    for role in ("builder", "appender"):
        out = subprocess.run(
            [sys.executable, "-c", script, root, sf_dir, role],
            capture_output=True,
            timeout=300,
        )
        assert out.returncode == 0, out.stderr.decode()[-800:]

    emb = read_table(spark, sf_dir, "embeddings")
    # the subprocesses committed through the LOCAL store (their default
    # seam); this session's reads must hit the same backend even when the
    # module's memory-param block has the seam patched, so inject it
    local = gs.LocalPointerStore(root)
    report = gs.gen_index_verify(spark, root=root, store=local)
    assert report["consistent"] and report["actual"]["rows"] == emb.count()
    q = emb.where(F.col("vec_id") < 10)
    assert _rows(gs.gen_index_probe(q, k=5, root=root, store=local)) == _rows(
        ivf_topk(emb, q, k=5)
    )
    # a third application's replay of the appender's delivery is caught
    replay = gs.gen_index_append(
        emb.where(F.col("vec_id") % 50 == 17),
        root=root,
        idempotency_token="xapp:b0",
        store=local,
    )
    assert replay["last_token"] == "xapp:b0"
    assert [s for s, _ in gs.LocalPointerStore(root).pointers()] == [1, 2]


def test_gen_explicit_root_refuses_object_store_uri(spark, sf_dir):
    """root= must get the SAME filesystem check as the default path:
    this local implementation's pointer store and manifest listing are
    os.* code, so an s3a:// root would silently commit empty manifests
    under a full-corpus fingerprint instead of refusing."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.sources.parquet import (
        UnsupportedIndexFilesystem,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    with pytest.raises(UnsupportedIndexFilesystem, match="atomic rename"):
        gs.gen_index_build(emb, root="s3a://bucket/shared_idx")
    with pytest.raises(UnsupportedIndexFilesystem, match="atomic rename"):
        gs.gen_index_verify(spark, root="gs://bucket/shared_idx")
    # a local explicit root still resolves untouched
    assert gs._resolve_root(spark, "x", "/tmp/local_idx") == "/tmp/local_idx"
    # gen_index_catalog's root_by_name path gets the same refusal (r14
    # advisor finding: with the default store an s3a:// root would be
    # mkdir'd locally and a LIVE index reported as never-committed)
    with pytest.raises(UnsupportedIndexFilesystem, match="atomic rename"):
        gs.gen_index_catalog(
            spark, root_by_name={"live": "s3a://bucket/shared_idx"}
        )


def test_inmemory_pointer_store_contract():
    """Pure-store contract unit test (no Spark): create-exactly-once per
    sequence, highest-sequence read, lost-PUT-response disambiguation
    (True exactly once, never a double commit, never a false loss), and
    the injected race window."""
    mem = gs.InMemoryPointerStore()
    assert mem.read_latest() == (None, None)
    assert mem.try_commit(1, {"gen": "g-a"})
    assert not mem.try_commit(1, {"gen": "g-b"})  # 412 Precondition Failed
    assert mem.read_latest() == (1, {"gen": "g-a"})

    # lost response: the PUT lands but the reply doesn't — the client's
    # read-back disambiguation still reports True (exactly once)
    mem.inject_lost_responses(1)
    assert mem.try_commit(2, {"gen": "g-c"})
    assert mem.read_latest() == (2, {"gen": "g-c"})

    # race inside the PUT window: a competitor takes the sequence between
    # the caller's read_latest and its conditional PUT — caller must lose
    mem.inject_race(lambda st, seq: st._put_if_absent(seq, '{"gen": "g-x"}'))
    assert not mem.try_commit(3, {"gen": "g-d"})
    assert mem.read_latest() == (3, {"gen": "g-x"})

    assert [s for s, _ in mem.pointers()] == [1, 2, 3]
    assert mem.oldest_pointer_mtime() is not None
    # read_at: one targeted read, None for never-committed; non-int
    # sequences miss on EVERY backend (Local/S3 format the key, so the
    # dict-backed store must not let 1.0/True hit by value-equality)
    assert mem.read_at(1) == {"gen": "g-a"}
    assert mem.read_at(99) is None
    assert mem.read_at(1.0) is None and mem.read_at(True) is None
    mem.drop(1)
    assert [s for s, _ in mem.pointers()] == [2, 3]
    assert mem.read_at(1) is None  # GC'd sequence reads as absent
    assert mem.sweep_tmp(0.0) == 0  # conditional PUT leaves no temp objects


@pytest.mark.slow  # lifecycle against the injected store (slow tier)
def test_gen_lifecycle_with_injected_store_and_faults(spark, sf_dir, tmp_path):
    """The seam end-to-end: an explicitly injected InMemoryPointerStore
    carries a build (whose commit PUT loses its response — the S3
    ambiguous-5xx shape), an append that loses the CAS to a full
    competing append injected INSIDE its PUT window (and rebases), and a
    closing probe row-identical to the in-memory IVF. Meanwhile the root
    directory holds only DATA (generations + manifests) — pointer state
    lives solely in the injected store, which is what makes the S3
    backend a drop-in."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    b_a = emb.where(F.col("vec_id") % 100 == 17)
    b_b = emb.where(F.col("vec_id") % 100 == 67)
    root = str(tmp_path / "mem_idx")
    mem = gs.InMemoryPointerStore()

    mem.inject_lost_responses(1)  # build's commit PUT lands, response lost
    built = gs.gen_index_build(base, root=root, store=mem)
    assert mem.read_latest()[1]["gen"] == built["gen"]

    def competing(store, seq):
        gs.gen_index_append(b_b, root=root, store=store, idempotency_token="m:b")

    mem.inject_race(competing)
    gs.gen_index_append(b_a, root=root, store=mem, idempotency_token="m:a")

    report = gs.gen_index_verify(spark, root=root, store=mem)
    assert report["consistent"] and report["actual"]["rows"] == emb.count()
    q = emb.where(F.col("vec_id") < 10)
    assert _rows(gs.gen_index_probe(q, k=5, root=root, store=mem)) == _rows(
        ivf_topk(emb, q, k=5)
    )
    # both appends landed exactly once, in CAS order, after the race
    assert [s for s, _ in mem.pointers()] == [1, 2, 3]
    # no pointer objects on disk — the injected store owns them all
    assert not os.path.exists(os.path.join(root, "ptr"))


@pytest.mark.slow  # index mutation lifecycle (slow tier)
def test_gen_probe_survives_supersession_inside_horizon(spark, sf_dir, pointer_backend, nm):
    """The GC reader contract (COVERAGE.md runbook): a probe frame built
    against a generation that is SUPERSEDED before consumption still
    collects its pinned snapshot, as long as sweeps run with a sane
    min_age_s — the superseded generation's manifest-listed files must
    survive every inside-horizon sweep, including the sweep that drops
    the generation's own pointer."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    gs.gen_index_build(base, index_name=nm("t_gen_lease"))
    q = emb.where(F.col("vec_id") < 10)
    # lazy in-flight reader, pinned to the build generation
    inflight = gs.gen_index_probe(q, k=5, index_name=nm("t_gen_lease"))
    want = _rows(ivf_topk(base, q, k=5))

    # supersession: two structural commits land, then GC sweeps twice
    # (pointer drop + the would-be spaced deletion) inside the horizon
    gs.gen_index_append(batch, index_name=nm("t_gen_lease"))
    gs.gen_index_compact(spark, nm("t_gen_lease"))
    for _ in range(2):
        rep = gs.gen_index_gc(
            spark, nm("t_gen_lease"), keep_pointers=1, min_age_s=3600.0
        )
        assert not rep["dropped_generations"], rep

    # the in-flight reader now consumes: identical to its pinned snapshot
    assert _rows(inflight) == want and len(want) > 0


def test_inmemory_cas_exactly_once_across_threads():
    """The conditional-PUT contract under REAL concurrency, thread
    edition of the cross-process os.link hammer: 8 threads loop
    read-latest → try_commit(seq+1) with lost responses injected
    throughout — exactly one winner per sequence, contiguous, every
    payload intact and owned by its true winner."""
    import threading

    mem = gs.InMemoryPointerStore()
    mem.inject_lost_responses(20)  # sprinkle ambiguity over the whole run
    n_threads, commits_each = 8, 12
    wins: dict[str, list[int]] = {f"w{i}": [] for i in range(n_threads)}

    def writer(me):
        while len(wins[me]) < commits_each:
            seq, _latest = mem.read_latest()
            nxt = (seq or 0) + 1
            if mem.try_commit(nxt, {"writer": me, "gen": f"g-{me}-{len(wins[me])}"}):
                wins[me].append(nxt)

    threads = [threading.Thread(target=writer, args=(w,)) for w in wins]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)

    total = n_threads * commits_each
    flat = sorted(s for w in wins.values() for s in w)
    assert flat == list(range(1, total + 1))
    by_seq = dict(mem.pointers())
    assert sorted(by_seq) == list(range(1, total + 1))
    for me, seqs in wins.items():
        for s in seqs:
            assert by_seq[s]["writer"] == me


@pytest.mark.slow  # end-to-end lifecycle over a URI root (slow tier)
@pytest.mark.parametrize("injected", ["memory", "s3"])
def test_gen_lifecycle_on_uri_root_with_injected_store(
    spark, sf_dir, tmp_path, injected
):
    """The object-store deployment shape, end to end: an explicit URI
    root (file:// stands in for s3a:// — same Hadoop FileSystem API,
    different connector) plus an injected conditional-PUT pointer
    store (the in-memory emulation AND the real S3PointerStore over
    the botocore-shaped fake — the latter is the exact production
    pairing: URI data root + S3 pointer CAS). No os.* call ever parses
    the URI: data I/O goes through _HadoopFS, pointer CAS through the
    store — so build → append → skew audit → verify → compact → GC →
    probe all run; the pre-rebalance probe is row-identical to the
    in-memory IVF and compaction+GC preserve the post-rebalance
    results exactly."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    root = "file://" + str(tmp_path / "uri_idx")
    if injected == "memory":
        mem = gs.InMemoryPointerStore()
    else:
        mem = gs.S3PointerStore(
            "test-bucket",
            "uri_idx",
            client=_FakeS3Client(),
            sleep=lambda s: None,
        )
    q = emb.where(F.col("vec_id") < 10)

    gs.gen_index_build(base, root=root, store=mem)
    gs.gen_index_append(batch, root=root, store=mem, idempotency_token="uri:b0")
    skew = gs.gen_index_cell_skew(spark, root=root, store=mem).collect()
    assert sum(r["added"] for r in skew) == batch.count()
    report = gs.gen_index_verify(spark, root=root, store=mem)
    assert report["consistent"] and report["actual"]["rows"] == emb.count()
    # pre-rebalance semantics pin: identical to the in-memory IVF
    assert _rows(gs.gen_index_probe(q, k=5, root=root, store=mem)) == _rows(
        ivf_topk(emb, q, k=5)
    )

    # hot-cell rebalance over the URI root: the sub-centroid fixpoint
    # reads split-cell files and rewrites centroids through the same
    # _HadoopFS paths (the refined centroid set legitimately changes
    # probe results — the split-semantics pin against the DuckDB replay
    # lives in test_gen_rebalance_matches_rebalanced_oracle)
    hot = max(
        (r for r in skew), key=lambda r: (r["rows_now"], r["cell_id"])
    )["cell_id"]
    split = gs.gen_index_rebalance(
        spark, root=root, store=mem, cells=[int(hot)]
    )
    assert split == [int(hot)]
    report = gs.gen_index_verify(spark, root=root, store=mem)
    assert report["consistent"] and report["actual"]["rows"] == emb.count()
    post_rb = _rows(gs.gen_index_probe(q, k=5, root=root, store=mem))
    assert len(post_rb) > 0

    gs.gen_index_compact(spark, root=root, store=mem)
    sweeps = [
        gs.gen_index_gc(
            spark, root=root, store=mem, keep_pointers=1, min_age_s=0.0
        )
        for _ in range(2)
    ]
    assert sweeps[0]["dropped_pointers"]  # history pointers retired
    assert len(sweeps[1]["dropped_generations"]) >= 3  # build+append+rebalance gone

    # compaction + GC are layout-only: post-rebalance results unchanged
    assert _rows(gs.gen_index_probe(q, k=5, root=root, store=mem)) == post_rb
    # a replayed delivery is still caught through the injected store
    replay = gs.gen_index_append(
        batch, root=root, store=mem, idempotency_token="uri:b0"
    )
    assert replay["last_token"] == "uri:b0"
    # and the URI was never mistaken for a relative local directory
    assert not os.path.exists("file:")


@pytest.mark.slow  # two stored-index probes per backend (slow tier)
def test_gen_probe_big_shortlist_path_row_identical(spark, gen_shared, monkeypatch):
    """Above _BROADCAST_SHORTLIST_ROWS — or _BROADCAST_SHORTLIST_BYTES,
    the byte-aware twin that catches wide embeddings a row cap would
    wave through — the probe drops the broadcast hint (AQE picks the
    join strategy). Force each gate with a zero threshold and pin
    row-identity with the hinted path: the strategy dial must never
    change answers."""
    emb, _payload, idx = gen_shared
    q = emb.where(F.col("vec_id") < 10)
    hinted = _rows(gs.gen_index_probe(q, k=5, index_name=idx))
    assert len(hinted) > 0
    monkeypatch.setattr(gs, "_BROADCAST_SHORTLIST_ROWS", 0)
    assert _rows(gs.gen_index_probe(q, k=5, index_name=idx)) == hinted
    monkeypatch.undo()
    monkeypatch.setattr(gs, "_BROADCAST_SHORTLIST_BYTES", 0)
    assert _rows(gs.gen_index_probe(q, k=5, index_name=idx)) == hinted


@pytest.mark.slow  # hypothesis property suite (slow tier)
def test_pointer_backend_bisimulation():
    """The two pointer backends must be OBSERVATIONALLY IDENTICAL under
    any operation sequence — commit/read/pointers/drop applied in
    lockstep to a LocalPointerStore (tmp dir) and an
    InMemoryPointerStore must return the same results at every step.
    This is the conformance bar a real S3PointerStore implementation
    should be held to before deployment (run it against a bucket with
    the same harness)."""
    import shutil
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.one_of(
        st.tuples(st.just("commit"), st.integers(0, 6), st.integers(0, 99)),
        st.tuples(st.just("read"), st.just(0), st.just(0)),
        st.tuples(st.just("pointers"), st.just(0), st.just(0)),
        st.tuples(st.just("drop"), st.integers(0, 6), st.just(0)),
    )

    @settings(
        max_examples=60,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(ops=st.lists(op, max_size=30))
    def run(ops):
        work = tempfile.mkdtemp(prefix="bisim_")
        try:
            local = gs.LocalPointerStore(work)
            mem = gs.InMemoryPointerStore()
            for kind, seq, pid in ops:
                if kind == "commit":
                    payload = {"gen": f"g-{pid}", "n": pid}
                    assert local.try_commit(seq, payload) == mem.try_commit(
                        seq, payload
                    ), (kind, seq, pid)
                elif kind == "read":
                    assert local.read_latest() == mem.read_latest()
                elif kind == "pointers":
                    assert local.pointers() == mem.pointers()
                else:
                    local.drop(seq)
                    mem.drop(seq)
            assert local.pointers() == mem.pointers()
            assert local.read_latest() == mem.read_latest()
        finally:
            shutil.rmtree(work, ignore_errors=True)

    run()


@pytest.mark.slow  # 2 concurrent Spark applications (slow tier)
def test_gen_concurrent_appends_across_processes(spark, sf_dir, tmp_path):
    """The lock-free multi-writer claim under REAL concurrency: two
    separate Spark applications append disjoint batches to one
    shared-root index AT THE SAME TIME. CAS losers must rebase and
    retry; the XOR fingerprint (checked by verify) catches any lost or
    double-applied batch exactly — the in-process interposition tests
    pin the rebase mechanics, this pins them across OS processes.
    (Two writers, not four: the point is cross-process contention, and
    more concurrent JVMs than that made the test flake under full-suite
    machine load.)"""
    import subprocess
    import sys

    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    root = str(tmp_path / "mw_idx")
    # the subprocess writers commit through the LOCAL store (their
    # default seam in fresh processes); the parent's build and reads
    # must hit the same backend even when this test lands inside the
    # module's memory-param block (whose fixture patches the seam), so
    # inject it explicitly — same guard as the shared-root test
    local = gs.LocalPointerStore(root)
    gs.gen_index_build(base, root=root, store=local)

    script = r"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession
import pyspark.sql.functions as F
from glue_job_to_write_structured_data_on_s3_full_code_spark.operators import index_store as gs
from glue_job_to_write_structured_data_on_s3_full_code_spark.sources import read_table

root, sf_dir, residue = sys.argv[1], sys.argv[2], int(sys.argv[3])
spark = (SparkSession.builder.master("local[4]")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.ui.enabled", "false")
         .appName(f"mw_append_{residue}").getOrCreate())
emb = read_table(spark, sf_dir, "embeddings")
batch = emb.where(F.col("vec_id") % 100 == residue)
gs.gen_index_append(
    batch, root=root, idempotency_token=f"mw:{residue}", max_retries=12
)
print("done", residue)
"""
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, root, sf_dir, str(residue)],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for residue in (17, 67)  # disjoint %100 slices of %50==17
    ]
    for p in procs:
        out, err = p.communicate(timeout=600)
        assert p.returncode == 0, err.decode()[-800:]

    # every batch landed exactly once: rows AND id-XOR must both match
    report = gs.gen_index_verify(spark, root=root, store=local)
    assert report["consistent"], report
    assert report["actual"]["rows"] == emb.count()
    seqs = [s for s, _ in local.pointers()]
    assert seqs == [1, 2, 3]  # build + one commit per writer
    q = emb.where(F.col("vec_id") < 10)
    assert _rows(gs.gen_index_probe(q, k=5, root=root, store=local)) == _rows(
        ivf_topk(emb, q, k=5)
    )


class _FakeS3Client:
    """A botocore-shaped in-memory S3 — the fault harness S3PointerStore
    is developed against. put_object honors ``IfNoneMatch='*'``
    create-exactly-once (412 on existing key); listing is paginated at
    TWO keys per page so the pagination path actually runs; and three
    injectable object-store faults:

    - ``pre_put_hooks`` — fired inside the next put_object BEFORE the
      existence check, so a competitor can take the key in the widest
      window (list said free, PUT finds taken);
    - ``conflicts`` — the next N conditional PUTs are rejected 409
      ``ConditionalRequestConflict`` (a concurrent conditional write in
      flight — S3's documented transient for this API);
    - ``lost_responses`` — the next N conditional PUTs LAND but the
      response is a 500 (the ambiguous failure the read-back
      disambiguation exists for).
    """

    def __init__(self):
        import threading
        import time

        self._time = time
        self._lock = threading.Lock()
        self.objects: dict[str, tuple[bytes, float]] = {}
        self.pre_put_hooks: list = []
        self.conflicts = 0
        self.lost_responses = 0
        self.list_errors = 0  # next N listings 503 (transient SlowDown)
        self.delete_errors = 0  # next N deletes 503 (transient SlowDown)

    @staticmethod
    def _err(code, status, op):
        from botocore.exceptions import ClientError

        return ClientError(
            {
                "Error": {"Code": code},
                "ResponseMetadata": {"HTTPStatusCode": status},
            },
            op,
        )

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None, **kw):
        assert IfNoneMatch == "*", "pointer PUTs must be conditional"
        while self.pre_put_hooks:
            self.pre_put_hooks.pop(0)(self, Key)
        with self._lock:
            if self.conflicts > 0:
                self.conflicts -= 1
                raise self._err("ConditionalRequestConflict", 409, "PutObject")
            if Key in self.objects:
                raise self._err("PreconditionFailed", 412, "PutObject")
            self.objects[Key] = (bytes(Body), self._time.time())
            if self.lost_responses > 0:
                self.lost_responses -= 1
                raise self._err("InternalError", 500, "PutObject")
        return {"ResponseMetadata": {"HTTPStatusCode": 200}}

    def get_object(self, Bucket, Key):
        import io

        with self._lock:
            if Key not in self.objects:
                raise self._err("NoSuchKey", 404, "GetObject")
            body = self.objects[Key][0]
        return {"Body": io.BytesIO(body)}

    def delete_object(self, Bucket, Key):
        with self._lock:
            if self.delete_errors > 0:
                self.delete_errors -= 1
                raise self._err("SlowDown", 503, "DeleteObject")
            self.objects.pop(Key, None)
        return {"ResponseMetadata": {"HTTPStatusCode": 204}}

    def get_paginator(self, op):
        assert op == "list_objects_v2"
        client = self

        class _Paginator:
            def paginate(self, Bucket, Prefix):
                with client._lock:
                    if client.list_errors > 0:
                        client.list_errors -= 1
                        raise client._err("SlowDown", 503, "ListObjectsV2")
                    keys = sorted(
                        k for k in client.objects if k.startswith(Prefix)
                    )
                    snap = {k: client.objects[k] for k in keys}
                if not keys:
                    yield {}  # S3 omits Contents on an empty listing
                    return
                for i in range(0, len(keys), 2):
                    yield {
                        "Contents": [
                            {"Key": k, "LastModified": snap[k][1]}
                            for k in keys[i : i + 2]
                        ]
                    }

        return _Paginator()


def _s3_store(fake=None, **kw):
    fake = fake if fake is not None else _FakeS3Client()
    store = gs.S3PointerStore(
        "test-bucket",
        "indexes/t_s3",
        client=fake,
        sleep=lambda s: None,
        **kw,
    )
    return store, fake


def test_s3_pointer_store_contract():
    """S3PointerStore over the botocore-shaped fake, held to the same
    pure-store contract as the in-memory emulation: create-exactly-once
    per sequence, highest-sequence read, lost-PUT read-back (True
    exactly once), a race injected inside the PUT window (clean loss),
    and pointer keys living under the configured bucket prefix."""
    store, fake = _s3_store()
    assert store.read_latest() == (None, None)
    assert store.try_commit(1, {"gen": "g-a"})
    assert not store.try_commit(1, {"gen": "g-b"})  # 412, competitor's
    assert store.read_latest() == (1, {"gen": "g-a"})

    # lost response: the PUT lands, the reply is a 500 — read-back says True
    fake.lost_responses = 1
    assert store.try_commit(2, {"gen": "g-c"})
    assert store.read_latest() == (2, {"gen": "g-c"})

    # race inside the PUT window: a competitor takes the sequence between
    # the caller's read_latest and its conditional PUT — caller must lose
    fake.pre_put_hooks.append(
        lambda c, key: c.put_object(
            Bucket="test-bucket", Key=key, Body=b'{"gen": "g-x"}', IfNoneMatch="*"
        )
    )
    assert not store.try_commit(3, {"gen": "g-d"})
    assert store.read_latest() == (3, {"gen": "g-x"})

    # 409 ConditionalRequestConflict is transient: retry wins
    fake.conflicts = 2
    assert store.try_commit(4, {"gen": "g-e"})

    assert [s for s, _ in store.pointers()] == [1, 2, 3, 4]
    assert store.oldest_pointer_mtime() is not None
    # read_at: one targeted GetObject, None for never-committed
    assert store.read_at(1) == {"gen": "g-a"}
    assert store.read_at(99) is None
    store.drop(1)
    store.drop(1)  # idempotent, like DeleteObject itself
    assert [s for s, _ in store.pointers()] == [2, 3, 4]
    assert store.read_at(1) is None  # GC'd sequence reads as absent
    assert store.sweep_tmp(0.0) == 0
    # five keys passed through the bucket, all under the prefix
    assert all(k.startswith("indexes/t_s3/ptr/LATEST.") for k in fake.objects)


def test_read_latest_bounded_under_misbehaving_deleter():
    """A concurrent GC deleting the just-listed pointer resolves in one
    re-list (it keeps newer sequences). A MISBEHAVING external deleter —
    one that keeps deleting the newest live pointer between every list
    and read — must make read_latest raise loudly after a bounded number
    of races, not spin forever. Pinned for BOTH backends."""
    import shutil
    import tempfile

    # --- local backend: the pointer is listed, then vanishes before the
    # open — EVERY time (the deleter re-creates and re-deletes around
    # each listing, the worst-case interleave)
    work = tempfile.mkdtemp(prefix="deleter_local_")
    try:
        local = gs.LocalPointerStore(work)
        assert local.try_commit(1, {"gen": "g-a"})
        victim = os.path.join(work, "ptr", "LATEST.1")

        real_listdir = os.listdir

        def vanishing_listdir(path):
            with open(victim, "w") as fh:
                fh.write('{"gen": "g-a"}')
            names = real_listdir(path)
            os.unlink(victim)
            return names

        from unittest import mock

        with mock.patch(
            "glue_job_to_write_structured_data_on_s3_full_code_spark.operators."
            "index_store.os.listdir",
            side_effect=vanishing_listdir,
        ):
            with pytest.raises(RuntimeError, match="deleting live pointers"):
                local.read_latest()
        # a SINGLE benign GC race (one deletion, newer pointer kept)
        # still resolves quietly on the re-list
        assert local.try_commit(2, {"gen": "g-b"})
        assert local.read_latest() == (2, {"gen": "g-b"})
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # --- S3 backend: the listing shows a pointer, the GET finds it
    # deleted — every time (the deleter re-seeds around each listing)
    store, fake = _s3_store(max_attempts=3)

    def deleted_after_list_get(Bucket, Key, **kw):
        raise _FakeS3Client._err("NoSuchKey", 404, "GetObject")

    real_get_paginator = fake.get_paginator

    def reseeding_get_paginator(op):
        fake.objects["indexes/t_s3/ptr/LATEST.1"] = (b'{"gen": "g-a"}', 0.0)
        return real_get_paginator(op)

    fake.get_object = deleted_after_list_get
    fake.get_paginator = reseeding_get_paginator
    with pytest.raises(RuntimeError, match="deleting live pointers"):
        store.read_latest()


def test_s3_pointer_store_error_taxonomy():
    """The edges of the S3 client's retry loop: exhausted ambiguity
    raises (never silently False), NoSuchBucket raises immediately
    (configuration, not a race), from_uri parses s3/s3a and rejects
    everything else."""
    # every PUT 500s and never lands (fake drops the object again) —
    # after max_attempts the commit must RAISE, not report a loss
    store, fake = _s3_store(max_attempts=3)
    real_put = fake.put_object

    def put_500(Bucket, Key, Body, IfNoneMatch=None, **kw):
        raise _FakeS3Client._err("InternalError", 500, "PutObject")

    fake.put_object = put_500
    with pytest.raises(RuntimeError, match="unresolved"):
        store.try_commit(1, {"gen": "g-a"})
    fake.put_object = real_put

    # NoSuchBucket propagates from the first attempt
    def put_no_bucket(Bucket, Key, Body, IfNoneMatch=None, **kw):
        raise _FakeS3Client._err("NoSuchBucket", 404, "PutObject")

    fake.put_object = put_no_bucket
    from botocore.exceptions import ClientError

    with pytest.raises(ClientError, match="NoSuchBucket"):
        store.try_commit(1, {"gen": "g-a"})

    # a programming error (no .response, not network-shaped) propagates
    fake.put_object = lambda **kw: (_ for _ in ()).throw(TypeError("boom"))
    with pytest.raises(TypeError):
        store.try_commit(1, {"gen": "g-a"})

    # a misconfiguration without an HTTP response (here: missing
    # credentials) raises immediately — zero retries, zero backoff sleeps
    from botocore.exceptions import NoCredentialsError

    sleeps = []
    store_nc, fake_nc = _s3_store()
    store_nc._sleep = sleeps.append

    def put_no_creds(**kw):
        raise NoCredentialsError()

    fake_nc.put_object = put_no_creds
    with pytest.raises(NoCredentialsError):
        store_nc.try_commit(1, {"gen": "g-a"})
    assert sleeps == []

    # response-less OSErrors: only NETWORK-shaped ones are ambiguous.
    # A PermissionError from a wrapping layer is a misconfiguration and
    # must raise immediately — zero retries, zero backoff sleeps —
    # instead of burning the full 8-attempt budget first.
    for bad in (PermissionError("denied"), FileNotFoundError("gone")):
        sleeps_os = []
        store_os, fake_os = _s3_store()
        store_os._sleep = sleeps_os.append
        fake_os.put_object = lambda _b=bad, **kw: (_ for _ in ()).throw(_b)
        with pytest.raises(type(bad)):
            store_os.try_commit(1, {"gen": "g-a"})
        assert sleeps_os == []
    # SSLCertVerificationError is a subclass of the network-ambiguous
    # SSLError but means a bad/expired cert or wrong endpoint — a
    # misconfiguration that must raise immediately, zero backoff sleeps
    import ssl as _ssl

    sleeps_cert = []
    store_cert, fake_cert = _s3_store()
    store_cert._sleep = sleeps_cert.append
    fake_cert.put_object = lambda **kw: (_ for _ in ()).throw(
        _ssl.SSLCertVerificationError(1, "certificate verify failed")
    )
    with pytest.raises(_ssl.SSLCertVerificationError):
        store_cert.try_commit(1, {"gen": "g-a"})
    assert sleeps_cert == []
    # ...while a PLAIN SSLError (handshake reset mid-flight — the write
    # may have landed) stays ambiguous and recovers like ConnectionError
    store_ssl, fake_ssl = _s3_store()
    real_put_ssl = fake_ssl.put_object
    flaky_ssl = {"n": 2}

    def put_ssl_flaky(**kw):
        if flaky_ssl["n"] > 0:
            flaky_ssl["n"] -= 1
            raise _ssl.SSLError("UNEXPECTED_EOF_WHILE_READING")
        return real_put_ssl(**kw)

    fake_ssl.put_object = put_ssl_flaky
    assert store_ssl.try_commit(1, {"gen": "g-ssl"})
    assert store_ssl.read_latest() == (1, {"gen": "g-ssl"})
    # ...while a ConnectionError (the write may have landed) stays
    # ambiguous: read-back sees nothing landed, the PUT retries, and the
    # commit succeeds once the connection recovers
    store_cx, fake_cx = _s3_store()
    real_put_cx = fake_cx.put_object
    flaky = {"n": 2}

    def put_flaky(**kw):
        if flaky["n"] > 0:
            flaky["n"] -= 1
            raise ConnectionResetError("peer reset")
        return real_put_cx(**kw)

    fake_cx.put_object = put_flaky
    assert store_cx.try_commit(1, {"gen": "g-cx"})
    assert store_cx.read_latest() == (1, {"gen": "g-cx"})
    # ...and so do the route-flap errnos that have no OSError-subclass
    # mapping (ENETUNREACH et al. arrive as PLAIN OSError by number)
    import errno as _errno

    store_nu, fake_nu = _s3_store()
    real_put_nu = fake_nu.put_object
    flaky_nu = {"n": 2}

    def put_unreachable(**kw):
        if flaky_nu["n"] > 0:
            flaky_nu["n"] -= 1
            raise OSError(_errno.ENETUNREACH, "Network is unreachable")
        return real_put_nu(**kw)

    fake_nu.put_object = put_unreachable
    assert store_nu.try_commit(1, {"gen": "g-nu"})
    assert store_nu.read_latest() == (1, {"gen": "g-nu"})

    # transient listing failures (SlowDown storms) retry, not crash —
    # read_latest sits on every lifecycle path
    fake.put_object = real_put
    store2, fake2 = _s3_store()
    assert store2.try_commit(1, {"gen": "g-l"})
    fake2.list_errors = 2
    assert store2.read_latest() == (1, {"gen": "g-l"})
    fake2.list_errors = 2
    assert [s for s, _ in store2.pointers()] == [1]

    # transient delete failures retry the same way (GC's drop loop must
    # shrug off one SlowDown), and the delete still lands
    fake2.delete_errors = 2
    store2.drop(1)
    assert store2.pointers() == []

    # the client-transparent-retry shape: our conditional PUT landed but
    # a retrying client layer swallowed the 200 and surfaced only the
    # follow-up 412 — from this class's view, a first-visible 412 over
    # our own body. Read-back must claim it (True), exactly once.
    store3, fake3 = _s3_store()
    landed = {"gen": "g-landed"}
    fake3.objects["indexes/t_s3/ptr/LATEST.7"] = (
        json.dumps(landed).encode("utf-8"),
        0.0,
    )
    assert store3.try_commit(7, landed)  # mine: body-equal 412
    assert not store3.try_commit(7, {"gen": "g-other"})  # competitor's: loss

    # from_uri: bucket/prefix split, scheme gate
    st = gs.S3PointerStore.from_uri(
        "s3a://bkt/warehouse/idx", client=_FakeS3Client(), sleep=lambda s: None
    )
    assert st._bucket == "bkt" and st._pfx == "warehouse/idx/ptr/"
    with pytest.raises(ValueError, match="not an S3 URI"):
        gs.S3PointerStore.from_uri("file:///tmp/idx", client=_FakeS3Client())
    with pytest.raises(ValueError, match="no bucket"):
        gs.S3PointerStore.from_uri("s3:///no-bucket", client=_FakeS3Client())


@pytest.mark.slow  # hypothesis property suite (slow tier)
def test_s3_pointer_backend_bisimulation():
    """Three-way lockstep: LocalPointerStore (tmp dir),
    InMemoryPointerStore, and S3PointerStore-over-fake must return the
    same results for every commit/read/pointers/drop in any sequence —
    the conformance bar COVERAGE.md sets for a deployable backend, now
    actually run against the S3 code path."""
    import shutil
    import tempfile

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    op = st.one_of(
        st.tuples(st.just("commit"), st.integers(0, 6), st.integers(0, 99)),
        st.tuples(st.just("read"), st.just(0), st.just(0)),
        st.tuples(st.just("pointers"), st.just(0), st.just(0)),
        st.tuples(st.just("drop"), st.integers(0, 6), st.just(0)),
    )

    @settings(
        max_examples=40,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(ops=st.lists(op, max_size=30))
    def run(ops):
        work = tempfile.mkdtemp(prefix="bisim3_")
        try:
            stores = [
                gs.LocalPointerStore(work),
                gs.InMemoryPointerStore(),
                _s3_store()[0],
            ]
            for i, (kind, seq, pid) in enumerate(ops):
                if kind == "commit":
                    # attempt-unique bodies, as the production contract
                    # guarantees (every commit stages a fresh gen-<uuid>) —
                    # the S3 class's 412 read-back relies on it
                    payload = {"gen": f"g-{i}-{pid}", "n": pid}
                    results = {s.try_commit(seq, payload) for s in stores}
                    assert len(results) == 1, (kind, seq, pid)
                elif kind == "read":
                    assert len({str(s.read_latest()) for s in stores}) == 1
                elif kind == "pointers":
                    assert len({str(s.pointers()) for s in stores}) == 1
                else:
                    for s in stores:
                        s.drop(seq)
            assert len({str(s.pointers()) for s in stores}) == 1
            assert len({str(s.read_latest()) for s in stores}) == 1
        finally:
            shutil.rmtree(work, ignore_errors=True)

    run()


@pytest.mark.slow  # lifecycle against the S3 store (slow tier)
def test_gen_lifecycle_with_s3_store_over_fake_client(spark, sf_dir, tmp_path):
    """The S3 deployment shape end-to-end, minus only the network: the
    pointer CAS goes through S3PointerStore (conditional PUTs against
    the botocore-shaped fake, with the build's commit response lost and
    an append racing a competitor inside its PUT window), the data
    through the usual root directory. Closing probe must be
    row-identical to the in-memory IVF and the fake bucket must hold
    exactly the pointer objects, in CAS order."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    b_a = emb.where(F.col("vec_id") % 100 == 17)
    b_b = emb.where(F.col("vec_id") % 100 == 67)
    root = str(tmp_path / "s3_idx")
    store, fake = _s3_store()

    fake.lost_responses = 1  # build's commit PUT lands, response lost
    built = gs.gen_index_build(base, root=root, store=store)
    assert store.read_latest()[1]["gen"] == built["gen"]

    def competing(client, key):
        gs.gen_index_append(b_b, root=root, store=store, idempotency_token="s3:b")

    fake.pre_put_hooks.append(competing)
    gs.gen_index_append(b_a, root=root, store=store, idempotency_token="s3:a")

    report = gs.gen_index_verify(spark, root=root, store=store)
    assert report["consistent"] and report["actual"]["rows"] == emb.count()
    q = emb.where(F.col("vec_id") < 10)
    assert _rows(gs.gen_index_probe(q, k=5, root=root, store=store)) == _rows(
        ivf_topk(emb, q, k=5)
    )
    # both appends landed exactly once, in CAS order, after the race
    assert [s for s, _ in store.pointers()] == [1, 2, 3]
    # pointer state lives solely in the (fake) bucket — not on disk
    assert not os.path.exists(os.path.join(root, "ptr"))
    assert len(fake.objects) == 3


def test_s3_cas_exactly_once_across_threads():
    """The S3 client's retry contract under REAL concurrency: 8 threads
    loop read-latest → try_commit(seq+1) against one fake bucket with
    landed-but-lost responses AND 409 conflict storms sprinkled
    throughout — exactly one winner per sequence, contiguous, every
    payload intact and owned by its true winner. The thread-edition
    twin of the in-memory hammer, now through the actual S3 code path
    (conditional PUT → classify → read-back)."""
    import threading

    fake = _FakeS3Client()
    fake.lost_responses = 20  # sprinkle ambiguity over the whole run
    fake.conflicts = 15  # and transient 409s
    n_threads, commits_each = 8, 12
    wins: dict[str, list[int]] = {f"w{i}": [] for i in range(n_threads)}
    stores = {
        w: gs.S3PointerStore(
            "test-bucket",
            "hammer_idx",
            client=fake,
            sleep=lambda s: None,
            # above the total injected-fault budget: a writer can draw at
            # most 15 conflict retries, so the bounded-retry guard (pinned
            # separately in the taxonomy test) can never fire here
            max_attempts=40,
        )
        for w in wins
    }

    def writer(me):
        store = stores[me]
        while len(wins[me]) < commits_each:
            seq, _latest = store.read_latest()
            nxt = (seq or 0) + 1
            if store.try_commit(
                nxt, {"writer": me, "gen": f"g-{me}-{len(wins[me])}"}
            ):
                wins[me].append(nxt)

    threads = [threading.Thread(target=writer, args=(w,)) for w in wins]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)

    total = n_threads * commits_each
    flat = sorted(s for w in wins.values() for s in w)
    assert flat == list(range(1, total + 1))
    by_seq = dict(stores["w0"].pointers())
    assert sorted(by_seq) == list(range(1, total + 1))
    for me, seqs in wins.items():
        for s in seqs:
            assert by_seq[s]["writer"] == me


def test_s3_pointer_store_against_moto():
    """Independent-emulator conformance: the SAME store class, driven
    through a REAL boto3 client against moto's S3 (a community
    implementation of the API, including conditional-write
    enforcement) — so the contract claims don't rest solely on our own
    hand-written fake. Pins create-exactly-once (real 412), pointer
    ordering, datetime→epoch LastModified conversion, GET-404
    tolerance, and deletes; plus a scripted lockstep with
    LocalPointerStore over the same operation sequence."""
    moto = pytest.importorskip("moto")
    import shutil
    import tempfile

    import boto3

    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket="conformance-bucket")
        store = gs.S3PointerStore(
            "conformance-bucket",
            "warehouse/idx",
            client=client,
            sleep=lambda s: None,
        )
        work = tempfile.mkdtemp(prefix="moto_bisim_")
        try:
            local = gs.LocalPointerStore(work)
            script = [
                ("commit", 1, {"gen": "g-a"}),
                ("commit", 1, {"gen": "g-b"}),  # real 412 from moto
                ("read", None, None),
                ("commit", 3, {"gen": "g-c"}),  # gap is legal
                ("commit", 2, {"gen": "g-d"}),  # late lower seq
                ("read", None, None),  # highest (3) wins
                ("pointers", None, None),
                ("read_at", 2, None),  # targeted historical read
                ("read_at", 9, None),  # never committed -> None
                ("drop", 1, None),
                ("drop", 1, None),  # idempotent
                ("read_at", 1, None),  # dropped -> None
                ("pointers", None, None),
                ("read", None, None),
            ]
            for kind, seq, payload in script:
                if kind == "commit":
                    assert store.try_commit(seq, payload) == local.try_commit(
                        seq, payload
                    ), (kind, seq)
                elif kind == "read":
                    assert store.read_latest() == local.read_latest()
                elif kind == "read_at":
                    assert store.read_at(seq) == local.read_at(seq), seq
                elif kind == "pointers":
                    assert store.pointers() == local.pointers()
                else:
                    store.drop(seq)
                    local.drop(seq)
            # LastModified datetimes converted to comparable epochs
            mt = store.oldest_pointer_mtime()
            assert isinstance(mt, float) and mt > 0
            assert store.sweep_tmp(0.0) == 0
        finally:
            shutil.rmtree(work, ignore_errors=True)


@pytest.mark.slow  # lifecycle over moto's S3 (slow tier)
def test_gen_lifecycle_with_moto_s3_store(spark, sf_dir, tmp_path):
    """The generational lifecycle committing through a REAL boto3
    client against moto's S3: build → append (idempotent replay caught)
    → verify → probe row-identical to the in-memory IVF, pointer state
    living solely in the mocked bucket. Complements the fake-client
    twin: the fake injects faults the emulator can't, the emulator
    validates the happy-path API shapes the fake merely imitates."""
    moto = pytest.importorskip("moto")
    import boto3

    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    root = str(tmp_path / "moto_idx")

    with moto.mock_aws():
        client = boto3.client("s3", region_name="us-east-1")
        client.create_bucket(Bucket="conformance-bucket")
        store = gs.S3PointerStore(
            "conformance-bucket", "moto_idx", client=client, sleep=lambda s: None
        )
        gs.gen_index_build(base, root=root, store=store)
        gs.gen_index_append(
            batch, root=root, store=store, idempotency_token="moto:b0"
        )
        replay = gs.gen_index_append(
            batch, root=root, store=store, idempotency_token="moto:b0"
        )
        assert replay["last_token"] == "moto:b0"
        report = gs.gen_index_verify(spark, root=root, store=store)
        assert report["consistent"] and report["actual"]["rows"] == emb.count()
        q = emb.where(F.col("vec_id") < 10)
        assert _rows(
            gs.gen_index_probe(q, k=5, root=root, store=store)
        ) == _rows(ivf_topk(emb, q, k=5))
        # pointer objects live in the mocked bucket, not on disk
        assert [s for s, _ in store.pointers()] == [1, 2]
        assert not os.path.exists(os.path.join(root, "ptr"))
        listed = client.list_objects_v2(
            Bucket="conformance-bucket", Prefix="moto_idx/ptr/"
        )
        assert listed["KeyCount"] == 2


def _s3a_available(spark) -> bool:
    """True iff the Hadoop S3A connector is on the JVM classpath.

    pyspark's bundled jars ship hadoop-client-api/runtime WITHOUT the
    optional cloud connectors; real clusters add hadoop-aws + the AWS
    SDK bundle (see COVERAGE.md "S3 end-to-end verification recipe").
    """
    try:
        spark._jvm.java.lang.Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem")
        return True
    except Exception:  # noqa: BLE001 — py4j wraps ClassNotFoundException
        return False


@pytest.mark.slow  # full lifecycle against an emulated S3 endpoint
def test_gen_lifecycle_all_on_one_emulated_s3(spark, sf_dir):
    """THE deployment combination: pointer CAS via S3PointerStore
    (conditional PUT) AND cell/manifest data via Hadoop ``s3a://`` —
    both against the SAME emulated bucket (moto in server mode), probe
    rows pinned identical to the in-memory IVF.

    This is the one seam the fake-client and file://-root tests cannot
    cover in combination: the S3A connector's write path (multipart
    uploads, directory emulation) under the generational store's
    immutable-generation layout. The sandbox's pyspark ships no
    hadoop-aws jar and has no network to fetch one, so HERE the test
    skips after probing the JVM classpath — on any cluster with the two
    standard jars (hadoop-aws + aws-sdk bundle, versions matched to the
    Hadoop client; COVERAGE.md records the exact recipe) it runs as
    written.
    """
    if not _s3a_available(spark):
        pytest.skip(
            "hadoop-aws (S3AFileSystem) not on the JVM classpath — add "
            "hadoop-aws-<hadoop.version>.jar + bundle-<sdk.version>.jar "
            "(see COVERAGE.md 'S3 end-to-end verification recipe')"
        )
    moto = pytest.importorskip("moto")
    from moto.server import ThreadedMotoServer

    import boto3

    server = ThreadedMotoServer(port=0)
    server.start()
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    # endpoint + path-style + static dummy creds: the standard
    # emulated-S3 wiring (same keys MinIO deployments use). The session
    # fixture is shared, so prior values are snapshotted and restored —
    # a later test must not inherit fs.s3a.* pointed at a dead endpoint.
    s3a_keys = {
        "fs.s3a.endpoint": None,
        "fs.s3a.path.style.access": "true",
        "fs.s3a.access.key": "test",
        "fs.s3a.secret.key": "test",
        "fs.s3a.connection.ssl.enabled": "false",
        "fs.s3a.change.detection.mode": "none",
        "fs.s3a.aws.credentials.provider": (
            "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
        ),
    }
    saved = {k: hconf.get(k) for k in s3a_keys}
    try:
        host, port = server.get_host_and_port()
        endpoint = f"http://{host}:{port}"
        s3a_keys["fs.s3a.endpoint"] = endpoint
        for k, v in s3a_keys.items():
            hconf.set(k, v)
        client = boto3.client(
            "s3",
            endpoint_url=endpoint,
            region_name="us-east-1",
            aws_access_key_id="test",
            aws_secret_access_key="test",
        )
        client.create_bucket(Bucket="e2e-bucket")

        emb = read_table(spark, sf_dir, "embeddings")
        base = emb.where(F.col("vec_id") % 50 != 17)
        batch = emb.where(F.col("vec_id") % 50 == 17)
        root = "s3a://e2e-bucket/warehouse/idx"
        store = gs.S3PointerStore.from_uri(root, client=client)

        gs.gen_index_build(base, root=root, store=store)
        gs.gen_index_append(
            batch, root=root, store=store, idempotency_token="e2e:b0"
        )
        report = gs.gen_index_verify(spark, root=root, store=store)
        assert report["consistent"] and report["actual"]["rows"] == emb.count()
        q = emb.where(F.col("vec_id") < 10)
        assert _rows(
            gs.gen_index_probe(q, k=5, root=root, store=store)
        ) == _rows(ivf_topk(emb, q, k=5))
        # GC retires the build pointer and sweeps its generation — the
        # delete path exercises S3A's (non-atomic) recursive delete,
        # which the immutable-generation layout tolerates by design
        gs.gen_index_gc(
            spark, root=root, store=store, keep_pointers=1, min_age_s=0.0
        )
        assert _rows(
            gs.gen_index_probe(q, k=5, root=root, store=store)
        ) == _rows(ivf_topk(emb, q, k=5))
        # pointer objects and parquet data share the one bucket
        keys = [
            o["Key"]
            for page in client.get_paginator("list_objects_v2").paginate(
                Bucket="e2e-bucket"
            )
            for o in page.get("Contents", [])
        ]
        assert any(k.startswith("warehouse/idx/ptr/LATEST.") for k in keys)
        assert any(k.endswith(".parquet") for k in keys)
    finally:
        for k, old in saved.items():
            if old is None:
                hconf.unset(k)
            else:
                hconf.set(k, old)
        server.stop()


def test_gen_index_catalog_fleet_view(spark, sf_dir):
    """gen_index_catalog is the ONE-DataFrame fleet dashboard: a row per
    index with its head commit (seq/gen/kind/rows/fingerprint/cells/
    files/token) and retention span — manifest-only (one pointer listing
    + one manifest read per index), over indexes in mixed states:
    build-only, appended, rolled-back, and never-committed."""
    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    batch = emb.where(F.col("vec_id") % 50 == 17)
    base_n, full_n = base.count(), emb.count()

    gs.gen_index_build(base, index_name="t_cat_a")
    gs.gen_index_build(base, index_name="t_cat_b")
    gs.gen_index_append(batch, index_name="t_cat_b", idempotency_token="cat:b0")
    gs.gen_index_build(base, index_name="t_cat_c")
    gs.gen_index_append(batch, index_name="t_cat_c", idempotency_token="cat:c0")
    gs.gen_index_rollback(spark, 1, index_name="t_cat_c")
    # the never-committed root is created EXPLICITLY (not via the default
    # LocalPointerStore's mkdir side effect): the module's pointer_backend
    # fixture window may have the _store_for seam pointed at an in-memory
    # store for tests running nearby, and filesystem discovery must still
    # see the root either way
    os.makedirs(gs._store_root(spark, "t_cat_d"), exist_ok=True)

    names = ["t_cat_a", "t_cat_b", "t_cat_c", "t_cat_d"]
    cat = gs.gen_index_catalog(spark, index_names=names)
    rows = cat.collect()
    assert [r.index_name for r in rows] == names  # sorted, one row each
    by = {r.index_name: r for r in rows}

    a = by["t_cat_a"]  # fresh build
    assert (a.head_seq, a.kind, a.rows) == (1, "build", base_n)
    assert (a.n_retained, a.oldest_retained_seq) == (1, 1)
    assert a.n_files >= a.n_cells > 0 and a.last_token is None

    b = by["t_cat_b"]  # build + append: head is the accreted commit
    assert (b.head_seq, b.kind, b.rows) == (2, "append", full_n)
    assert b.last_token == "cat:b0"
    assert (b.n_retained, b.oldest_retained_seq) == (2, 1)

    c = by["t_cat_c"]  # rolled back: head SERVES the build snapshot
    assert (c.head_seq, c.kind, c.rows) == (3, "build", base_n)
    assert c.last_token is None  # the high-water token reverted with it
    assert (c.n_retained, c.oldest_retained_seq) == (3, 1)
    assert (c.rows, c.id_xor) == (a.rows, a.id_xor)  # same corpus as the base

    d = by["t_cat_d"]  # root exists (ptr dir auto-created), never committed
    assert d.head_seq is None and d.kind is None and d.rows is None
    assert d.n_retained == 0 and d.oldest_retained_seq is None

    # zero-argument discovery walks the app staging dir's *_gens roots:
    # it must find at least these four (other tests' indexes may coexist)
    discovered = {
        r.index_name for r in gs.gen_index_catalog(spark).collect()
    }
    assert set(names) <= discovered

    # after GC on the rolled-back index the retention span shrinks and
    # the catalog reports the surviving horizon
    gs.gen_index_gc(
        spark, root=gs._store_root(spark, "t_cat_c"), keep_pointers=1,
        min_age_s=0.0,
    )
    c2 = gs.gen_index_catalog(spark, index_names=["t_cat_c"]).collect()[0]
    assert (c2.head_seq, c2.n_retained, c2.oldest_retained_seq) == (3, 1, 3)
    assert (c2.rows, c2.kind) == (base_n, "build")
