"""ANN: the approximate LSH path is rows-only at the driver; pin its
contract here — determinism, true-cosine scores, and nonzero recall
against the exact baseline."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.similarity import (
    cosine_neardup,
    cosine_topk,
    ivf_topk,
    lsh_bucketed_topk,
)
from glue_job_to_write_structured_data_on_s3_full_code_spark.sources import read_table


def test_lsh_subset_of_bucket_and_scores_match_exact(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=50).collect()
    approx = lsh_bucketed_topk(emb, queries, k=50, num_planes=4).collect()

    exact_scores = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    # every approx hit that the exact top-50 also contains must agree on score
    overlap = 0
    for r in approx:
        key = (r.query_id, r.neighbor_id)
        if key in exact_scores:
            overlap += 1
            assert abs(exact_scores[key] - r.cosine) < 1e-9
    assert overlap > 0, "LSH buckets found nothing from the exact top-50"


def test_ivf_scores_match_exact_and_recall(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=50).collect()
    approx = ivf_topk(emb, queries, k=50, centroid_mod=50, nprobe=3).collect()

    exact_scores = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    overlap = 0
    for r in approx:
        key = (r.query_id, r.neighbor_id)
        if key in exact_scores:
            overlap += 1
            assert abs(exact_scores[key] - r.cosine) < 1e-9
    assert overlap > 0, "IVF probes found nothing from the exact top-50"


def test_neardup_kept_iff_no_smaller_neighbor(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    rows = cosine_neardup(emb, threshold=0.35).collect()
    assert len(rows) == emb.count()
    assert all(r.kept == (r.n_smaller_neardups == 0) for r in rows)
    assert any(not r.kept for r in rows), "threshold found no near-dups"
    assert any(r.kept for r in rows)


def test_neardup_strategies_identical(spark, sf_dir):
    """expr (JVM expressions), matmul (driver-collected broadcast BLAS),
    and blocked (distributed block-pair BLAS, no driver collect) must be
    result-identical — three physical plans, one semantics."""
    emb = read_table(spark, sf_dir, "embeddings")
    a = sorted(map(tuple, cosine_neardup(emb, threshold=0.35).collect()))
    for strategy in ("matmul", "blocked"):
        b = sorted(
            map(
                tuple,
                cosine_neardup(emb, threshold=0.35, strategy=strategy).collect(),
            )
        )
        assert a == b, f"strategy {strategy} diverged from expr"


def test_neardup_blocked_handles_negative_ids(spark, sf_dir):
    """pmod block assignment: a negative id must land in 0..num_blocks-1
    (Spark's % would put it in a negative block the replication frame
    never pairs, silently dropping its cross-block near-dup pairs)."""
    emb = read_table(spark, sf_dir, "embeddings").limit(200)
    shifted = emb.withColumn("vec_id", F.col("vec_id") - 100)
    a = sorted(map(tuple, cosine_neardup(shifted, threshold=0.35).collect()))
    b = sorted(
        map(
            tuple,
            cosine_neardup(
                shifted, threshold=0.35, strategy="blocked", num_blocks=4
            ).collect(),
        )
    )
    assert a == b


def test_lsh_deterministic(spark, sf_dir):
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3)
    a = sorted(map(tuple, lsh_bucketed_topk(emb, q, k=5).collect()))
    b = sorted(map(tuple, lsh_bucketed_topk(emb, q, k=5).collect()))
    assert a == b


def test_pq_recall_against_exact_topk(spark, sf_dir):
    """PQ ADC is approximate in *rank*, not in code: its top-50 should
    substantially overlap the exact cosine top-50 (the fixture vectors are
    well-spread), and the operator must be deterministic."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.similarity import (
        pq_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=50).collect()
    approx = pq_topk(emb, queries, k=50, num_subspaces=4, centroid_mod=25).collect()

    exact_keys = {(r.query_id, r.neighbor_id) for r in exact}
    hits = sum((r.query_id, r.neighbor_id) in exact_keys for r in approx)
    assert hits > 0, "PQ top-50 shares nothing with the exact top-50"

    again = pq_topk(emb, queries, k=50, num_subspaces=4, centroid_mod=25).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_pq_rejects_indivisible_dim_and_empty_queries(spark, sf_dir):
    import pytest as _pytest

    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.similarity import (
        pq_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="not divisible"):
        pq_topk(emb, emb.limit(1), num_subspaces=7, dim=64)
    with _pytest.raises(ValueError, match="empty"):
        pq_topk(emb, emb.where(F.lit(False)))


def test_ivfpq_recall_and_determinism(spark, sf_dir):
    """IVFADC (coarse cells + residual PQ) is approximate twice over —
    probe misses and code quantization — but on the well-spread fixture
    its top-50 must still overlap the exact cosine top-50, and the
    deterministic quantizers must make repeat runs identical."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.similarity import (
        ivfpq_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5)
    exact = cosine_topk(emb, queries, k=50).collect()
    approx = ivfpq_topk(emb, queries, k=50, coarse_mod=50, nprobe=3).collect()

    exact_keys = {(r.query_id, r.neighbor_id) for r in exact}
    hits = sum((r.query_id, r.neighbor_id) in exact_keys for r in approx)
    assert hits > 0, "IVFADC top-50 shares nothing with the exact top-50"

    again = ivfpq_topk(emb, queries, k=50, coarse_mod=50, nprobe=3).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_ivfpq_rejects_indivisible_dim(spark, sf_dir):
    import pytest as _pytest

    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.similarity import (
        ivfpq_topk,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="not divisible"):
        ivfpq_topk(emb, emb.limit(1), num_subspaces=7, dim=64)


def test_neardup_matmul_refuses_unbounded_corpus(spark, sf_dir):
    """The matmul strategy collects the corpus to the driver; above its
    row cap it must raise, not OOM (VERDICT r4 item: a loaded footgun
    without the guard)."""
    import pytest as _pytest

    emb = read_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="capped"):
        cosine_neardup(
            emb, threshold=0.35, strategy="matmul", matmul_max_rows=100
        ).collect()
    # at-or-under the cap still works
    out = cosine_neardup(
        emb.limit(50), threshold=0.35, strategy="matmul", matmul_max_rows=50
    )
    assert out.count() == 50


def test_neardup_boundary_pairs_match_oracle(spark, tmp_path):
    """Threshold-boundary parity: vectors engineered so pair cosines land
    within ~1e-7..1e-9 of the 0.35 threshold. Every strategy compares
    round(cosine, 6) — as does the DuckDB oracle — so the keep decision
    must be identical across engines regardless of float summation order."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from glue_job_to_write_structured_data_on_s3_full_code_spark.plans.llm_ops import (
        EMBEDDING_NEARDUP_ORACLE,
        embedding_neardup_dedup,
    )

    rng = np.random.default_rng(7)
    dim = 64
    base = rng.normal(size=dim)
    u = base / np.linalg.norm(base)
    w = rng.normal(size=dim)
    w -= (w @ u) * u
    w /= np.linalg.norm(w)
    vecs = [(base * 3).astype(np.float32)]
    # targets straddle the threshold at ±1e-9 .. ±3e-7; float32 storage
    # perturbs each by ~1e-7, well inside the ±4.9e-7 band that rounds
    # to exactly 0.35 at 6 dp — so the decision stays deterministic and
    # engine-independent (avoid ±5e-7: that's a 6-dp rounding half-point)
    for eps in (1e-9, -1e-9, 1e-7, -1e-7, 3e-7, -3e-7):
        c = 0.35 + eps
        v = c * u + np.sqrt(1.0 - c * c) * w
        vecs.append((v * 5).astype(np.float32))
    for _ in range(5):
        vecs.append(rng.normal(size=dim).astype(np.float32))

    tbl = pa.table(
        {
            "vec_id": pa.array(range(len(vecs)), type=pa.int64()),
            "embedding": pa.array(
                [v.tolist() for v in vecs], type=pa.list_(pa.float32())
            ),
            "label": pa.array([0] * len(vecs), type=pa.int32()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "embeddings.parquet"))

    got = sorted(
        map(tuple, embedding_neardup_dedup(spark, str(tmp_path)).collect())
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS "
        f"SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    want = sorted(
        (int(a), int(b), bool(c))
        for a, b, c in con.execute(EMBEDDING_NEARDUP_ORACLE).fetchall()
    )
    assert got == want
    # the boundary really is exercised: some engineered vector must be a
    # near-dup of the base vector (cosine rounds to exactly 0.35 >= 0.35)
    assert any(not kept for _, _, kept in got)



def test_ivf_partitioned_index_matches_in_memory(spark, sf_dir):
    """The stored cell-partitioned index behind the registered
    embedding_ivf_indexed_topk must serve row-identical results to the
    in-memory IVF (same centroids, probe set, and scoring)."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.registry import QUERIES

    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    mem = sorted(tuple(r) for r in ivf_topk(emb, q, k=5).collect())
    idx = sorted(
        tuple(r) for r in QUERIES["embedding_ivf_indexed_topk"](spark, sf_dir).collect()
    )
    assert mem == idx and len(mem) > 0


def _copy_embeddings(spark, sf_dir, dest, where):
    """A one-table scale-factor dir holding the ``where`` rows of the
    fixture's embeddings; its basename tags the registered queries'
    index names, so each test gets private indexes."""
    emb = read_table(spark, sf_dir, "embeddings")
    emb.where(where).write.parquet(str(dest / "embeddings.parquet"))
    return str(dest)


def test_stored_ivf_probe_raises_on_wrong_corpus(spark, sf_dir, tmp_path):
    """A stored index must NEVER silently answer for a different corpus:
    the registered probes verify the committed fingerprint against the
    corpus they query, so an index built from other rows raises — on the
    single-build path and on the build + append path."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators import (
        index_store as gs,
    )
    from glue_job_to_write_structured_data_on_s3_full_code_spark.plans.gen_serving import (
        gen_ivf_append_probe,
        gen_ivf_probe,
    )

    sf = _copy_embeddings(spark, sf_dir, tmp_path / "wrongcorpus", F.lit(True))
    emb = read_table(spark, sf, "embeddings")
    wrong = emb.where((F.col("vec_id") % 2 == 0) & (F.col("vec_id") % 50 != 17))
    for query, index in (
        (gen_ivf_probe, "gen_ivf_bench_wrongcorpus"),
        (gen_ivf_append_probe, "gen_ivf_app_bench_wrongcorpus"),
    ):
        gs.gen_index_build(wrong, index_name=index)
        with pytest.raises(ValueError, match="does not match the corpus"):
            query(spark, sf)
    # the index still serves the corpus it actually holds
    q = emb.where(F.col("vec_id") < 10)
    fp = gs._corpus_fingerprint(wrong, "vec_id")
    out = gs.gen_index_probe(
        q, k=5, index_name="gen_ivf_bench_wrongcorpus", expected_fingerprint=fp
    )
    assert out.count() > 0


def test_stored_ivf_append_is_failure_atomic(spark, sf_dir):
    """A batch whose assignment job FAILS must leave the served index and
    its fingerprint exactly as they were: the batch lands in an unpointed
    generation and only the pointer commit publishes it, so nothing is
    published before the job succeeds (the
    partial-append-with-stale-fingerprint hazard)."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators import (
        index_store as gs,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 50 != 17)
    gs.gen_index_build(base, index_name="t_atomic_idx")
    head_before = gs.gen_index_head(spark, "t_atomic_idx")

    # poison batch: the plan itself fails at execution
    poison = emb.where(F.col("vec_id") % 50 == 17).withColumn(
        "embedding",
        F.expr("transform(embedding, x -> assert_true(false))").cast(
            "array<double>"
        ),
    )
    with pytest.raises(Exception):
        gs.gen_index_append(poison, index_name="t_atomic_idx")

    assert gs.gen_index_head(spark, "t_atomic_idx") == head_before
    assert gs.gen_index_verify(spark, "t_atomic_idx")["consistent"]
    # the index still serves the base corpus it actually holds
    q = emb.where(F.col("vec_id") < 10)
    out = gs.gen_index_probe(
        q,
        k=5,
        index_name="t_atomic_idx",
        expected_fingerprint=gs._corpus_fingerprint(base, "vec_id"),
    )
    assert out.count() > 0


def test_ivf_append_replay_fast_path_runs_no_assignment(spark, sf_dir, monkeypatch):
    """A replayed delivery must be discarded BEFORE the batch-sized
    assignment and cell write — the whole point of exactly-once is that
    replays are near-free (one pointer read), not full Spark jobs."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators import (
        index_store as gs,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    gs.gen_index_build(
        emb.where(F.col("vec_id") % 50 != 17), index_name="t_fastpath_idx"
    )
    batch = emb.where(F.col("vec_id") % 50 == 17)
    gs.gen_index_append(batch, index_name="t_fastpath_idx", idempotency_token="b0")
    head = gs.gen_index_head(spark, "t_fastpath_idx")

    def forbidden(*a, **k):
        raise AssertionError("replay ran the assignment job")

    monkeypatch.setattr(gs, "_ivf_assign", forbidden)
    replay = gs.gen_index_append(
        batch, index_name="t_fastpath_idx", idempotency_token="b0"
    )
    assert replay == head[1]
    assert gs.gen_index_head(spark, "t_fastpath_idx") == head
    assert gs.gen_index_verify(spark, "t_fastpath_idx")["consistent"]


def test_probe_verify_fresh_detects_external_corpus_growth(spark, sf_dir, tmp_path):
    """Corpus files that grow OUTSIDE any index mutation must be caught
    by the next probe: the registered probes recompute the corpus
    fingerprint on every call (a memo keyed by the corpus plan could not
    see file-level growth behind the same path), so a grown corpus
    refuses instead of being served from the stale index."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.registry import QUERIES

    query = QUERIES["embedding_ivf_indexed_topk"]
    sf = _copy_embeddings(
        spark, sf_dir, tmp_path / "growing", F.col("vec_id") % 50 != 17
    )
    assert query(spark, sf).count() > 0  # builds on the base rows, serves
    emb = read_table(spark, sf_dir, "embeddings")
    emb.where(F.col("vec_id") % 50 == 17).write.mode("append").parquet(
        f"{sf}/embeddings.parquet"
    )
    with pytest.raises(ValueError, match="does not match the corpus"):
        query(spark, sf)


def test_ivf_topk_curve_identical_to_per_nprobe_runs(spark, sf_dir):
    """The shared-pass curve must be ROW-identical to an independent
    ivf_topk at every depth — the whole point of carrying the probe rank
    through one candidate join instead of re-running the assignment."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.similarity import (
        ivf_topk_curve,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    curve = ivf_topk_curve(
        emb, queries, k=5, centroid_mod=50, nprobe_max=3
    ).collect()
    by_depth: dict[int, set] = {}
    for r in curve:
        by_depth.setdefault(r.nprobe, set()).add(
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
        )
    assert sorted(by_depth) == [1, 2, 3]
    for n in (1, 2, 3):
        ref = {
            (r.query_id, r.neighbor_id, r.cosine, r.rank)
            for r in ivf_topk(
                emb, queries, k=5, centroid_mod=50, nprobe=n
            ).collect()
        }
        assert by_depth[n] == ref, f"curve slice nprobe={n} drifted from ivf_topk"


@pytest.mark.slow  # all-family recall audit (~9 s)
def test_ann_recall_report_matches_oracle_and_is_monotone(spark, sf_dir, duck):
    """The scoreboard replays bit-for-bit in DuckDB (the driver-gate
    contract, pinned locally so it can't rot while rotated out), and the
    IVF recall curve is non-decreasing in nprobe — probing more cells can
    only add candidates, never lose one."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.plans.llm_ops import (
        ANN_RECALL_ORACLE,
        ann_recall_report,
    )

    got = {
        r.method: (r.n_queries, r.total_hits, r.recall_at_5)
        for r in ann_recall_report(spark, sf_dir).collect()
    }
    want = {
        m: (nq, hits, rec)
        for m, nq, hits, rec in duck.execute(ANN_RECALL_ORACLE).fetchall()
    }
    assert got == want
    assert (
        got["ivf_np1"][1] <= got["ivf_np2"][1] <= got["ivf_np3"][1]
    ), "IVF hits must be monotone in nprobe"
    for method, (n_queries, hits, recall) in got.items():
        assert 0 <= hits <= n_queries * 5, method
        assert abs(recall - hits / (n_queries * 5.0)) < 1e-9, method
