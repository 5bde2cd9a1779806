"""Physical-plan regression gate: the properties SCALE.md claims must stay
true as queries evolve — pushdown reaching the scan, dims broadcast (no
sort-merge on the enrichment path), bounded exchange counts."""

from __future__ import annotations

import pytest


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as e

    return e.queries()


def test_filter_pushdown_reaches_scan(spark, sf_dir, queries):
    plan = _plan(queries["filter_pushdown_scan"](spark, sf_dir))
    assert "PushedFilters: [" in plan
    # every predicate pushed: no residual Filter-only exchange stage
    assert plan.count("Exchange") == 0
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and all("[]" not in l for l in pushed)


def test_flagship_broadcasts_all_dims(spark, sf_dir, queries):
    plan = _plan(queries["flagship_prospect_pipeline"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_pricing_summary_single_agg_exchange(spark, sf_dir, queries):
    # partial → final hash aggregation: one shuffle for the agg (AQE may
    # append a read-stage wrapper, so bound it rather than pin it)
    plan = _plan(queries["pricing_summary_agg"](spark, sf_dir))
    assert "HashAggregate" in plan
    assert plan.count("Exchange") <= 2


def test_scan_prunes_columns(spark, sf_dir, queries):
    plan = _plan(queries["pricing_summary_agg"](spark, sf_dir))
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read
    # lineitem has 16 columns; the query needs 7
    assert all(l.count(":") - 1 <= 8 for l in read), read


def test_anti_join_is_anti_not_except(spark, sf_dir, queries):
    plan = _plan(queries["anti_join_incremental"](spark, sf_dir))
    assert "LeftAnti" in plan


def test_window_top1_partitions_by_group_key(spark, sf_dir, queries):
    # no global (empty-partition) window in the scale path
    df = queries["window_top1_per_group"](spark, sf_dir)
    plan = _plan(df)
    assert "Window" in plan
    assert "WindowExec: No Partition Defined" not in plan


def test_bucketed_join_eliminates_shuffle(spark, sf_dir, queries, tmp_path):
    """Bucketing both sides of a join on the join key pre-shuffles the data
    at write time — the SCALE.md co-location claim. The joined plan must
    contain no Exchange (and bucketed scans on both sides)."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.sources import read_table

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")
        read_table(spark, sf_dir, "orders").write.bucketBy(8, "o_custkey").sortBy(
            "o_custkey"
        ).mode("overwrite").saveAsTable("b_orders")
        read_table(spark, sf_dir, "customer").withColumnRenamed(
            "c_custkey", "o_custkey"
        ).write.bucketBy(8, "o_custkey").sortBy("o_custkey").mode(
            "overwrite"
        ).saveAsTable("b_customer")

        joined = spark.table("b_orders").join(spark.table("b_customer"), "o_custkey")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and it actually computes
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_range_clustered_layout_skips_row_groups(spark, sf_dir, tmp_path):
    """Range-clustered parquet must let a one-month predicate prune most
    row groups via footer min/max stats; a hash-scattered layout of the
    same rows prunes none. This is the data-skipping contract of
    operators/compaction.write_range_clustered."""
    import glob
    from datetime import datetime

    import pyarrow.parquet as pq

    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.compaction import (
        write_range_clustered,
    )
    from glue_job_to_write_structured_data_on_s3_full_code_spark.sources import (
        read_table,
    )

    li = read_table(spark, sf_dir, "lineitem")
    clustered = str(tmp_path / "clustered")
    scattered = str(tmp_path / "scattered")
    write_range_clustered(li, clustered, ["l_shipdate"], n_files=8)
    li.repartition(8).write.parquet(scattered)

    def overlapping_fraction(path, lo, hi):
        total = hit = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}[
                "l_shipdate"
            ]
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(idx).statistics
                total += 1
                mn, mx = st.min, st.max
                if not (mx < lo or mn > hi):
                    hit += 1
        assert total >= 8
        return hit / total

    lo, hi = datetime(1996, 3, 1), datetime(1996, 3, 31, 23, 59, 59)
    frac_clustered = overlapping_fraction(clustered, lo, hi)
    frac_scattered = overlapping_fraction(scattered, lo, hi)
    assert frac_scattered == 1.0, "hash layout should overlap everywhere"
    assert frac_clustered <= 0.25, (
        f"clustered layout should prune most row groups, kept {frac_clustered}"
    )

    # layout change must not change the data
    back = spark.read.parquet(clustered)
    assert back.count() == li.count()
    assert back.exceptAll(li).count() == 0


def test_zorder_layout_skips_on_both_columns(spark, sf_dir, tmp_path):
    """Z-ordered parquet must prune row groups for a box predicate on BOTH
    cluster columns; range clustering on the first column alone cannot
    skip on the second. Contract of operators/compaction.write_zorder_clustered."""
    import glob

    import pyarrow.parquet as pq

    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.compaction import (
        write_range_clustered,
        write_zorder_clustered,
    )
    from glue_job_to_write_structured_data_on_s3_full_code_spark.sources import (
        read_table,
    )

    # pinned to sf0.01 with 32 files: at 16 files of sf0.001 the row-group
    # granularity (1/16) cannot separate z-order (~1/64 of space) from the
    # lead-column range layout (~1/8)
    li = read_table(spark, "/root/testdata/sf0.01", "lineitem")
    zpath = str(tmp_path / "zorder")
    rpath = str(tmp_path / "range_first_col")
    write_zorder_clustered(li, zpath, "l_partkey", "l_suppkey", n_files=32)
    write_range_clustered(li, rpath, ["l_partkey"], n_files=32)

    def box_overlap_fraction(path, box):
        total = hit = 0
        for f in glob.glob(path + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for g in range(md.num_row_groups):
                total += 1
                ok = True
                for col, (lo, hi) in box.items():
                    st = md.row_group(g).column(idx[col]).statistics
                    if st.max < lo or st.min > hi:
                        ok = False
                        break
                if ok:
                    hit += 1
        assert total >= 32
        return hit / total

    # a narrow box in both dimensions (~1/8 of each key range)
    pk_hi = li.agg({"l_partkey": "max"}).first()[0]
    sk_hi = li.agg({"l_suppkey": "max"}).first()[0]
    box = {
        "l_partkey": (0, pk_hi // 8),
        "l_suppkey": (0, sk_hi // 8),
    }
    frac_z = box_overlap_fraction(zpath, box)
    frac_r = box_overlap_fraction(rpath, box)
    # range layout prunes only on the lead column (~1/8 of groups kept);
    # z-order additionally prunes on the second (~1/64 ideal)
    assert frac_z < frac_r, (frac_z, frac_r)
    assert frac_z <= 0.25, f"z-order kept {frac_z} of row groups"

    back = spark.read.parquet(zpath)
    assert back.count() == li.count() and back.exceptAll(li).count() == 0


def test_bloom_prefilter_cuts_probe_rows(spark, sf_dir):
    """The Bloom pre-filter must pass all matching fact rows (exact join
    result — parity test covers equality) while pruning most of the
    non-matching probe side before the shuffle."""
    from pyspark.sql import functions as F

    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.bloom import (
        bloom_might_contain,
        build_bloom_bits,
    )
    from glue_job_to_write_structured_data_on_s3_full_code_spark.sources import (
        read_table,
    )

    li = read_table(spark, sf_dir, "lineitem")
    hi = read_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice") >= 450000.0
    )
    bits = build_bloom_bits(hi, "o_orderkey")
    passed = li.where(bloom_might_contain(bits, "l_orderkey")).count()
    total = li.count()
    true_matches = li.join(
        hi.select("o_orderkey").distinct(),
        li.l_orderkey == F.col("o_orderkey"),
        "left_semi",
    ).count()
    assert passed >= true_matches, "bloom dropped a true match"
    # selective build side (~10% of orders) → most probe rows pruned
    assert passed <= total * 0.25, (passed, total)


def test_arrow_jaccard_single_shuffle(spark, sf_dir, queries):
    """The arrow Jaccard strategy claims exactly one shuffle (the
    groupBy(block) feeding applyInPandas) and no joins at all."""
    df = queries["dedup_jaccard_pairs"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan


def test_waterfall_equi_fast_path_no_smj(spark, sf_dir, queries):
    """Equi-tier fallback joins must broadcast the pre-reduced dim — the
    fact side never sort-merge-joins or globally sorts."""
    df = queries["waterfall_fallback_join"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("SortMergeJoin") == 0, plan
    assert plan.count("BroadcastHashJoin") >= 2  # one per tier at least


def test_curation_pipeline_single_shuffle(spark, sf_dir, queries):
    """corpus_curation_pipeline claims exactly one shuffle (the
    fingerprint-dedup window); everything before it must stay map-only."""
    df = queries["corpus_curation_pipeline"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    exchanges = plan.count("Exchange hashpartitioning") + plan.count(
        "Exchange rangepartitioning"
    ) + plan.count("Exchange SinglePartition")
    assert exchanges == 1, f"expected 1 exchange, plan has {exchanges}"


def test_nation_pair_join_broadcast_only(spark, sf_dir, queries):
    """nation_pair_volume: every join broadcast at test scale, no
    sort-merge; one aggregation shuffle."""
    df = queries["nation_pair_volume"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 5
    exchanges = plan.count("Exchange hashpartitioning")
    assert exchanges == 1, f"expected 1 agg exchange, plan has {exchanges}"


def test_jaccard_posting_build_is_map_side(spark, sf_dir):
    """postings-strategy Jaccard: tokenize/size/block are row-local, so
    the only shuffles are the posting self-join and the pair-count agg —
    and the documents table is scanned exactly twice (once per join
    side), never re-scanned for sizes or blocking keys. (The registered
    query defaults to the arrow strategy — see
    test_arrow_jaccard_single_shuffle.)"""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.dedup import (
        jaccard_similar_pairs,
    )
    from glue_job_to_write_structured_data_on_s3_full_code_spark.sources import (
        read_table,
    )

    docs = read_table(spark, sf_dir, "documents")
    df = jaccard_similar_pairs(
        docs, "text", "doc_id", block_col="source", threshold=0.5,
        strategy="postings",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 2, plan.count("Scan parquet")
    exchanges = plan.count("Exchange hashpartitioning")
    assert exchanges <= 3, f"expected <=3 exchanges, plan has {exchanges}"


def test_deep_pipeline_broadcasts_and_breaks_lineage(spark, sf_dir, queries):
    """deep_prospect_pipeline: every enrichment join broadcast (no
    sort-merge anywhere in an ~18-stage plan), and the checkpoint_stage
    lineage break is real — the physical plan scans the staged parquet
    instead of re-deriving the 8-stage prefix per waterfall branch."""
    df = queries["deep_prospect_pipeline"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert "deep_pipeline_stage" in plan  # staged scan, not recompute
    # the pre-checkpoint dims must NOT appear: their joins happened
    # before the lineage break and only the staged columns survive
    assert "r_regionkey" not in plan


def test_ivfpq_no_sort_merge_join(spark, sf_dir, queries):
    """IVFADC: assignment and LUT are broadcast nested-loop / broadcast
    hash only; the ADC join must not fall back to sort-merge."""
    df = queries["embedding_ivfpq_topk"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan


def test_pretraining_pipeline_no_cartesian(spark, sf_dir, queries):
    """pretraining_data_pipeline composes curation + LSH + packing; the
    candidate join must stay an equality join on band keys — a Cartesian
    product here means the LSH banding silently degenerated."""
    df = queries["pretraining_data_pipeline"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_kmeans_assignment_broadcasts_centroids(spark, sf_dir, queries):
    # both Lloyd iterations assign via a K-row broadcast (no shuffle of
    # the vector side against centroids) and never SortMergeJoin
    plan = _plan(queries["embedding_kmeans"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_semantic_dedup_groups_by_cluster_key(spark, sf_dir, queries):
    # SemDeDup's sub-quadratic core: the pair triangle is scored INSIDE a
    # cluster-key groupBy (one Arrow applyInPandas per cluster) — no pair
    # join materializes at all, let alone a cartesian one; the only join
    # is the K-row broadcast centroid assignment
    df = queries["semantic_dedup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan


def test_rag_retrieval_broadcasts_queries(spark, sf_dir, queries):
    # query embeddings (3 rows) broadcast against the chunk side; the only
    # wide exchange is the top-k window partitioned by query
    plan = _plan(queries["rag_retrieval_pipeline"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_duplicated_ngram_shuffles_digests_only(spark, sf_dir, queries):
    # the frequency join shuffles md5 digests; gram text must not survive
    # into the exchange (column pruning drops `g` after the digest select)
    df = queries["duplicated_ngram_spans"](spark, sf_dir)
    plan = _plan(df)
    ex_lines = [l for l in plan.splitlines() if "Exchange" in l]
    assert ex_lines and all(" g#" not in l for l in ex_lines)


def test_shard_export_single_exchange(spark, sf_dir, queries):
    # shard export claims one shuffle (the per-shard window); the token
    # count, draw, and shard assignment all stay map-side
    df = queries["training_shard_export"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


def test_token_budget_single_exchange(spark, sf_dir, queries):
    # budget enforcement claims one shuffle (the per-source cumsum window)
    df = queries["token_budget_mix"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "Join" not in plan


def test_mmr_broadcasts_every_pick(spark, sf_dir, queries):
    # every MMR step joins the shortlist against a 1-row broadcast pick —
    # never a SortMergeJoin, never an unhinted cartesian
    plan = _plan(queries["mmr_diverse_topk"](spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_dedup_broadcasts_digest_sets(spark, sf_dir, queries):
    # scalable direction: the SMALL (incoming-batch) digest sets are
    # broadcast into LeftSemi probes that filter the corpus map-side,
    # and the ≤|batch| surviving corpus digests broadcast back into the
    # two verdict left joins — 4 broadcast joins total, never a
    # sort-merge (which would shuffle the corpus wholesale)
    df = queries["incremental_corpus_dedup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 4, plan
    assert plan.count("LeftSemi") >= 2, plan
    assert "SortMergeJoin" not in plan


def test_capstone_joinless_chain_with_bounded_exchanges(spark, sf_dir, queries):
    # the capstone chains 5 stages over ONE documents scan with no joins:
    # exchanges are exactly the stage windows (fingerprint, head_fp,
    # source, shard_id), the 8-group manifest agg pair, and the final
    # 8-row single-partition token-share window — nothing quadratic,
    # nothing driver-side, no second scan of the corpus
    df = queries["corpus_to_shards_capstone"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("Exchange") <= 7, plan


def test_quality_filters_are_map_only(spark, sf_dir, queries):
    # the within-doc repetition/entropy filters claim ZERO shuffles —
    # every metric is a higher-order array expression over the per-doc
    # token array, so the plan is scan → project, nothing else
    for name in ("gopher_repetition_filter", "token_entropy_filter"):
        df = queries[name](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"{name}: {plan}"
        assert "Join" not in plan, f"{name}: {plan}"


# -- registry-wide global-window sweep ---------------------------------------
#
# A WindowExec with an empty partition spec funnels its entire input through
# ONE task — fatal at 100 TB unless the input is already a post-aggregation
# frame of bounded size. The per-query gates above pin specific plans; this
# sweep closes the gap for FUTURE registrations: every registered query's
# optimized plan is walked, and any global (partition-less) Window must
# either sit above an Aggregate in its own subtree (bounded input by
# construction) or be one of the enumerated, documented parity cases.

#: Registered queries ALLOWED a global window over non-aggregated input,
#: each with the documented reason (see the operator docstrings). The sweep
#: asserts this list is MINIMAL — an entry that stops offending must be
#: removed, so the whitelist can never hide a future regression.
_GLOBAL_WINDOW_WHITELIST = {
    # reference-parity W1 hazard, kept deliberately; scalable twin exists
    # (scalable_surrogate_key via zipWithIndex-style partition offsets)
    "sequential_surrogate_key",
    # same W1 parity: the reference's 18-stage pipeline ends in a global
    # row_number surrogate key over the joined prospect frame (FULL.py:413)
    "deep_prospect_pipeline",
    # reference row_number() audit column — same W1 parity hazard
    "flagship_prospect_pipeline",
    # exact order-statistic form, documented with a sampled-boundary
    # scalable twin (equi_depth_histogram_sampled)
    "equi_depth_histogram",
}


def _walk_plan(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk_plan(children.apply(i))


#: Plan nodes that BOUND the rows flowing into a global window by
#: construction: an Aggregate (one row per group key set) or a GlobalLimit
#: (top-k). Either directly beneath the window makes the single-task
#: window safe at any input scale.
_BOUNDING_NODES = {"Aggregate", "GlobalLimit"}


def _bounded_input(window_node) -> bool:
    """True iff the window's DIRECT input chain — child links through
    UNARY nodes only — reaches a bounding node. A bounding node merely
    somewhere in the subtree is NOT enough: a global window over
    ``hugeTable JOIN aggResult`` would have one in the join's other arm
    while still funneling the huge side through a single task, so the
    walk stops at the first join/union/leaf."""
    ch = window_node.children()
    node = ch.apply(0) if ch.size() == 1 else None
    while node is not None:
        if node.getClass().getSimpleName() in _BOUNDING_NODES:
            return True
        ch = node.children()
        if ch.size() != 1:
            return False
        node = ch.apply(0)
    return False


def _offending_global_windows(df, name: str) -> list[str]:
    bad = []
    plan = df._jdf.queryExecution().optimizedPlan()
    for node in _walk_plan(plan):
        if node.getClass().getSimpleName() != "Window":
            continue
        if not node.partitionSpec().isEmpty():
            continue
        if not _bounded_input(node):
            bad.append(f"{name}: global window with unbounded direct input")
    return bad


@pytest.mark.slow  # registry-wide plan sweep (~140 s)
def test_no_unbounded_global_window_anywhere_in_registry(spark, sf_dir):
    """Walks BOTH the plan each query returns AND the plans of stages the
    query executed eagerly while being constructed (localCheckpoint /
    checkpoint_stage / materialize_result — reported via the
    session._STAGE_PLAN_OBSERVERS hook), so a hazardous global window
    can't hide behind a lineage break."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark import session

    import __spark_entry__ as e

    qs = e.queries()
    assert _GLOBAL_WINDOW_WHITELIST <= set(qs), "whitelist names must register"
    offenders: list[str] = []
    stale_whitelist: list[str] = []
    staged: list = []
    session._STAGE_PLAN_OBSERVERS.append(lambda df, label: staged.append((df, label)))
    try:
        for name, fn in qs.items():
            staged.clear()
            found = _offending_global_windows(fn(spark, sf_dir), name)
            for stage_df, label in staged:
                found.extend(
                    _offending_global_windows(stage_df, f"{name}[{label}]")
                )
            if name in _GLOBAL_WINDOW_WHITELIST:
                if not found:
                    stale_whitelist.append(name)
            else:
                offenders.extend(found)
    finally:
        session._STAGE_PLAN_OBSERVERS.clear()
    assert not offenders, (
        "global (partition-less) Window over non-aggregated input — either "
        "repartition the window or document + whitelist it: "
        + "; ".join(offenders)
    )
    assert not stale_whitelist, (
        f"whitelisted but no longer offending — remove: {stale_whitelist}"
    )


def test_every_eager_checkpoint_is_observable():
    """The sweep above can only audit eager stages that report their
    plans, so raw ``.localCheckpoint(`` is banned outside the
    session.eager_checkpoint funnel (and ``df.write`` lineage breaks must
    go through the parquet staging helpers, which also notify)."""
    import pathlib

    # anchored on this file, not the CWD: a CWD-relative path makes the
    # ban pass vacuously (rglob of a missing dir yields nothing) when
    # pytest runs from outside the repo root
    pkg = (
        pathlib.Path(__file__).resolve().parents[1]
        / "glue_job_to_write_structured_data_on_s3_full_code_spark"
    )
    assert pkg.is_dir(), pkg
    raw = [
        str(p)
        for p in pkg.rglob("*.py")
        if p.name != "session.py" and ".localCheckpoint(" in p.read_text()
    ]
    assert not raw, f"raw localCheckpoint outside session.eager_checkpoint: {raw}"


def test_ann_recall_report_broadcast_only(spark, sf_dir, queries):
    """The scoreboard's joins are all broadcasts: family candidate joins
    broadcast the tiny query/centroid/codebook side, the hit joins
    broadcast the 50-row exact frame, and the final assembly broadcasts
    the 1-row n_queries agg — a data-sized SortMergeJoin anywhere means a
    family stopped broadcasting and the audit would shuffle the corpus."""
    plan = _plan(queries["ann_recall_report"](spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 6


def test_drift_psi_single_scan_bounded_exchanges(spark, sf_dir, queries):
    # the PSI monitor claims "map-side posexplode → 512 (dim,bucket)
    # groups regardless of corpus size": one corpus scan, no joins, and
    # the only data-sized exchange is the partial-aggregated (dim,bucket)
    # shuffle — the window + final agg reshuffle the bounded 512-row
    # frame. A second scan or a pre-aggregation exchange of raw exploded
    # rows would break the 100 TB shape
    df = queries["embedding_drift_psi"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 3, plan
    # map-side combine: a partial HashAggregate must sit below the first
    # exchange, so what shuffles is ≤512 groups per task, not rows×64 dims
    first_exchange = plan.index("Exchange")
    assert "HashAggregate" in plan[first_exchange:], plan
    partial_before = plan[first_exchange:].count("partial_sum") or (
        "partial" in plan[first_exchange:]
    )
    assert partial_before, plan


def test_regional_revenue_broadcasts_dims_only(spark, sf_dir, queries):
    """The Q5-shaped star must hint broadcasts ONLY on the true dims
    (supplier/nation/region); `orders` and `customer` are fact-sized at
    the 100 TB target (~1.5B / ~150M rows), so a forced broadcast there
    is a driver-OOM scale-killer. Pin it by disabling size-based auto
    broadcast: whatever still broadcasts under threshold=-1 is exactly
    the hinted set, and the fact joins must fall back to a shuffled
    strategy instead of a BroadcastExchange."""
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = queries["regional_revenue_join"](spark, sf_dir)
        # simple mode: each join node prints once (formatted doubles them
        # in the detail section)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    # hinted dims: supplier, nation, region — exactly 3 broadcast joins
    assert plan.count("BroadcastHashJoin") == 3, plan
    # lineitem⋈orders and ⋈customer take a shuffled strategy when size
    # estimates say they must (AQE may still localize them at runtime
    # when the MEASURED size allows — that is the point)
    assert (
        plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") >= 2
    ), plan


def test_length_banded_pairs_plan_is_equi_join(spark):
    """The blocked linkage pair generator's whole point is the JOIN
    STRATEGY: the length band must reach Catalyst as an equi-join key
    (hash-partitionable — BroadcastHashJoin / ShuffledHashJoin /
    SortMergeJoin), never the BroadcastNestedLoopJoin the all-pairs
    theta-join degenerates to on an unbounded side."""
    from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.linkage import (
        length_banded_levenshtein_pairs,
    )

    names = spark.createDataFrame(
        [(f"name_{i:04d}",) for i in range(500)], "nm string"
    )
    df = length_banded_levenshtein_pairs(names, "nm", 2)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert (
        "BroadcastHashJoin" in plan
        or "ShuffledHashJoin" in plan
        or "SortMergeJoin" in plan
    ), plan
