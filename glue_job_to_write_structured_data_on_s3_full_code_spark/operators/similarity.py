"""Similarity search over embedding columns (SURVEY.md §7 M5).

- :func:`cosine_topk` — brute-force exact top-k: broadcast the query set,
  one pass over the corpus, per-query top-k via window. At 100 TB the
  corpus side stays partition-parallel and nothing shuffles except the
  (tiny) per-query candidate sets after local reduction.
- :func:`lsh_bucketed_topk` — the scale path: random-hyperplane (sign) LSH
  assigns each vector a bucket key; queries probe only their own bucket,
  turning the N×Q cross product into an equality join. Recall is traded
  for cost; exactness is recovered per-bucket with true cosine.
- :func:`ivf_topk` — the other classic scale path (IVF): a small
  deterministic centroid set coarse-quantizes the corpus once (broadcast
  argmax-cosine assignment, no shuffle of the corpus), queries probe their
  ``nprobe`` nearest cells, and the candidate join is an equality join on
  the cell id. At 100 TB the corpus partition would be *stored* bucketed
  by cell id, so probing reads only the probed cells.
- :func:`cosine_neardup` — embedding-cosine near-duplicate dedup: a pair
  is a near-dup when cosine ≥ threshold; each vector keeps/drops by
  whether a smaller-id near-dup exists (greedy representative).

Dot products use ``F.zip_with`` + ``F.aggregate`` — JVM expressions, no
Python UDF. Embeddings are cast to double before arithmetic so results
match DuckDB's double math bit-for-bit (then rounded for the hash gate).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import spread_small_input


def _dot(a: Column, b: Column) -> Column:
    """Dot product of two array<double> columns via zip_with + aggregate.

    Measured note: expanding to a flat ``a[0]*b[0] + …`` expression is
    ~2.6× SLOWER (the deep Add tree falls out of codegen into interpreted
    evaluation with per-term bounds checks); the higher-order form stays.
    Folds left-to-right, matching DuckDB's ordered unnest sum bit-for-bit.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_sql(a: str, b: str) -> str:
    """The SQL spelling of :func:`_dot` over two column NAMES — parses to
    the identical Catalyst tree (ArrayAggregate over ArraysZipWith, double
    zero seed, left-to-right fold)."""
    return (
        f"aggregate(zip_with(`{a}`, `{b}`, (x, y) -> x * y), 0.0D, "
        "(acc, v) -> acc + v)"
    )


def _cosine_cols(a: str, b: str) -> Column:
    """``cosine(`a`, `b`)`` as ONE parsed expression.

    Value-identical to composing :func:`_dot` + ``F.sqrt`` Column ops (the
    parser builds the same expression nodes), but costs a single py4j
    round-trip instead of ~60: every ``F.zip_with``/``F.aggregate`` lambda
    crosses the Python↔JVM socket once per sub-expression, and the cosine
    block (3 dots + 2 sqrts) repeated across the ANN family made plan
    CONSTRUCTION a measured multi-second driver cost per query (r15,
    guide §1/§7.3 — driver-side work the cluster never parallelizes)."""
    return F.expr(
        f"{_dot_sql(a, b)} / (sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)}))"
    )


def _norm_col(vec: str) -> Column:
    """``sqrt(dot(v, v))`` — EXACTLY the denominator factor
    :func:`_cosine_cols` computes (same parsed tree over the same input,
    so the same double), hoisted so pairwise scorers can evaluate it once
    per ROW instead of once per PAIR."""
    return F.expr(f"sqrt({_dot_sql(vec, vec)})")


def _cosine_pre(a: str, b: str, na: str, nb: str) -> Column:
    """Cosine over vector columns whose norms were precomputed with
    :func:`_norm_col` (r16, guide §1.2 per-task work): every pairwise
    scorer in this module evaluates cosine inside a join, where
    ``_cosine_cols`` recomputes BOTH self-dots per pair — 3 dot products
    where 1 suffices (the IVF corpus assignment scores N·max_centroids
    pairs, the exact baseline N·Q). Bit-identical to ``_cosine_cols``:
    ``na``/``nb`` hold the very same ``sqrt(dot(x, x))`` doubles the
    inline form would produce, and IEEE multiply/divide of equal inputs
    is equal output (pinned by tests/test_r16_optimizations.py)."""
    return F.expr(f"{_dot_sql(a, b)} / (`{na}` * `{nb}`)")


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _as_double_name(name: str) -> Column:
    """:func:`_as_double` over a column NAME as one parsed expression (same
    tree, one py4j round-trip — see :func:`_cosine_cols`)."""
    return F.expr(f"transform(`{name}`, x -> CAST(x AS DOUBLE))")


#: Shared rounding precision for every near-dup threshold compare — one
#: constant so a future precision change cannot drift one strategy.
_COSINE_DP = 6


def _round_cosine(cosine: Column) -> Column:
    """Spark-side half of the round-before-compare contract."""
    return F.round(cosine, _COSINE_DP)


def _np_neardup_hits(sims, threshold: float):
    """numpy-side half of the round-before-compare contract: boolean hit
    matrix for a similarity matrix, rounded to ``_COSINE_DP`` first so the
    decision matches the expression strategy and the DuckDB oracle
    regardless of float summation order."""
    import numpy as np

    return np.round(sims, _COSINE_DP) >= threshold


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector (self-matches kept out
    by id inequality). Output: query_id, neighbor_id, cosine (rounded)."""
    from pyspark.sql import Window

    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double_name(vec_col).alias("qv")
    ).withColumn("_nq", _norm_col("qv"))
    # broadcast probes inherit the scan's partitioning; a small corpus file
    # is ONE partition and would score single-threaded (see cosine_neardup)
    c = spread_small_input(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double_name(vec_col).alias("cv")
    ).withColumn("_nc", _norm_col("cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
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


def cosine_neardup(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.35,
    strategy: str = "expr",
    num_blocks: int = 8,
    matmul_max_rows: int | None = None,
) -> DataFrame:
    """Exact embedding-cosine near-dup dedup (task brief: dedup family).

    Output per vector: ``n_smaller_neardups`` (how many near-dups with a
    smaller id exist) and ``kept`` (no smaller near-dup → this vector is
    the cluster representative) — the same keep-min-id rule as
    :func:`..dedup.exact_dedup`.

    This exact form is the oracle semantics; it is O(N²) and only viable
    on a bounded corpus. At 100 TB the candidate pairs come from the LSH
    buckets of :func:`lsh_bucketed_topk` (or IVF cells) instead of the
    self cross-join — same scoring, same keep rule.

    The threshold compare is on ``round(cosine, 6)`` in EVERY strategy
    (and in the DuckDB oracle): float64 summation order differs between
    BLAS, Spark expressions, and DuckDB, so a raw compare can flip for a
    pair within a few ulps of the threshold — rounding first makes the
    decision order-independent (the same round-before-rank taming the
    ADC path uses).

    ``strategy``:

    - ``'expr'`` — broadcast nested-loop join scored with JVM
      ``zip_with``/``aggregate`` expressions. No Python in the path, but
      higher-order functions run interpreted: N²·dim per-element
      evaluation dominates once N·dim is large (and pays a multi-second
      JIT warm-up on first execution).
    - ``'matmul'`` — the same broadcast shape, vectorized: the reference
      matrix ships to every task via ``sparkContext.broadcast`` and each
      corpus partition scores all its rows against it in one numpy
      matmul (BLAS). ~50× faster at 2k×64 — but for self-comparison the
      "reference side" IS the corpus, so this strategy collects the
      whole input to the driver: it is hard-capped at
      ``matmul_max_rows`` (default 100k) and raises ``ValueError``
      above that instead of OOMing the driver.
    - ``'blocked'`` — the distributed exact form (default for the
      registered query): vectors are hashed into ``num_blocks`` id
      blocks, every unordered block PAIR becomes one task, and each task
      BLAS-matmuls just its two blocks. Nothing is ever collected to the
      driver and per-task memory is 2·N/num_blocks vectors — at 100 TB
      you raise num_blocks until a block fits an executor. Total compute
      is still exact-O(N²) (that is the semantics); the sub-quadratic
      route remains LSH/IVF candidate generation.
    """
    if strategy == "matmul":
        return _cosine_neardup_matmul(
            corpus,
            vec_col,
            id_col,
            threshold,
            max_rows=(
                _MATMUL_MAX_ROWS if matmul_max_rows is None else matmul_max_rows
            ),
        )
    if strategy == "blocked":
        return _cosine_neardup_blocked(
            corpus, vec_col, id_col, threshold, num_blocks=num_blocks
        )
    v = corpus.select(
        F.col(id_col).alias("vid"), _as_double_name(vec_col).alias("vv")
    ).withColumn("vnorm", F.sqrt(_dot(F.col("vv"), F.col("vv"))))

    # a small corpus arrives as ONE input partition; the broadcast
    # nested-loop probe then runs single-threaded. Spread the probe side
    # over the cluster — at 100 TB the scan is already partitioned and
    # this is a no-op knob.
    hi = spread_small_input(v).select(
        F.col("vid").alias("id_hi"), F.col("vv").alias("v_hi"), F.col("vnorm").alias("n_hi")
    )
    lo = v.select(
        F.col("vid").alias("id_lo"), F.col("vv").alias("v_lo"), F.col("vnorm").alias("n_lo")
    )
    pairs = (
        hi.join(F.broadcast(lo), F.col("id_hi") > F.col("id_lo"))
        .select(
            "id_hi",
            _round_cosine(
                _dot(F.col("v_hi"), F.col("v_lo"))
                / (F.col("n_hi") * F.col("n_lo"))
            ).alias("cosine"),
        )
        .where(F.col("cosine") >= threshold)
    )
    cnt = pairs.groupBy("id_hi").agg(F.count("*").alias("n_smaller_neardups"))
    return (
        v.join(cnt, v["vid"] == cnt["id_hi"], "left")
        .select(
            F.col("vid").alias(id_col),
            F.coalesce("n_smaller_neardups", F.lit(0)).alias("n_smaller_neardups"),
            (F.coalesce("n_smaller_neardups", F.lit(0)) == 0).alias("kept"),
        )
    )


_MATMUL_MAX_ROWS = 100_000  # driver-collect guard for the matmul strategy


def _cosine_neardup_matmul(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    max_rows: int = _MATMUL_MAX_ROWS,
) -> DataFrame:
    """Vectorized twin of :func:`cosine_neardup` (see its docstring).

    cosine(i,j) = dot(v_i, v_j) / (|v_i|·|v_j|) computed as a row-chunked
    matmul against the broadcast reference matrix; division by the norm
    product happens per pair (NOT by pre-normalizing rows) so the float
    operation order matches the expression strategy and the DuckDB oracle
    as closely as float64 allows.

    This strategy collects the corpus to the driver to build the
    broadcast reference matrix, so it REFUSES inputs above ``max_rows``
    (raising ``ValueError``) rather than OOMing the driver.  The guard and
    the collect are ONE Spark action — ``limit(max_rows + 1).collect()``,
    then a length check — so a source that grows between a separate probe
    and the collect can never slip past the cap, and the well-under-cap
    case pays no extra job.  Above the cap, use strategy='blocked'.
    """
    import numpy as np

    spark = corpus.sparkSession
    ref_rows = corpus.select(F.col(id_col), F.col(vec_col)).limit(
        max_rows + 1
    ).collect()
    if len(ref_rows) > max_rows:
        raise ValueError(
            f"cosine_neardup strategy='matmul' collects the corpus to the "
            f"driver and is capped at {max_rows} rows (input has more); "
            f"use strategy='blocked' for unbounded corpora"
        )
    if not ref_rows:
        return corpus.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("n_smaller_neardups"),
            F.lit(True).alias("kept"),
        )
    ref_ids = np.array([r[0] for r in ref_rows], dtype=np.int64)
    ref_mat = np.array([r[1] for r in ref_rows], dtype=np.float64)
    ref_norm = np.sqrt((ref_mat * ref_mat).sum(axis=1))
    bc = spark.sparkContext.broadcast((ref_ids, ref_mat, ref_norm))

    def score(batches):
        import pandas as pd

        r_ids, r_mat, r_norm = bc.value
        for pdf in batches:
            x = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            x_ids = pdf[id_col].to_numpy()
            hit = _np_neardup_hits(
                (x @ r_mat.T)
                / (np.sqrt((x * x).sum(axis=1))[:, None] * r_norm[None, :]),
                threshold,
            )
            cnt = (hit & (r_ids[None, :] < x_ids[:, None])).sum(axis=1)
            yield pd.DataFrame(
                {
                    id_col: x_ids,
                    "n_smaller_neardups": cnt.astype(np.int64),
                    "kept": cnt == 0,
                }
            )

    return (
        spread_small_input(corpus.select(id_col, vec_col))
        .mapInPandas(
            score, f"{id_col} long, n_smaller_neardups long, kept boolean"
        )
    )


def _cosine_neardup_blocked(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float,
    num_blocks: int = 8,
) -> DataFrame:
    """Driver-collect-free exact twin of :func:`cosine_neardup` (see its
    docstring): the classic blocked all-pairs ("triangle") self-join.

    Every vector lands in block ``id % num_blocks``; replicating each row
    once per block (one cross join with a ``num_blocks``-row frame) puts
    the union of blocks i and j — each row exactly once — into group
    (min(i,j), max(i,j)). One ``applyInPandas`` per unordered block pair
    then scores its two blocks with a single BLAS matmul and emits
    per-vector partial counts of smaller-id near-dups; a final sum-groupBy
    (every vector emits a row in each of its ``num_blocks`` groups, so no
    re-join against the corpus is needed for the zero rows) yields the
    same keep-min-id output as the other strategies.  Every strategy (and
    the oracle) compares ``round(cosine, 6)`` to the threshold, so the
    decision is independent of float summation order — identical across
    strategies except at exact 6-dp rounding half-points, where the
    engines' rounding modes differ (numpy half-to-even vs Spark/DuckDB
    half-away variants); computed cosines land there with measure-zero
    probability, and the boundary tests deliberately stay ±5e-7 away.

    Scale shape: shuffle volume is num_blocks·N rows (the replication),
    task memory is two blocks of vectors, and there are
    num_blocks·(num_blocks+1)/2 independent tasks — num_blocks is the
    knob that trades replication for per-task memory at 100 TB.
    """
    import numpy as np
    import pandas as pd

    spark = corpus.sparkSession
    # pmod, not %: Spark's % keeps the dividend's sign, and a negative id
    # would land in a negative block never paired by the 0..num_blocks-1
    # replication frame below — silently dropping its cross-block pairs
    v = corpus.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("vec"),
        F.pmod(F.col(id_col), F.lit(num_blocks)).cast("int").alias("blk"),
    )
    others = spark.range(num_blocks).select(F.col("id").cast("int").alias("other"))
    repl = v.crossJoin(F.broadcast(others)).select(
        "vid",
        "vec",
        "blk",
        F.least("blk", "other").alias("g1"),
        F.greatest("blk", "other").alias("g2"),
    )

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vid"].to_numpy(dtype=np.int64)
        mat = np.array(pdf["vec"].tolist(), dtype=np.float64)
        norms = np.sqrt((mat * mat).sum(axis=1))
        g1 = int(pdf["g1"].iloc[0])
        g2 = int(pdf["g2"].iloc[0])
        if g1 == g2:
            hit = _np_neardup_hits(
                (mat @ mat.T) / (norms[:, None] * norms[None, :]), threshold
            )
            cnt = (hit & (ids[None, :] < ids[:, None])).sum(axis=1)
            return pd.DataFrame({"vid": ids, "n": cnt.astype(np.int64)})
        a = pdf["blk"].to_numpy() == g1
        b = ~a
        hit = _np_neardup_hits(
            (mat[a] @ mat[b].T) / (norms[a][:, None] * norms[b][None, :]),
            threshold,
        )
        cnt_a = (hit & (ids[b][None, :] < ids[a][:, None])).sum(axis=1)
        cnt_b = (hit.T & (ids[a][None, :] < ids[b][:, None])).sum(axis=1)
        return pd.DataFrame(
            {
                "vid": np.concatenate([ids[a], ids[b]]),
                "n": np.concatenate([cnt_a, cnt_b]).astype(np.int64),
            }
        )

    partial = repl.groupBy("g1", "g2").applyInPandas(score, "vid long, n long")
    return (
        partial.groupBy("vid")
        .agg(F.sum("n").alias("n_smaller_neardups"))
        .select(
            F.col("vid").alias(id_col),
            "n_smaller_neardups",
            (F.col("n_smaller_neardups") == 0).alias("kept"),
        )
    )


def _ivf_centroids(
    corpus: DataFrame,
    vec_col: str,
    id_col: str,
    centroid_mod: int,
    max_centroids: int,
) -> DataFrame:
    """The deterministic mod-id centroid set shared by the in-memory IVF
    and the partitioned stored index (and spelled identically by the
    DuckDB oracle)."""
    return corpus.where(
        (F.col(id_col) % centroid_mod == 0)
        & (F.col(id_col) < centroid_mod * max_centroids)
    ).select(
        F.col(id_col).alias("cent_id"), _as_double_name(vec_col).alias("cent_v")
    )


def _ivf_assign(
    df: DataFrame,
    cents: DataFrame,
    side_id: str,
    side_vec: str,
    keep: int,
    rank_col: str | None = None,
) -> DataFrame:
    """Max-cosine cell assignment against the broadcast centroid set —
    ``keep`` best cells (1 for corpus rows, nprobe for queries); ties on
    cent_id. ``rank_col`` retains the 1-based probe rank under that name
    (ivf_topk_curve slices one shared candidate set by it).

    The ``keep=1`` corpus path is an argmax, NOT a top-n, so it runs as a
    ``max_by`` hash aggregate instead of a row_number window: the window
    would shuffle all N·max_centroids scored rows to sort per id, while
    the aggregate map-side-combines each id's candidates down to one row
    BEFORE the exchange — a max_centroids× shuffle-volume cut on the path
    every index build/append/topk corpus assignment takes. Tie-break
    (max cosine, then min cent_id) matches the window ordering exactly:
    the max_by key struct compares cosine first, then the negated id."""
    from pyspark.sql import Window

    # norms once per row / per centroid, not once per (row, centroid) pair:
    # the assignment scores N·max_centroids pairs — with inline cosine that
    # is 3 N·C dot products, with hoisted norms it is N·C + N + C (r16)
    scored = (
        df.withColumn("_nv", _norm_col(side_vec))
        .crossJoin(F.broadcast(cents.withColumn("_ncent", _norm_col("cent_v"))))
        .select(
            side_id,
            side_vec,
            "cent_id",
            _cosine_pre(side_vec, "cent_v", "_nv", "_ncent").alias("cent_cos"),
        )
    )
    if keep == 1 and rank_col is None:
        return (
            scored.groupBy(side_id)
            .agg(
                F.max_by(
                    F.struct(F.col("cent_id"), F.col(side_vec)),
                    F.struct(
                        F.col("cent_cos").alias("c"),
                        (-F.col("cent_id")).alias("tb"),
                    ),
                ).alias("_best")
            )
            .select(
                side_id,
                F.col(f"_best.{side_vec}").alias(side_vec),
                F.col("_best.cent_id").alias("cent_id"),
            )
        )
    w = Window.partitionBy(side_id).orderBy(
        F.col("cent_cos").desc(), F.col("cent_id")
    )
    assigned = (
        scored.withColumn("crk", F.row_number().over(w))
        .where(F.col("crk") <= keep)
        .drop("cent_cos")
    )
    if rank_col is not None:
        return assigned.withColumnRenamed("crk", rank_col)
    return assigned.drop("crk")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    centroid_mod: int = 50,
    nprobe: int = 3,
    max_centroids: int = 256,
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse quantizer.

    The centroid set is deterministic — corpus vectors whose id is
    divisible by ``centroid_mod``, CAPPED at ``max_centroids`` — so
    results are reproducible without driver-side k-means state, and the
    one-pass assignment stays O(N·max_centroids): a mod rule alone would
    grow the centroid count (and the assignment cost) linearly with the
    corpus. Corpus vectors are assigned to their
    max-cosine centroid (one broadcast pass); each query probes its
    ``nprobe`` best cells and scores exact cosine only inside them.
    """
    from pyspark.sql import Window

    cents = _ivf_centroids(corpus, vec_col, id_col, centroid_mod, max_centroids)

    c = _ivf_assign(
        spread_small_input(corpus).select(
            F.col(id_col).alias("neighbor_id"), _as_double_name(vec_col).alias("cv")
        ),
        cents,
        "neighbor_id",
        "cv",
        keep=1,
    )
    q = _ivf_assign(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double_name(vec_col).alias("qv")
        ),
        cents,
        "query_id",
        "qv",
        keep=nprobe,
    )

    scored = (
        c.withColumn("_nc", _norm_col("cv"))
        .join(F.broadcast(q.withColumn("_nq", _norm_col("qv"))), "cent_id")
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


def ivf_topk_curve(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    centroid_mod: int = 50,
    nprobe_max: int = 3,
    max_centroids: int = 256,
) -> DataFrame:
    """The nprobe tuning curve — :func:`ivf_topk` at every probe depth
    1..``nprobe_max`` from ONE shared pass, for recall/cost telemetry
    (``ann_recall_report``).

    Running ivf_topk per depth repeats the expensive part — the
    O(N·max_centroids) corpus assignment and the in-cell scoring join —
    once per depth. Here both run once: corpus cells are depth-independent,
    each query keeps its ``nprobe_max`` best cells WITH the probe rank,
    and since every corpus row lives in exactly one cell, each scored
    (query, neighbor) candidate carries the unique probe rank of its cell.
    The depth-n result is then just candidates with ``probe_rank <= n``,
    re-ranked per depth with ivf_topk's exact (cosine DESC, neighbor_id)
    tie-break — row-identical to ivf_topk(nprobe=n) for every n (asserted
    in tests/test_similarity.py). The depth fan-out is a 3-row broadcast
    against the already-scored candidate frame, so the curve costs one
    assignment + one join + one window regardless of nprobe_max.
    """
    from pyspark.sql import Window

    cents = _ivf_centroids(corpus, vec_col, id_col, centroid_mod, max_centroids)
    c = _ivf_assign(
        spread_small_input(corpus).select(
            F.col(id_col).alias("neighbor_id"), _as_double_name(vec_col).alias("cv")
        ),
        cents,
        "neighbor_id",
        "cv",
        keep=1,
    )
    q = _ivf_assign(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double_name(vec_col).alias("qv")
        ),
        cents,
        "query_id",
        "qv",
        keep=nprobe_max,
        rank_col="probe_rank",
    )

    pairs = (
        c.withColumn("_nc", _norm_col("cv"))
        .join(F.broadcast(q.withColumn("_nq", _norm_col("qv"))), "cent_id")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "probe_rank",
            _cosine_pre("qv", "cv", "_nq", "_nc").alias("cosine"),
        )
    )
    levels = corpus.sparkSession.range(1, nprobe_max + 1).select(
        F.col("id").cast("int").alias("nprobe")
    )
    leveled = pairs.join(
        F.broadcast(levels), F.col("probe_rank") <= F.col("nprobe")
    )
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        leveled.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "nprobe",
            "query_id",
            "neighbor_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rk").alias("rank"),
        )
    )


def lsh_plane_signs(num_planes: int, dim: int, seed: int = 7) -> list[list[int]]:
    """The deterministic ±1 Rademacher hyperplanes used by
    :func:`lsh_bucketed_topk`: sign d of plane p is the parity of
    md5(seed:p:d). Module-level so the DuckDB oracle builder
    (plans.llm_ops._lsh_oracle) embeds the SAME planes as literals."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()[:8], 16) % 2
            == 0
            else -1
            for d in range(dim)
        ]
        for p in range(num_planes)
    ]


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    num_planes: int = 8,
    seed: int = 7,
    dim: int | None = None,
    quantize_scale: int | None = None,
) -> DataFrame:
    """Approximate top-k: sign-LSH bucket join, exact cosine inside buckets.

    Hyperplanes are deterministic ±1 Rademacher vectors derived from
    md5(seed:plane:dim) on the DRIVER at plan-build time and embedded as
    one flat array literal per plane — no driver-side randomness, and the
    projection is ``zip_with``+``aggregate`` over that literal, so the
    expression tree is O(num_planes) nodes regardless of embedding width
    (the previous per-dimension when-chain built num_planes·dim branches:
    8k+ nodes at dim=1024).

    ``quantize_scale`` (e.g. 10_000) makes the bucket keys cross-engine
    exact: each component is floored to an integer at that scale
    (``floor(v·scale)`` — BIGINT in both Spark and DuckDB) and the
    projection is an integer dot product with the ±1 planes, so the sign
    test has no float-summation-order hazard and the whole bucket
    assignment replays bit-identically in the DuckDB oracle. The sign can
    differ from the float path only when |projection| < dim/scale — for
    unit-ish embeddings a ~1e-3 sliver — and recall is unaffected on the
    fixture (tests/test_similarity.py). ``None`` keeps the float
    projection.

    ``dim`` is the embedding dimensionality; pass it explicitly to keep
    plan construction fully lazy. When omitted it is probed from the small
    query side (one driver-side row, clear error when empty).
    """
    from pyspark.sql import Window

    if dim is None:
        probe = queries.select(vec_col).head(1)
        if not probe:
            raise ValueError(
                "lsh_bucketed_topk: queries frame is empty and dim= was not "
                "given; pass dim=<embedding dimensionality> explicitly"
            )
        dim = len(probe[0][0])

    planes = lsh_plane_signs(num_planes, dim, seed)

    def bucket_bits(vname: str) -> Column:
        # ONE parsed expression for the whole key (r15): the per-plane
        # F.array(64 lits) + zip_with/aggregate lambdas cost hundreds of
        # py4j round-trips per call site — the parser builds the identical
        # tree (same ±1 literals, same fold) from a single string.
        bits = []
        for signs in planes:
            arr = ", ".join(str(s) for s in signs)
            if quantize_scale is not None:
                s = (
                    f"aggregate(zip_with(`{vname}`, array({arr}), "
                    f"(x, wi) -> floor(x * {quantize_scale}) * wi), "
                    "CAST(0 AS BIGINT), (acc, t) -> acc + t)"
                )
            else:
                arr = ", ".join(f"{float(s)}D" for s in signs)
                s = (
                    f"aggregate(zip_with(`{vname}`, array({arr}), "
                    "(x, wi) -> x * wi), 0.0D, (acc, t) -> acc + t)"
                )
            bits.append(f"CASE WHEN {s} > 0 THEN '1' ELSE '0' END")
        return F.expr("concat(" + ", ".join(bits) + ")")

    # fail fast on a dim mismatch: zip_with null-pads the shorter side,
    # which would silently collapse every bucket key to all-zero bits
    # (LSH degrades to one giant bucket) instead of erroring
    def checked(vcol: Column) -> Column:
        return F.assert_true(
            F.size(vcol) == dim,
            F.lit(f"lsh_bucketed_topk: embedding dim != configured dim={dim}"),
        ).isNull()  # assert_true returns NULL; fold it into a no-op filter

    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            _as_double_name(vec_col).alias("qv"),
        )
        .where(checked(F.col("qv")))
        .withColumn("bucket", bucket_bits("qv"))
    )
    c = (
        spread_small_input(corpus)
        .select(
            F.col(id_col).alias("neighbor_id"),
            _as_double_name(vec_col).alias("cv"),
        )
        .where(checked(F.col("cv")))
        .withColumn("bucket", bucket_bits("cv"))
    )

    scored = (
        c.withColumn("_nc", _norm_col("cv"))
        .join(F.broadcast(q.withColumn("_nq", _norm_col("qv"))), "bucket")
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


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    num_subspaces: int = 4,
    centroid_mod: int = 25,
    dim: int | None = None,
    max_codebook: int = 256,
) -> DataFrame:
    """Approximate top-k by product quantization with asymmetric distance.

    The memory-compression scale path the other ANN variants don't cover:
    each corpus vector is stored as ``num_subspaces`` small centroid codes
    (bytes at scale, vs 4·dim floats), and queries never touch the raw
    corpus vectors again — candidate scoring is an equality join between
    the code table and a per-query lookup table of subspace distances
    (the classic ADC of Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011).

    Deterministic, driver-state-free codebook (same policy as
    :func:`ivf_topk`): the sub-vectors of corpus rows with
    ``id % centroid_mod == 0`` are the centroids of every subspace.

    Stages (all narrow or broadcast; the corpus is scanned ONCE to encode):
    1. encode — corpus × broadcast(centroids): per subspace ``m`` pick
       ``argmin`` squared-L2 of the sliced sub-vectors (``min_by`` over a
       (distance, centroid-id) struct — deterministic tie-break);
    2. LUT — queries × broadcast(centroids): exact sub-distance of every
       (query, centroid, subspace) — Q·C·num_subspaces tiny rows;
    3. ADC — explode codes to (corpus-id, m, code) and equality-join the
       broadcast LUT on (m, code), summing the ``num_subspaces`` partial
       distances per (query, corpus-id); top-k per query by a window.

    At 100 TB the code table (step 1's output) is the stored index; steps
    2-3 run per query batch against codes only. Returns (query_id,
    neighbor_id, adc_dist = approximate squared L2, rank).
    """
    from pyspark.sql import Window

    if dim is None:
        probe = queries.select(vec_col).head(1)
        if not probe:
            raise ValueError(
                "pq_topk: queries frame is empty and dim= was not given; "
                "pass dim=<embedding dimensionality> explicitly"
            )
        dim = len(probe[0][0])
    if dim % num_subspaces:
        raise ValueError(f"pq_topk: dim {dim} not divisible by {num_subspaces}")
    sub = dim // num_subspaces

    def subvec(col: Column, m: int) -> Column:
        return F.slice(col, m * sub + 1, sub)

    def sq_l2(a: Column, b: Column) -> Column:
        d = F.zip_with(a, b, lambda x, y: x - y)
        return _dot(d, d)

    # bounded codebook: the mod rule alone would grow the centroid count
    # with the corpus; the cap keeps encode cost O(N·max_codebook)
    cents = corpus.where(
        (F.col(id_col) % centroid_mod == 0)
        & (F.col(id_col) < centroid_mod * max_codebook)
    ).select(
        F.col(id_col).alias("cent_id"),
        *[
            subvec(_as_double_name(vec_col), m).alias(f"cent_s{m}")
            for m in range(num_subspaces)
        ],
    )

    c = spread_small_input(corpus).select(
        F.col(id_col).alias("cid"),
        *[
            subvec(_as_double_name(vec_col), m).alias(f"s{m}")
            for m in range(num_subspaces)
        ],
    )
    codes = (
        c.crossJoin(F.broadcast(cents))
        .groupBy("cid")
        .agg(
            *[
                F.min_by(
                    "cent_id",
                    F.struct(
                        sq_l2(F.col(f"s{m}"), F.col(f"cent_s{m}")).alias("d"),
                        F.col("cent_id").alias("t"),
                    ),
                ).alias(f"code{m}")
                for m in range(num_subspaces)
            ]
        )
        .select(
            "cid",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"), F.col(f"code{m}").alias("code")
                        )
                        for m in range(num_subspaces)
                    ]
                )
            ).alias("mc"),
        )
        .select("cid", "mc.m", "mc.code")
    )

    lut = (
        queries.select(
            F.col(id_col).alias("query_id"),
            *[
                subvec(_as_double_name(vec_col), m).alias(f"q{m}")
                for m in range(num_subspaces)
            ],
        )
        .crossJoin(F.broadcast(cents))
        .select(
            "query_id",
            F.col("cent_id").alias("code"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            sq_l2(F.col(f"q{m}"), F.col(f"cent_s{m}")).alias("d"),
                        )
                        for m in range(num_subspaces)
                    ]
                )
            ).alias("md"),
        )
        .select("query_id", "code", "md.m", "md.d")
    )

    adc = (
        codes.join(F.broadcast(lut), ["m", "code"])
        .groupBy("query_id", F.col("cid").alias("neighbor_id"))
        # rank on the ROUNDED distance: corpus vectors sharing a code
        # tuple have mathematically equal ADC sums, but float summation
        # order (across engines AND across partition orders run-to-run)
        # leaves them ulps apart — ranking raw sums tie-breaks
        # nondeterministically
        .agg(F.round(F.sum("d"), 6).alias("adc_dist"))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.col("rk").alias("rank"),
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 5,
    coarse_mod: int = 50,
    nprobe: int = 3,
    num_subspaces: int = 4,
    pq_mod: int = 25,
    dim: int | None = None,
    max_centroids: int = 256,
) -> DataFrame:
    """IVFADC — the combined IVF + PQ index of Jégou et al. (TPAMI 2011
    §IV): a coarse quantizer routes each vector to an inverted-list cell,
    and product quantization encodes the RESIDUAL (vector − cell
    centroid), which is far lower-energy than the raw vector and so
    quantizes more accurately at the same code budget. This is the shape
    billion-scale libraries (FAISS IVFx,PQy) actually deploy: at 100 TB
    the stored index is (cell id + num_subspaces codes) per vector —
    bytes, not 4·dim floats — queries probe ``nprobe`` cells and score
    candidates with an ADC lookup-table join against codes only.

    Deterministic, driver-state-free quantizers (same policy as
    :func:`ivf_topk` / :func:`pq_topk`): coarse centroids are corpus
    vectors with ``id % coarse_mod == 0``; the residual-space PQ codebook
    is the residuals of corpus rows with ``id % pq_mod == 0``. Every
    argmin tie-breaks on the centroid id, so results are bit-stable and
    the whole pipeline — assignment, residuals, codes, LUT, ADC — replays
    exactly in the DuckDB oracle.

    Stages (all narrow or broadcast; one corpus scan to encode):
    1. coarse-assign corpus and queries by min squared-L2 (keep 1 /
       ``nprobe``), carrying the centroid vector for the residual;
    2. residual-encode the corpus against the broadcast PQ codebook
       (``min_by`` per subspace);
    3. per-query LUT: sub-distances of the query's PER-CELL residual to
       every codebook entry — (cell, m, code) keyed, Q·nprobe·C·m rows;
    4. ADC equality join codes ⋈ LUT on (cell, m, code), sum partials,
       window top-k.
    """
    from pyspark.sql import Window

    if dim is None:
        probe = queries.select(vec_col).head(1)
        if not probe:
            raise ValueError(
                "ivfpq_topk: queries frame is empty and dim= was not given; "
                "pass dim=<embedding dimensionality> explicitly"
            )
        dim = len(probe[0][0])
    if dim % num_subspaces:
        raise ValueError(f"ivfpq_topk: dim {dim} not divisible by {num_subspaces}")
    sub = dim // num_subspaces

    # both quantizer sets are CAPPED: a mod rule alone grows the centroid
    # count with the corpus, turning one-pass assignment into O(N^2/mod)
    cents = corpus.where(
        (F.col(id_col) % coarse_mod == 0)
        & (F.col(id_col) < coarse_mod * max_centroids)
    ).select(
        F.col(id_col).alias("cell"), _as_double_name(vec_col).alias("cell_v")
    )

    def coarse_assign(df: DataFrame, side_id: str, side_vec: str, keep: int) -> DataFrame:
        d = F.zip_with(F.col(side_vec), F.col("cell_v"), lambda x, y: x - y)
        scored = df.crossJoin(F.broadcast(cents)).select(
            side_id,
            side_vec,
            "cell",
            "cell_v",
            _dot(d, d).alias("cell_d2"),
        )
        if keep == 1:
            # argmin, not top-n: min_by hash aggregate map-side-combines
            # each id's max_centroids candidates to one row BEFORE the
            # exchange (same shuffle cut as _ivf_assign's keep=1 path);
            # key struct (d2, cell) matches the window tie-break exactly
            return (
                scored.groupBy(side_id)
                .agg(
                    F.min_by(
                        F.struct(F.col("cell"), F.col("cell_v"), F.col(side_vec)),
                        F.struct(
                            F.col("cell_d2").alias("d"), F.col("cell").alias("t")
                        ),
                    ).alias("_best")
                )
                .select(
                    side_id,
                    F.col(f"_best.{side_vec}").alias(side_vec),
                    F.col("_best.cell").alias("cell"),
                    F.col("_best.cell_v").alias("cell_v"),
                )
            )
        w = Window.partitionBy(side_id).orderBy(F.col("cell_d2").asc(), F.col("cell"))
        return (
            scored.withColumn("crk", F.row_number().over(w))
            .where(F.col("crk") <= keep)
            .drop("crk", "cell_d2")
        )

    def residual_slices(vec: str, prefix: str) -> list[Column]:
        r = F.zip_with(F.col(vec), F.col("cell_v"), lambda x, y: x - y)
        return [F.slice(r, m * sub + 1, sub).alias(f"{prefix}{m}") for m in range(num_subspaces)]

    def sq_l2(a: Column, b: Column) -> Column:
        d = F.zip_with(a, b, lambda x, y: x - y)
        return _dot(d, d)

    c_assigned = coarse_assign(
        spread_small_input(corpus).select(
            F.col(id_col).alias("cid"), _as_double_name(vec_col).alias("cv")
        ),
        "cid",
        "cv",
        keep=1,
    ).select("cid", "cell", *residual_slices("cv", "s"))

    # residual-space PQ codebook, shared across cells. Coarse-assigned
    # INDEPENDENTLY from the mod-filtered corpus rather than filtered out
    # of c_assigned: assignment is row-local against the broadcast cents,
    # so filter-then-assign is bit-identical to assign-then-filter — but
    # deriving it from c_assigned would recompute the full corpus
    # assignment (crossJoin + per-row window) a second time just to feed
    # the eager broadcast job, while this pass touches only the
    # ≤max_centroids codebook rows.
    pqcents = coarse_assign(
        corpus.where(
            (F.col(id_col) % pq_mod == 0)
            & (F.col(id_col) < pq_mod * max_centroids)
        ).select(
            F.col(id_col).alias("pq_id"), _as_double_name(vec_col).alias("pv")
        ),
        "pq_id",
        "pv",
        keep=1,
    ).select("pq_id", *residual_slices("pv", "pq_s"))

    codes = (
        c_assigned.crossJoin(F.broadcast(pqcents))
        .groupBy("cid", "cell")
        .agg(
            *[
                F.min_by(
                    "pq_id",
                    F.struct(
                        sq_l2(F.col(f"s{m}"), F.col(f"pq_s{m}")).alias("d"),
                        F.col("pq_id").alias("t"),
                    ),
                ).alias(f"code{m}")
                for m in range(num_subspaces)
            ]
        )
        .select(
            "cid",
            "cell",
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(m).alias("m"), F.col(f"code{m}").alias("code"))
                        for m in range(num_subspaces)
                    ]
                )
            ).alias("mc"),
        )
        .select("cid", "cell", "mc.m", "mc.code")
    )

    q_assigned = coarse_assign(
        queries.select(
            F.col(id_col).alias("query_id"), _as_double_name(vec_col).alias("qv")
        ),
        "query_id",
        "qv",
        keep=nprobe,
    ).select("query_id", "cell", *residual_slices("qv", "q"))

    lut = (
        q_assigned.crossJoin(F.broadcast(pqcents))
        .select(
            "query_id",
            "cell",
            F.col("pq_id").alias("code"),
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(m).alias("m"),
                            sq_l2(F.col(f"q{m}"), F.col(f"pq_s{m}")).alias("d"),
                        )
                        for m in range(num_subspaces)
                    ]
                )
            ).alias("md"),
        )
        .select("query_id", "cell", "code", "md.m", "md.d")
    )

    adc = (
        codes.join(F.broadcast(lut), ["cell", "m", "code"])
        .groupBy("query_id", F.col("cid").alias("neighbor_id"))
        # rank on the ROUNDED distance: vectors sharing a code tuple have
        # mathematically equal ADC sums, but cross-engine float summation
        # order leaves them ulps apart — ranking on raw sums would
        # tie-break nondeterministically vs the oracle
        .agg(F.round(F.sum("d"), 6).alias("adc_dist"))
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id")
    )
    return (
        adc.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "adc_dist",
            F.col("rk").alias("rank"),
        )
    )
