"""LLM-training-data pipeline queries (SURVEY.md §7 M5 — first-class per
BASELINE.json north star): dedup, text analysis, similarity search,
multimodal plumbing. All on the ``documents`` / ``embeddings`` tables.

Oracle policy: everything a DuckDB SQL statement can express carries one
(including SimHash — its md5-nibble construction was chosen for that —
MinHash-LSH, whose md5-derived Carter-Wegman hash family DuckDB can
replay bit-for-bit, and the sign-LSH ANN path, whose quantize_scale
integer projection makes bucket keys cross-engine exact). Every query in
this module is hash-verified against its oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import bpe_ish_tokens, doc_fingerprint, normalized_text, tokens
from ..operators.dedup import (
    exact_dedup,
    jaccard_similar_pairs,
    minhash_lsh_candidates,
    simhash,
)
from ..operators.multimodal import (
    extract_media_features,
    perceptual_hash,
    sample_frames,
)
from ..operators.similarity import (
    cosine_neardup,
    cosine_topk,
    ivf_topk,
    ivfpq_topk,
    lsh_bucketed_topk,
    pq_topk,
)
from ..session import tune
from ..sources import read_table

# DuckDB spelling of normalized_text / tokens (regexp_replace needs the 'g'
# flag there; Spark replaces globally by default).
_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_TOKS = f"string_split_regex({_NORM}, '\\s+')"


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    return exact_dedup(docs, "text", "doc_id")


DEDUP_EXACT_ORACLE = f"""
SELECT md5({_NORM}) AS digest,
       min(doc_id)  AS keep_id,
       count(*)     AS n_copies
FROM documents
GROUP BY 1
"""


def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    return jaccard_similar_pairs(
        docs, "text", "doc_id", block_col="source", threshold=0.5,
        strategy="arrow",
    )


DEDUP_JACCARD_ORACLE = f"""
WITH tok AS (
    SELECT DISTINCT doc_id, source, unnest({_TOKS}) AS tok
    FROM documents
    WHERE {_NORM} <> ''
), sizes AS (
    SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id
), co AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
    FROM tok a JOIN tok b ON a.tok = b.tok AND a.source = b.source
    WHERE a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(n_common / (sa.n + sb.n - n_common), 6) AS jaccard
FROM co
JOIN sizes sa ON co.doc_a = sa.doc_id
JOIN sizes sb ON co.doc_b = sb.doc_id
WHERE round(n_common / (sa.n + sb.n - n_common), 6) >= 0.5
"""


def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    return simhash(docs, "text", "doc_id", bits=32)


def _simhash_oracle(bits: int = 32) -> str:
    high = "('8','9','a','b','c','d','e','f')"
    sums = ",\n           ".join(
        f"sum(CASE WHEN substr(m, {j + 1}, 1) IN {high} THEN 1 ELSE -1 END) AS s{j}"
        for j in range(bits)
    )
    concat = ", ".join(
        f"CASE WHEN s{j} > 0 THEN '1' ELSE '0' END" for j in range(bits)
    )
    return f"""
WITH tok AS (
    SELECT DISTINCT doc_id, unnest({_TOKS}) AS tok
    FROM documents
    WHERE {_NORM} <> ''
), h AS (
    SELECT doc_id, md5(tok) AS m FROM tok
), sums AS (
    SELECT doc_id,
           {sums}
    FROM h GROUP BY doc_id
)
SELECT doc_id, concat({concat}) AS simhash_bits FROM sums
"""


SIMHASH_ORACLE = _simhash_oracle(32)


def minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked MinHash-LSH: the md5-derived Carter-Wegman family
    (operators.dedup.minhash_coeffs) is bit-reproducible in DuckDB, so the
    oracle replays the ENTIRE pipeline — shingling, signatures, band keys,
    candidate join, exact-Jaccard verify — not just the verification math.
    tests/test_dedup.py additionally checks planted near-duplicate recall."""
    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(docs, "text", "doc_id")


def _minhash_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    shingle_len: int = 3,
    verify_threshold: float = 0.5,
    relation: str = "documents",
) -> str:
    """DuckDB replay of minhash_lsh_candidates with the same coefficients.
    ``relation`` is the (doc_id, text) source — a table or an enclosing
    CTE name, so composed pipelines can run the replay on a filtered
    subset (see plans.llm_ops2.pretraining_data_pipeline)."""
    from ..operators.dedup import MINHASH_MOD, minhash_coeffs

    m = MINHASH_MOD
    sig_exprs = ",\n         ".join(
        f"list_min(list_transform(uv, p -> "
        f"(({a} * p.u) % {m} + ({b} * p.v) % {m} + {c}) % {m})) AS h{i}"
        for i, (a, b, c) in enumerate(minhash_coeffs(num_hashes))
    )
    rows_per_band = num_hashes // bands
    band_selects = "\n  UNION ALL ".join(
        "SELECT doc_id, shingles, n_sh, {b} AS band, md5(concat_ws(',', {hs}))"
        " AS band_key FROM sigs".format(
            b=b,
            hs=", ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            ),
        )
        for b in range(bands)
    )
    return f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN {_NORM} = '' THEN CAST([] AS VARCHAR[])
              ELSE {_TOKS} END AS ts
  FROM {relation}
), sh AS (
  SELECT doc_id,
         CASE WHEN len(ts) >= {shingle_len} THEN list_distinct(
                list_transform(range(1, len(ts) - {shingle_len - 2}),
                  i -> concat_ws(' ', {", ".join(f"ts[i+{k}]" for k in range(shingle_len))})))
              ELSE [array_to_string(ts, ' ')] END AS shingles
  FROM base
), uvt AS (
  SELECT doc_id, shingles, len(shingles) AS n_sh,
         list_transform(shingles, s -> struct_pack(
             u := CAST(concat('0x', substr(md5(s), 1, 15)) AS BIGINT) % {m},
             v := CAST(concat('0x', substr(md5(s), 16, 15)) AS BIGINT) % {m}
         )) AS uv
  FROM sh
), sigs AS (
  SELECT doc_id, shingles, n_sh,
         {sig_exprs}
  FROM uvt
), banded AS (
  {band_selects}
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.shingles) AS sh_a, any_value(b.shingles) AS sh_b,
         any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b
  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.doc_id < b.doc_id
  GROUP BY 1, 2
), scored AS (
  SELECT doc_a, doc_b,
         round(len(list_intersect(sh_a, sh_b))
               / (n_a + n_b - len(list_intersect(sh_a, sh_b))), 6) AS jaccard
  FROM cand
)
SELECT doc_a, doc_b, jaccard FROM scored WHERE jaccard >= {verify_threshold}
"""


MINHASH_LSH_ORACLE = _minhash_oracle()


def text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(normalized_text("text"))
    n_toks = F.size(toks)
    chars_nospace = F.length(F.regexp_replace(F.col("text"), r"\s+", ""))
    stop_hits = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    return docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_toks.alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.when(n_toks > 0, F.round(F.size(F.array_distinct(toks)) / n_toks, 6))
        .otherwise(0.0)
        .alias("type_token_ratio"),
        F.when(n_toks > 0, F.round(chars_nospace / n_toks, 6))
        .otherwise(0.0)
        .alias("avg_token_len"),
        F.when(n_toks > 0, F.round(stop_hits / n_toks, 6))
        .otherwise(0.0)
        .alias("stopword_ratio"),
    )


TEXT_QUALITY_ORACLE = f"""
WITH base AS (
    SELECT doc_id, text,
           CASE WHEN {_NORM} = '' THEN CAST([] AS VARCHAR[]) ELSE {_TOKS} END AS toks,
           length(regexp_replace(text, '\\s+', '', 'g')) AS chars_nospace
    FROM documents
)
SELECT doc_id,
       length(text) AS n_chars,
       len(toks)    AS n_tokens,
       len(list_distinct(toks)) AS n_distinct_tokens,
       CASE WHEN len(toks) > 0
            THEN round(len(list_distinct(toks)) / len(toks), 6) ELSE 0.0 END AS type_token_ratio,
       CASE WHEN len(toks) > 0
            THEN round(chars_nospace / len(toks), 6) ELSE 0.0 END AS avg_token_len,
       CASE WHEN len(toks) > 0
            THEN round(len(list_filter(toks, t -> t IN ('the', 'a'))) / len(toks), 6)
            ELSE 0.0 END AS stopword_ratio
FROM base
"""


def language_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram/stopword-voting language ID. The fixture's lang labels are
    synthetic (uniform vocabulary), so the value here is the deterministic
    operator shape, mirrored exactly by the oracle."""
    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(normalized_text("text"))
    n_toks = F.size(toks)
    en_hits = F.size(F.filter(toks, lambda t: t.isin("the", "a")))
    ratio = F.when(n_toks > 0, en_hits / n_toks).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id",
        F.round(ratio, 6).alias("en_score"),
        F.when(ratio >= 0.05, "en").otherwise("und").alias("predicted_lang"),
    )


LANGUAGE_ID_ORACLE = f"""
WITH base AS (
    SELECT doc_id,
           CASE WHEN {_NORM} = '' THEN CAST([] AS VARCHAR[]) ELSE {_TOKS} END AS toks
    FROM documents
), scored AS (
    SELECT doc_id,
           CASE WHEN len(toks) > 0
                THEN len(list_filter(toks, t -> t IN ('the', 'a'))) / len(toks)
                ELSE 0.0 END AS ratio
    FROM base
)
SELECT doc_id,
       round(ratio, 6) AS en_score,
       CASE WHEN ratio >= 0.05 THEN 'en' ELSE 'und' END AS predicted_lang
FROM scored
"""


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select("source", F.size(bpe_ish_tokens("text")).alias("n_bpe"))
        .groupBy("source")
        .agg(
            F.sum("n_bpe").alias("total_tokens"),
            F.count("*").alias("n_docs"),
        )
    )


TOKEN_COUNT_ORACLE = """
SELECT source,
       cast(sum(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9 ]'))) AS BIGINT)
           AS total_tokens,
       count(*) AS n_docs
FROM documents
GROUP BY source
"""


def document_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", doc_fingerprint("text").alias("fingerprint"))


DOC_FINGERPRINT_ORACLE = f"""
SELECT doc_id, md5({_NORM}) AS fingerprint FROM documents
"""


_COS = """(SELECT sum(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
              FROM (SELECT unnest({A}) AS a, unnest({B}) AS b) x)
           / (sqrt((SELECT sum(CAST(x.a AS DOUBLE) * CAST(x.a AS DOUBLE))
                      FROM (SELECT unnest({A}) AS a) x))
              * sqrt((SELECT sum(CAST(x.b AS DOUBLE) * CAST(x.b AS DOUBLE))
                        FROM (SELECT unnest({B}) AS b) x)))"""


def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact ANN baseline: queries = vec_id < 10, k = 5."""
    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_topk(emb, emb.where(F.col("vec_id") < 10), k=5)


EMBEDDING_COSINE_ORACLE = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
scored AS (
    SELECT query_id, neighbor_id,
           (SELECT sum(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
              FROM (SELECT unnest(qv) AS a, unnest(cv) AS b) x)
           / (sqrt((SELECT sum(CAST(x.a AS DOUBLE) * CAST(x.a AS DOUBLE))
                      FROM (SELECT unnest(qv) AS a) x))
              * sqrt((SELECT sum(CAST(x.b AS DOUBLE) * CAST(x.b AS DOUBLE))
                        FROM (SELECT unnest(cv) AS b) x))) AS cosine
    FROM c CROSS JOIN q
    WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rank
    FROM scored
)
WHERE rank <= 5
"""


def embedding_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (sign-LSH bucketed) ANN, fully oracled: with
    quantize_scale the bucket keys are integer dot-product signs —
    floor(v·10^4) against ±1 planes — exact in both engines, so the DuckDB
    oracle replays bucket assignment, candidate join, and in-bucket exact
    cosine (the same integer-taming that made PQ/IVFADC oracle-able).
    Recall vs the exact baseline is asserted in tests/test_similarity.py."""
    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return lsh_bucketed_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=5,
        num_planes=4,
        dim=64,
        quantize_scale=10_000,
    )


def _lsh_oracle(
    k: int = 5, num_planes: int = 4, dim: int = 64, seed: int = 7, scale: int = 10_000
) -> str:
    """DuckDB replay of embedding_lsh_topk: the SAME md5-parity ±1 planes
    (lsh_plane_signs) embedded as literals, the same integer-quantized
    sign projection, the same in-bucket exact-cosine top-k."""
    from ..operators.similarity import lsh_plane_signs

    def bucket(vec: str) -> str:
        cases = []
        for signs in lsh_plane_signs(num_planes, dim, seed):
            lits = ", ".join(str(s) for s in signs)
            proj = (
                f"(SELECT sum(CAST(floor(CAST(x.v AS DOUBLE) * {scale}) AS BIGINT)"
                f" * x.w) FROM (SELECT unnest({vec}) AS v, unnest([{lits}]) AS w) x)"
            )
            cases.append(f"CASE WHEN {proj} > 0 THEN '1' ELSE '0' END")
        return "concat(" + ", ".join(cases) + ")"

    pair_cos = _COS.format(A="qv", B="cv")
    return f"""
WITH qb AS (
    SELECT vec_id AS query_id, embedding AS qv, {bucket("embedding")} AS bucket
    FROM embeddings WHERE vec_id < 10
),
cb AS (
    SELECT vec_id AS neighbor_id, embedding AS cv, {bucket("embedding")} AS bucket
    FROM embeddings
),
scored AS (
    SELECT query_id, neighbor_id, {pair_cos} AS cosine
    FROM cb JOIN qb USING (bucket)
    WHERE query_id <> neighbor_id
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rank
    FROM scored
)
WHERE rank <= {k}
"""


EMBEDDING_LSH_ORACLE = _lsh_oracle()


def embedding_neardup_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup (task brief dedup family): keep a
    vector iff it has no near-dup (cosine ≥ 0.35) with a smaller id.

    Registered with strategy='blocked' — the distributed block-pair
    matmul that never collects the corpus to the driver (the 'matmul'
    strategy does, which is fine for a bounded reference set but not for
    the registered self-comparison headline; see cosine_neardup)."""
    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return cosine_neardup(emb, threshold=0.35, strategy="blocked")


EMBEDDING_NEARDUP_ORACLE = """
WITH v AS (SELECT vec_id, embedding FROM embeddings),
pairs AS (
    SELECT a.vec_id AS id_hi,
           (SELECT sum(CAST(x.a AS DOUBLE) * CAST(x.b AS DOUBLE))
              FROM (SELECT unnest(a.embedding) AS a, unnest(b.embedding) AS b) x)
           / (sqrt((SELECT sum(CAST(x.a AS DOUBLE) * CAST(x.a AS DOUBLE))
                      FROM (SELECT unnest(a.embedding) AS a) x))
              * sqrt((SELECT sum(CAST(x.b AS DOUBLE) * CAST(x.b AS DOUBLE))
                        FROM (SELECT unnest(b.embedding) AS b) x))) AS cosine
    FROM v a JOIN v b ON a.vec_id > b.vec_id
),
cnt AS (
    SELECT id_hi AS vec_id, count(*) AS n
    FROM pairs WHERE round(cosine, 6) >= 0.35 GROUP BY 1
)
SELECT v.vec_id,
       coalesce(cnt.n, 0) AS n_smaller_neardups,
       coalesce(cnt.n, 0) = 0 AS kept
FROM v LEFT JOIN cnt USING (vec_id)
"""


def embedding_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantized ANN. Fully deterministic (mod-id centroids,
    exact cosine everywhere), so like pq_topk it carries a complete DuckDB
    oracle — cell assignment, probe, candidate scoring, top-k; recall vs
    the exact baseline is additionally asserted in tests/test_similarity.py."""
    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, centroid_mod=50, nprobe=3
    )


def _ivf_skew_oracle(centroid_mod: int = 50, max_centroids: int = 256) -> str:
    """DuckDB replay of gen_index_cell_skew over the build-on-base,
    append-residue-17 lifecycle: assignment of the FULL corpus against
    the base centroids (residue 17 holds no centroid ids, so base and
    full centroid sets coincide), per-cell counts with and without the
    appended batch."""
    cent_cos = _COS.format(A="e.embedding", B="c.cent_v")
    return f"""
WITH cents AS (
    SELECT vec_id AS cent_id, embedding AS cent_v
    FROM embeddings
    WHERE vec_id % {centroid_mod} = 0
      AND vec_id < {centroid_mod * max_centroids}
),
assign AS (
    SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, c.cent_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {cent_cos} DESC, c.cent_id
               ) AS crk
        FROM embeddings e CROSS JOIN cents c
    ) WHERE crk = 1
),
b AS (SELECT cent_id, count(*) AS n FROM assign WHERE vec_id % 50 <> 17 GROUP BY 1),
f AS (SELECT cent_id, count(*) AS n FROM assign GROUP BY 1)
SELECT CAST(f.cent_id AS BIGINT) AS cell_id,
       coalesce(b.n, 0) AS rows_at_build,
       f.n AS rows_now,
       f.n - coalesce(b.n, 0) AS added,
       round(CAST(f.n AS DOUBLE) / nullif(b.n, 0), 4) AS growth
FROM f LEFT JOIN b USING (cent_id)
"""


IVF_CELL_SKEW_ORACLE = _ivf_skew_oracle()


def _ivf_rebalanced_oracle(
    k: int = 5,
    centroid_mod: int = 50,
    nprobe: int = 3,
    max_centroids: int = 256,
    factor: int = 2,
) -> str:
    """DuckDB replay of the FULL rebalance lifecycle: full-corpus
    assignment, hottest cell by (count DESC, cent_id), sub-centroids =
    the cell's `factor` smallest vec_ids, max-cosine reassignment of that
    cell only, refined centroid set, nprobe probe, exact in-cell top-k."""
    cent_cos = _COS.format(A="e.embedding", B="c.cent_v")
    sub_cos = _COS.format(A="a.cv", B="s.sub_v")
    cent2_cos = _COS.format(A="e.embedding", B="c.cent_v")
    pair_cos = _COS.format(A="q.qv", B="s.cv")
    return f"""
WITH cents AS (
    SELECT vec_id AS cent_id, embedding AS cent_v
    FROM embeddings
    WHERE vec_id % {centroid_mod} = 0
      AND vec_id < {centroid_mod * max_centroids}
),
assign AS (
    SELECT vec_id, cv, cent_id FROM (
        SELECT e.vec_id, e.embedding AS cv, c.cent_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {cent_cos} DESC, c.cent_id
               ) AS crk
        FROM embeddings e CROSS JOIN cents c
    ) WHERE crk = 1
),
hot AS (
    SELECT cent_id FROM (
        SELECT cent_id, row_number() OVER (ORDER BY count(*) DESC, cent_id) AS rn
        FROM assign GROUP BY cent_id
    ) WHERE rn = 1
),
subcents AS (
    -- a member row whose vec_id is a SURVIVING centroid id is not a
    -- sub-centroid candidate (its id would collide in the refined set);
    -- mirrors operators/similarity.ivf_index_rebalance
    SELECT cent_id AS parent, vec_id AS sub_id, cv AS sub_v FROM (
        SELECT a.*, row_number() OVER (
            PARTITION BY a.cent_id ORDER BY a.vec_id
        ) AS srk
        FROM assign a WHERE a.cent_id IN (SELECT cent_id FROM hot)
          AND a.vec_id NOT IN (
              SELECT cent_id FROM cents
              WHERE cent_id NOT IN (SELECT cent_id FROM hot)
          )
    ) WHERE srk <= {factor}
),
resub AS (
    SELECT vec_id, cv, sub_id AS cell FROM (
        SELECT a.vec_id, a.cv, s.sub_id,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {sub_cos} DESC, s.sub_id
               ) AS rrk
        FROM assign a JOIN subcents s ON a.cent_id = s.parent
    ) WHERE rrk = 1
),
corpus2 AS (
    SELECT vec_id, cv, cent_id AS cell FROM assign
    WHERE cent_id NOT IN (SELECT cent_id FROM hot)
    UNION ALL
    SELECT vec_id, cv, cell FROM resub
),
cents2 AS (
    SELECT cent_id, cent_v FROM cents
    WHERE cent_id NOT IN (SELECT cent_id FROM hot)
    UNION ALL
    SELECT sub_id, sub_v FROM subcents
),
probe AS (
    SELECT vec_id AS query_id, qv, cent_id AS cell FROM (
        SELECT e.vec_id, e.embedding AS qv, c.cent_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {cent2_cos} DESC, c.cent_id
               ) AS crk
        FROM embeddings e CROSS JOIN cents2 c
        WHERE e.vec_id < 10
    ) WHERE crk <= {nprobe}
),
scored AS (
    SELECT q.query_id, s.vec_id AS neighbor_id, {pair_cos} AS cosine
    FROM corpus2 s JOIN probe q USING (cell)
    WHERE q.query_id <> s.vec_id
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rank
    FROM scored
)
WHERE rank <= {k}
"""


IVF_REBALANCED_ORACLE = _ivf_rebalanced_oracle()


def _ivf_oracle(
    k: int = 5,
    centroid_mod: int = 50,
    nprobe: int = 3,
    max_centroids: int = 256,
    corpus_where: str = "",
) -> str:
    """DuckDB replay of ivf_topk: same centroids, same argmax-cosine cell
    assignment (row_number with the same (cosine DESC, cent_id) tie-break),
    same nprobe probe set, same exact in-cell scoring. ``corpus_where``
    restricts the INDEXED corpus only (centroids and queries stay on the
    full table) — the shape of a snapshot/rollback probe serving a build
    whose base excluded some rows (the exclusion must never remove a
    ``vec_id % centroid_mod == 0`` centroid row)."""
    cent_cos = _COS.format(A="e.embedding", B="c.cent_v")
    pair_cos = _COS.format(A="q.qv", B="s.cv")
    return f"""
WITH cents AS (
    SELECT vec_id AS cent_id, embedding AS cent_v
    FROM embeddings
    WHERE vec_id % {centroid_mod} = 0
      AND vec_id < {centroid_mod * max_centroids}
),
corpus_assign AS (
    SELECT vec_id, cv, cent_id FROM (
        SELECT e.vec_id, e.embedding AS cv, c.cent_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {cent_cos} DESC, c.cent_id
               ) AS crk
        FROM embeddings e CROSS JOIN cents c
        {corpus_where}
    ) WHERE crk = 1
),
query_probe AS (
    SELECT vec_id AS query_id, qv, cent_id FROM (
        SELECT e.vec_id, e.embedding AS qv, c.cent_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY {cent_cos} DESC, c.cent_id
               ) AS crk
        FROM embeddings e CROSS JOIN cents c
        WHERE e.vec_id < 10
    ) WHERE crk <= {nprobe}
),
scored AS (
    SELECT q.query_id, s.vec_id AS neighbor_id, {pair_cos} AS cosine
    FROM corpus_assign s JOIN query_probe q USING (cent_id)
    WHERE q.query_id <> s.vec_id
)
SELECT query_id, neighbor_id, round(cosine, 6) AS cosine, rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id
    ) AS rank
    FROM scored
)
WHERE rank <= {k}
"""


EMBEDDING_IVF_ORACLE = _ivf_oracle()

#: the rollback-probe gate: an index whose head was rolled back to the
#: base build (corpus excluding vec_id % 50 == 17) must serve exactly
#: the IVF results over that base corpus — same centroids, same probe
#: set, smaller indexed side (plans/gen_serving.gen_ivf_rollback_probe)
EMBEDDING_IVF_BASE_ORACLE = _ivf_oracle(
    corpus_where="WHERE e.vec_id % 50 != 17"
)


def embedding_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric distance — the
    memory-compression scale path (codes instead of raw vectors). The
    deterministic codebook (sub-vectors of every 25th corpus vector) makes
    the whole pipeline — encode argmin, LUT, ADC sum — pure SQL, so unlike
    LSH/IVF this approximate index is fully hash-verified by the oracle."""
    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return pq_topk(
        emb,
        emb.where(F.col("vec_id") < 10),
        k=5,
        num_subspaces=4,
        centroid_mod=25,
        dim=64,
    )


def _pq_oracle(
    k: int = 5,
    num_subspaces: int = 4,
    sub: int = 16,
    centroid_mod: int = 25,
    max_codebook: int = 256,
) -> str:
    return f"""
WITH ms AS (SELECT unnest(range({num_subspaces})) AS m),
csub AS (
    SELECT vec_id AS cent_id, ms.m,
           embedding[CAST(ms.m*{sub}+1 AS INT):CAST(ms.m*{sub}+{sub} AS INT)] AS cs
    FROM embeddings CROSS JOIN ms
    WHERE vec_id % {centroid_mod} = 0
      AND vec_id < {centroid_mod * max_codebook}
),
corpsub AS (
    SELECT vec_id AS cid, ms.m,
           embedding[CAST(ms.m*{sub}+1 AS INT):CAST(ms.m*{sub}+{sub} AS INT)] AS vs
    FROM embeddings CROSS JOIN ms
),
dists AS (
    SELECT p.cid, p.m, c.cent_id,
           (SELECT sum((CAST(x.a AS DOUBLE) - CAST(x.b AS DOUBLE))
                       * (CAST(x.a AS DOUBLE) - CAST(x.b AS DOUBLE)))
              FROM (SELECT unnest(p.vs) AS a, unnest(c.cs) AS b) x) AS d
    FROM corpsub p JOIN csub c ON p.m = c.m
),
codes AS (
    SELECT cid, m, cent_id AS code
    FROM (SELECT *, row_number() OVER (
              PARTITION BY cid, m ORDER BY d, cent_id) AS rn
          FROM dists)
    WHERE rn = 1
),
qsub AS (
    SELECT vec_id AS query_id, ms.m,
           embedding[CAST(ms.m*{sub}+1 AS INT):CAST(ms.m*{sub}+{sub} AS INT)] AS qs
    FROM embeddings CROSS JOIN ms
    WHERE vec_id < 10
),
lut AS (
    SELECT q.query_id, q.m, c.cent_id AS code,
           (SELECT sum((CAST(x.a AS DOUBLE) - CAST(x.b AS DOUBLE))
                       * (CAST(x.a AS DOUBLE) - CAST(x.b AS DOUBLE)))
              FROM (SELECT unnest(q.qs) AS a, unnest(c.cs) AS b) x) AS d
    FROM qsub q JOIN csub c ON q.m = c.m
),
adc AS (
    -- rank on the ROUNDED distance (same as the engine): equal-code
    -- candidates are ulps apart across engines, not truly ordered
    SELECT l.query_id, co.cid AS neighbor_id, round(sum(l.d), 6) AS adc_dist
    FROM codes co JOIN lut l ON co.m = l.m AND co.code = l.code
    WHERE l.query_id <> co.cid
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist, rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id
    ) AS rank
    FROM adc
)
WHERE rank <= {k}
"""


EMBEDDING_PQ_ORACLE = _pq_oracle()


def embedding_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (coarse cells + residual product quantization, the FAISS
    IVFx,PQy deployment shape). Deterministic quantizers make the full
    pipeline — coarse assignment, residuals, codes, LUT, ADC — replayable
    in the DuckDB oracle; recall vs exact is asserted in
    tests/test_similarity.py."""
    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    return ivfpq_topk(
        emb, emb.where(F.col("vec_id") < 10), k=5, coarse_mod=50, nprobe=3
    )


def _ivfpq_oracle(
    k: int = 5,
    coarse_mod: int = 50,
    nprobe: int = 3,
    num_subspaces: int = 4,
    sub: int = 16,
    pq_mod: int = 25,
    max_centroids: int = 256,
) -> str:
    """DuckDB replay of ivfpq_topk: same coarse cells, same residuals,
    same residual-space codebook, same ADC join."""
    l2 = """(SELECT sum((CAST(x.a AS DOUBLE) - CAST(x.b AS DOUBLE))
                        * (CAST(x.a AS DOUBLE) - CAST(x.b AS DOUBLE)))
               FROM (SELECT unnest({A}) AS a, unnest({B}) AS b) x)"""
    cell_d2 = l2.format(A="e.embedding", B="c.cell_v")
    sub_d2 = l2.format(A="p.rs", B="q.pq_s")
    lut_d2 = l2.format(A="q.qs", B="p.pq_s")
    res = (
        "list_transform(list_zip({V}, cell_v), "
        "s -> CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
    )
    sl = f"rv[CAST(ms.m*{sub}+1 AS INT):CAST(ms.m*{sub}+{sub} AS INT)]"
    return f"""
WITH ms AS (SELECT unnest(range({num_subspaces})) AS m),
cents AS (
    SELECT vec_id AS cell, embedding AS cell_v
    FROM embeddings
    WHERE vec_id % {coarse_mod} = 0 AND vec_id < {coarse_mod * max_centroids}
),
corpus_assign AS (
    SELECT cid, cell, {res.format(V="cv")} AS rv FROM (
        SELECT e.vec_id AS cid, e.embedding AS cv, c.cell, c.cell_v,
               row_number() OVER (
                   PARTITION BY e.vec_id ORDER BY {cell_d2} ASC, c.cell
               ) AS crk
        FROM embeddings e CROSS JOIN cents c
    ) WHERE crk = 1
),
csub AS (
    SELECT cid, cell, ms.m, {sl} AS rs
    FROM corpus_assign CROSS JOIN ms
),
pqc AS (SELECT cid AS pq_id, m, rs AS pq_s FROM csub
        WHERE cid % {pq_mod} = 0 AND cid < {pq_mod * max_centroids}),
dists AS (
    SELECT p.cid, p.cell, p.m, q.pq_id, {sub_d2} AS d
    FROM csub p JOIN pqc q ON p.m = q.m
),
codes AS (
    SELECT cid, cell, m, pq_id AS code
    FROM (SELECT *, row_number() OVER (
              PARTITION BY cid, m ORDER BY d, pq_id) AS rn
          FROM dists)
    WHERE rn = 1
),
query_assign AS (
    SELECT query_id, cell, {res.format(V="qv")} AS rv FROM (
        SELECT e.vec_id AS query_id, e.embedding AS qv, c.cell, c.cell_v,
               row_number() OVER (
                   PARTITION BY e.vec_id ORDER BY {cell_d2} ASC, c.cell
               ) AS crk
        FROM embeddings e CROSS JOIN cents c
        WHERE e.vec_id < 10
    ) WHERE crk <= {nprobe}
),
qsub AS (
    SELECT query_id, cell, ms.m, {sl} AS qs
    FROM query_assign CROSS JOIN ms
),
lut AS (
    SELECT q.query_id, q.cell, q.m, p.pq_id AS code, {lut_d2} AS d
    FROM qsub q JOIN pqc p ON q.m = p.m
),
adc AS (
    -- rank on the ROUNDED distance (same as the engine): equal-code
    -- candidates are ulps apart across engines, not truly ordered
    SELECT l.query_id, co.cid AS neighbor_id, round(sum(l.d), 6) AS adc_dist
    FROM codes co
    JOIN lut l ON co.cell = l.cell AND co.m = l.m AND co.code = l.code
    WHERE l.query_id <> co.cid
    GROUP BY 1, 2
)
SELECT query_id, neighbor_id, adc_dist, rank
FROM (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id
    ) AS rank
    FROM adc
)
WHERE rank <= {k}
"""


EMBEDDING_IVFPQ_ORACLE = _ivfpq_oracle()


#: The recall-report scoreboard rows: every approximate ANN family at its
#: registered settings, plus the IVF nprobe curve (1..3). Labels are shared
#: by the Spark plan and the DuckDB oracle.
_ANN_RECALL_METHODS = (
    "ivf_np1",
    "ivf_np2",
    "ivf_np3",
    "ivfpq_np3",
    "lsh_p4",
    "pq_m4",
)


def ann_recall_report(
    spark: SparkSession,
    sf_dir: str,
    methods: tuple[str, ...] = _ANN_RECALL_METHODS,
) -> DataFrame:
    """Recall@5 telemetry for EVERY approximate ANN family vs the exact
    brute-force baseline — the serving-quality dial the round-7 verdict
    called out as unmeasured ("probe cost rises and recall falls, and
    nothing measures it"). One row per method: sign-LSH, PQ-ADC, IVFADC,
    and the IVF nprobe curve at depths 1/2/3, each at its registered
    settings, scored against :func:`embedding_cosine_topk`'s exact top-5.

    Scale shape: recall audits run the exact baseline over a BOUNDED query
    sample (the standard practice — exact search over all queries is the
    thing ANN exists to avoid), so the exact side is one corpus pass ending
    in a 50-row frame, eagerly checkpointed and broadcast to every hit
    join. The IVF curve comes from :func:`ivf_topk_curve` — ONE corpus
    assignment and ONE candidate join shared across all three depths, not
    three ivf_topk runs. Every per-method hit count is a broadcast
    semi-join of a k·Q-row frame; nothing data-sized shuffles after the
    family top-ks themselves. Fully deterministic end to end, so the whole
    scoreboard — including each family's candidate generation — is replayed
    by the DuckDB oracle and hash-verified.

    ``methods`` narrows the scoreboard to a subset of the family labels —
    the report's cost is dominated by re-running each family's candidate
    generation, so a scheduled audit that only tracks (say) the deployed
    IVF curve pays only for those pipelines. The registered gate query
    always runs the FULL default set.
    """
    from ..operators.similarity import ivf_topk_curve
    from ..session import eager_checkpoint

    if not methods:
        raise ValueError("ann_recall_report needs at least one method")
    unknown = set(methods) - set(_ANN_RECALL_METHODS)
    if unknown:
        raise ValueError(f"unknown ANN recall methods: {sorted(unknown)}")
    tune(spark)
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 10)
    exact = eager_checkpoint(
        cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id"),
        "ann_recall_exact_topk",
    )

    ivf_depths = [
        int(m.removeprefix("ivf_np")) for m in methods if m.startswith("ivf_np")
    ]
    parts = []
    if ivf_depths:
        curve = ivf_topk_curve(
            emb, queries, k=5, centroid_mod=50, nprobe_max=max(ivf_depths)
        )
        parts.append(
            curve.where(F.col("nprobe").isin(ivf_depths)).select(
                F.concat(F.lit("ivf_np"), F.col("nprobe").cast("string")).alias(
                    "method"
                ),
                "query_id",
                "neighbor_id",
            )
        )
    # each family is built only when requested: the report's cost IS the
    # families' candidate generation, so an unrequested family must not
    # even construct its plan
    family_builders = {
        "lsh_p4": lambda: lsh_bucketed_topk(
            emb, queries, k=5, num_planes=4, dim=64, quantize_scale=10_000
        ),
        "pq_m4": lambda: pq_topk(
            emb, queries, k=5, num_subspaces=4, centroid_mod=25, dim=64
        ),
        "ivfpq_np3": lambda: ivfpq_topk(
            emb, queries, k=5, coarse_mod=50, nprobe=3
        ),
    }
    for label in _ANN_RECALL_METHODS:
        if label in family_builders and label in methods:
            parts.append(
                family_builders[label]().select(
                    F.lit(label).alias("method"), "query_id", "neighbor_id"
                )
            )
    approx = parts[0]
    for p in parts[1:]:
        approx = approx.unionByName(p)

    hits = (
        approx.join(F.broadcast(exact), ["query_id", "neighbor_id"])
        .groupBy("method")
        .agg(F.count("*").alias("hits"))
    )
    nq = exact.agg(F.countDistinct("query_id").alias("n_queries"))
    method_rows = spark.createDataFrame(
        [(m,) for m in _ANN_RECALL_METHODS if m in methods], "method string"
    )
    return (
        method_rows.crossJoin(F.broadcast(nq))
        .join(F.broadcast(hits), "method", "left")
        .select(
            "method",
            "n_queries",
            F.coalesce(F.col("hits"), F.lit(0)).cast("bigint").alias("total_hits"),
            F.round(
                F.coalesce(F.col("hits"), F.lit(0))
                / (F.col("n_queries") * F.lit(5.0)),
                6,
            ).alias("recall_at_5"),
        )
        .orderBy("method")
    )


def _ann_recall_oracle(k: int = 5, methods: tuple[str, ...] | None = None) -> str:
    """DuckDB replay of ann_recall_report by CTE composition: each family
    block IS that family's registered oracle verbatim (so the scoreboard
    can never drift from the per-family gate rows), unioned under its
    method label and scored against the exact-baseline oracle.
    ``methods`` restricts the scoreboard the same way the report's own
    ``methods=`` does — the ``ann_recall_report_fast`` bench/swap variant
    oracles through ``methods=('ivf_np1','ivf_np2','ivf_np3','lsh_p4')``."""
    blocks = (
        ("ivf_np1", _ivf_oracle(nprobe=1)),
        ("ivf_np2", _ivf_oracle(nprobe=2)),
        ("ivf_np3", _ivf_oracle(nprobe=3)),
        ("ivfpq_np3", EMBEDDING_IVFPQ_ORACLE),
        ("lsh_p4", EMBEDDING_LSH_ORACLE),
        ("pq_m4", EMBEDDING_PQ_ORACLE),
    )
    if methods is not None:
        blocks = tuple(b for b in blocks if b[0] in methods)
    union = "\nUNION ALL\n".join(
        f"SELECT '{m}' AS method, query_id, neighbor_id FROM ({sql})"
        for m, sql in blocks
    )
    methods = ", ".join(f"'{m}'" for m, _ in blocks)
    return f"""
WITH exact AS (
    SELECT query_id, neighbor_id FROM ({EMBEDDING_COSINE_ORACLE})
),
approx AS (
{union}
),
nq AS (SELECT count(DISTINCT query_id) AS n_queries FROM exact),
hits AS (
    SELECT method, count(*) AS hits
    FROM approx JOIN exact USING (query_id, neighbor_id)
    GROUP BY method
),
methods AS (SELECT unnest([{methods}]) AS method)
SELECT m.method, nq.n_queries,
       coalesce(h.hits, 0) AS total_hits,
       round(coalesce(h.hits, 0) / (nq.n_queries * {k}.0), 6) AS recall_at_5
FROM methods m CROSS JOIN nq LEFT JOIN hits h USING (method)
"""


ANN_RECALL_ORACLE = _ann_recall_oracle()

#: the deployed-audit method subset ann_recall_report_fast scores
_ANN_RECALL_FAST_METHODS = ("ivf_np1", "ivf_np2", "ivf_np3", "lsh_p4")


def ann_recall_report_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scheduled-audit scoreboard: ann_recall_report narrowed to the
    deployed IVF nprobe curve plus the cheap LSH family. Benched since
    round 5 (bench.py EXTRA_BENCH); shared-method rows are identical to
    the full report's by test. r13 swap candidate — NOT registered while
    the registry is frozen; its oracle is :data:`ANN_RECALL_FAST_ORACLE`
    (the full oracle's CTE composition restricted the same way), pinned
    locally by tests/test_r13_swap_candidates.py."""
    return ann_recall_report(spark, sf_dir, methods=_ANN_RECALL_FAST_METHODS)


ANN_RECALL_FAST_ORACLE = _ann_recall_oracle(methods=_ANN_RECALL_FAST_METHODS)


def minhash_lsh_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION MinHash hash family: xxhash64 (one JVM hash per
    shingle per band row) instead of the md5-derived Carter-Wegman family
    the oracle replays. Final pair set equals minhash_lsh_dedup's by test
    (tests/test_dedup.py); xxhash64 has no DuckDB equivalent, so a
    registry row for this query is rows-only — which is exactly what the
    r13 swap shortlist stages it as."""
    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_candidates(docs, "text", "doc_id", hash_family="xxhash64")


def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload feature extraction through Arrow/mapInPandas. The
    deterministic fake decoder is a pure function of the payload bytes, so
    even the Pandas-UDF path is oracle-checked."""
    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    feats = extract_media_features(payloads)
    # feature vector projected to scalar forms (csv + L1 mass) — the
    # driver's oracle harness cannot hash array cells
    rounded = F.transform(F.col("features"), lambda x: F.round(x, 9))
    return feats.select(
        "doc_id",
        "n_bytes",
        "digest",
        "fake_width",
        "fake_height",
        F.concat_ws(",", F.transform(rounded, lambda x: x.cast("string"))).alias(
            "features_csv"
        ),
        F.round(
            F.aggregate(rounded, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("features_l1"),
    )


MULTIMODAL_ORACLE = """
WITH f AS (
    SELECT doc_id, text,
           [round(('0x' || substr(md5(text), i * 2 + 1, 2))::INT / 255.0, 9)
            FOR i IN range(8)] AS features
    FROM documents
)
SELECT doc_id,
       octet_length(CAST(text AS BLOB)) AS n_bytes,
       md5(text) AS digest,
       CAST(octet_length(CAST(text AS BLOB)) % 640 AS INT) AS fake_width,
       CAST((octet_length(CAST(text AS BLOB)) * 7) % 480 AS INT) AS fake_height,
       array_to_string(list_transform(features, x -> CAST(x AS VARCHAR)), ',')
           AS features_csv,
       round(list_sum(features), 6) AS features_l1
FROM f
"""


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling through mapInPandas fan-out (1 row → N
    frame rows); frames digested so the blob-slicing oracle can compare."""
    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    frames = sample_frames(payloads, frame_bytes=64, every_nth=4)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.length("frame").alias("frame_len"),
        F.md5("frame").alias("frame_digest"),
    )


FRAME_SAMPLE_ORACLE = """
-- fixture text is pure ASCII (checked: octet_length == length), so VARCHAR
-- substring slices the same bytes the engine slices from the UTF-8 payload
WITH s AS (
    SELECT doc_id, text,
           greatest(1, octet_length(CAST(text AS BLOB)) // 64) AS n_frames
    FROM documents
)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       octet_length(CAST(substring(text, CAST(i * 64 + 1 AS BIGINT), 64) AS BLOB))
           AS frame_len,
       md5(substring(text, CAST(i * 64 + 1 AS BIGINT), 64)) AS frame_digest
FROM (
    SELECT doc_id, text,
           unnest(range(0, CAST(n_frames AS BIGINT), 4)) AS i
    FROM s
)
"""


def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-modality plumbing: per-frame RMS energy over binary payloads
    (unsigned 8-bit PCM interpretation, 64-sample frames). Integer sample
    math keeps the squared sums exact in doubles, so even this
    Pandas-UDF fan-out is hash-verified; rounding happens JVM-side."""
    from ..operators.multimodal import audio_frame_energy

    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    frames = audio_frame_energy(payloads, frame_samples=64)
    return frames.select(
        "doc_id", "frame_idx", "n_samples", F.round("rms", 6).alias("rms")
    )


# fixture text is pure ASCII (same guarantee FRAME_SAMPLE_ORACLE relies
# on), so ord(substr(...)) reads exactly the byte the engine frames
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup detection over binary payloads using the
    REAL numpy aHash (operators/multimodal.perceptual_hash — mean-threshold
    over a 32×32 byte grid, all-integer compare), not the fake extractor:
    the first codec-free multimodal feature computed end-to-end. Docs
    sharing a perceptual hash are dup candidates; ``n_same`` counts the
    collision group via a phash-partitioned window (never global). At
    100 TB the 64-bit hash is the only thing shuffled — payloads stay in
    their scan partitions, exactly like the text exact-dedup digest path."""
    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    from pyspark.sql import Window

    ph = perceptual_hash(payloads, grid=32, block=4)
    return ph.select(
        "doc_id",
        "phash",
        F.count(F.lit(1)).over(Window.partitionBy("phash")).alias("n_same"),
    )


# fixture text is pure ASCII (same guarantee the other multimodal oracles
# rely on), so ord(substr(...)) reads exactly the payload byte; the modulo
# replays the engine's cyclic tiling to the 32×32 grid
PHASH_DEDUP_ORACLE = """
WITH px AS (
    SELECT doc_id,
           [CASE WHEN octet_length(CAST(text AS BLOB)) = 0 THEN 0
                 ELSE ord(substr(text,
                                 k % octet_length(CAST(text AS BLOB)) + 1, 1))
            END FOR k IN range(1024)] AS p
    FROM documents
), cells AS (
    SELECT doc_id, list_sum(p) AS total,
           [list_sum([p[((c // 8) * 4 + i // 4) * 32 + (c % 8) * 4 + (i % 4) + 1]
                      FOR i IN range(16)])
            FOR c IN range(64)] AS cs
    FROM px
), h AS (
    -- cell 0 = MSB; exact powers of two (pow(2, k) is integer-exact in
    -- doubles), summed in HUGEINT then folded to the engine's signed
    -- two's-complement BIGINT
    SELECT doc_id,
           list_sum([CASE WHEN cs[c + 1] * 64 > total
                          THEN CAST(pow(2, 63 - c) AS HUGEINT)
                          ELSE CAST(0 AS HUGEINT) END
                     FOR c IN range(64)]) AS u
    FROM cells
), hs AS (
    SELECT doc_id,
           CAST(CASE WHEN u >= CAST(pow(2, 63) AS HUGEINT)
                     THEN u - CAST(pow(2, 64) AS HUGEINT)
                     ELSE u END AS BIGINT) AS phash
    FROM h
)
SELECT doc_id, phash, count(*) OVER (PARTITION BY phash) AS n_same FROM hs
"""


AUDIO_ENERGY_ORACLE = """
WITH s AS (
    SELECT doc_id, text, octet_length(CAST(text AS BLOB)) AS n,
           greatest(1, octet_length(CAST(text AS BLOB)) // 64) AS n_frames
    FROM documents
), f AS (
    SELECT doc_id, text, n,
           unnest(range(0, CAST(n_frames AS BIGINT), 1)) AS i
    FROM s
)
SELECT doc_id,
       CAST(i AS INT) AS frame_idx,
       CAST(CASE WHEN n = 0 THEN 0
                 WHEN n < 64 THEN n
                 ELSE 64 END AS INT) AS n_samples,
       round(CASE WHEN n = 0 THEN 0.0
             ELSE sqrt(list_sum(
                      [pow(ord(substr(text, CAST(i * 64 + k + 1 AS BIGINT), 1)) - 128.0, 2)
                       FOR k IN range(CASE WHEN n < 64 THEN n ELSE 64 END)])
                  / CASE WHEN n < 64 THEN n ELSE 64 END)
             END, 6) AS rms
FROM f
"""


def multimodal_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-modality plumbing, end to end through a REAL codec: each
    document's bytes become a baseline greyscale PNG
    (operators/multimodal.encode_png_grey — row filter cycles all five
    PNG scanline filters), the PNG is decoded back through the native
    stdlib decoder (_decode_png: zlib inflate + unfilter), and the
    DECODED pixel grid reports exact integer stats. Because the pixel
    bytes are the payload bytes, the DuckDB oracle replays the whole
    encode→decode pipeline from the text column — a hash gate over a
    real image codec path, the same trick multimodal_audio_energy plays
    with PCM. Registered in the r15 swap (paired with the
    embedding_ivf_topk + multimodal_frame_sample retirements); parity
    pinned by tests/test_r15_swap_candidates.py."""
    from ..operators.multimodal import image_pixel_stats

    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    stats = image_pixel_stats(payloads, width=16, height=16)
    return stats.select(
        "doc_id",
        "width",
        "height",
        "n_channels",
        "px_sum",
        F.round(F.col("px_sum") / F.lit(256.0), 9).alias("px_mean"),
        "px_min",
        "px_max",
    )


# fixture text is pure ASCII (same guarantee the other multimodal oracles
# rely on), so ord(substr(...)) reads exactly the byte the engine encodes
# into the PNG pixel grid; bytes past the text zero-pad to the 16×16 grid
IMAGE_STATS_ORACLE = """
WITH px AS (
    SELECT doc_id,
           [CASE WHEN i < octet_length(CAST(text AS BLOB))
                 THEN ord(substr(text, CAST(i + 1 AS BIGINT), 1))
                 ELSE 0 END FOR i IN range(256)] AS p
    FROM documents
)
SELECT doc_id,
       CAST(16 AS INT) AS width,
       CAST(16 AS INT) AS height,
       CAST(1 AS INT) AS n_channels,
       CAST(list_sum(p) AS BIGINT) AS px_sum,
       round(list_sum(p) / 256.0, 9) AS px_mean,
       CAST(list_min(p) AS INT) AS px_min,
       CAST(list_max(p) AS INT) AS px_max
FROM px
"""


def multimodal_interlaced_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Adam7 twin of :func:`multimodal_image_stats`: the same
    payload bytes encode as an INTERLACED greyscale PNG
    (operators/multimodal.encode_png(interlace=1) — seven independently
    filtered pass sub-images), decode back through the native decoder's
    de-interleave scatter, and report the same exact integer stats.
    Physically different bytes, logically identical pixels — so
    ``IMAGE_STATS_ORACLE`` gates this row UNCHANGED, and a hash match
    proves the Adam7 pass geometry is exact on every corpus row (a
    mis-scattered pixel moves px_sum). r17 swap candidate (registry is
    rotation-saturated); parity pinned by
    tests/test_r17_swap_candidates.py.

    Scale shape: identical to the baseline row — mapInPandas, map-only,
    one PNG per row, no shuffle, no driver involvement.
    """
    from ..operators.multimodal import image_pixel_stats

    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    stats = image_pixel_stats(payloads, width=16, height=16, interlace=1)
    return stats.select(
        "doc_id",
        "width",
        "height",
        "n_channels",
        "px_sum",
        F.round(F.col("px_sum") / F.lit(256.0), 9).alias("px_mean"),
        "px_min",
        "px_max",
    )


def image_thumbnail_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thumbnail-dedup: the image-corpus near-dup pipeline, end to end
    through the REAL codec twice — each document's bytes become a 16×16
    greyscale PNG (:func:`~..operators.multimodal.images_from_bytes`),
    :func:`~..operators.multimodal.image_resize` decodes and
    nearest-neighbor-downsamples it to an 8×8 thumbnail PNG (stride 2:
    thumbnail pixel (r,c) = source pixel (2r,2c) — exact integers), and
    :func:`~..operators.multimodal.perceptual_hash` in decode mode
    aHashes the DECODED thumbnail (grid=8, block=1: bit k = pixel k's
    value·64 > grid total). Groups by the 64-bit hash for duplicate
    counts. Because every stage is exact integer math on the payload
    bytes, the DuckDB oracle replays encode→resize→decode→hash straight
    from the text column. r16 swap candidate (registry is
    rotation-saturated); parity pinned by
    tests/test_r16_swap_candidates.py.

    Scale shape: three map-only Arrow stages (encode, resize, hash) —
    zero shuffles until the final hash groupBy, which exchanges only
    (doc_id, 8-byte hash). At 100 TB the encode stage disappears
    (payloads arrive as stored images) and the pipeline is unchanged.
    """
    from ..operators.multimodal import (
        image_resize,
        images_from_bytes,
        perceptual_hash,
    )

    tune(spark)
    docs = read_table(spark, sf_dir, "documents")
    payloads = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    pngs = images_from_bytes(payloads, width=16, height=16)
    thumbs = image_resize(pngs, stride=2)
    ph = perceptual_hash(thumbs, grid=8, block=1, decode=True)
    from pyspark.sql import Window

    w = Window.partitionBy("phash")
    return ph.select(
        "doc_id",
        "phash",
        F.count("*").over(w).alias("n_same"),
    )


# replays the full pipeline from the text bytes: 16x16 grid pixel
# (r,c) = byte[r*16+c] (zero-padded), stride-2 thumbnail pixel k
# (k = r*8+c, row-major) = byte[32*(r) + 2*(c)] = byte[32*(k//8)+2*(k%8)];
# aHash bit k = pixel*64 > total, packed MSB-first into a signed BIGINT
# (same HUGEINT fold as PHASH_DEDUP_ORACLE)
IMAGE_THUMBNAIL_ORACLE = """
WITH px AS (
    SELECT doc_id,
           [CASE WHEN 32 * (k // 8) + 2 * (k % 8)
                      < octet_length(CAST(text AS BLOB))
                 THEN ord(substr(text,
                                 32 * (k // 8) + 2 * (k % 8) + 1, 1))
                 ELSE 0 END FOR k IN range(64)] AS p
    FROM documents
), t AS (
    SELECT doc_id, p, list_sum(p) AS total FROM px
), h AS (
    SELECT doc_id,
           list_sum([CASE WHEN p[k + 1] * 64 > total
                          THEN CAST(pow(2, 63 - k) AS HUGEINT)
                          ELSE CAST(0 AS HUGEINT) END
                     FOR k IN range(64)]) AS u
    FROM t
), hs AS (
    SELECT doc_id,
           CAST(CASE WHEN u >= CAST(pow(2, 63) AS HUGEINT)
                     THEN u - CAST(pow(2, 64) AS HUGEINT)
                     ELSE u END AS BIGINT) AS phash
    FROM h
)
SELECT doc_id, phash, count(*) OVER (PARTITION BY phash) AS n_same FROM hs
"""


REGISTRY = [
    ("dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE),
    ("dedup_jaccard_pairs", dedup_jaccard_pairs, DEDUP_JACCARD_ORACLE),
    ("simhash_fingerprint", simhash_fingerprint, SIMHASH_ORACLE),
    ("minhash_lsh_dedup", minhash_lsh_dedup, MINHASH_LSH_ORACLE),
    ("text_quality_stats", text_quality_stats, TEXT_QUALITY_ORACLE),
    ("language_id_heuristic", language_id_heuristic, LANGUAGE_ID_ORACLE),
    ("token_count_bpe", token_count_bpe, TOKEN_COUNT_ORACLE),
    ("document_fingerprint", document_fingerprint, DOC_FINGERPRINT_ORACLE),
    ("embedding_cosine_topk", embedding_cosine_topk, EMBEDDING_COSINE_ORACLE),
    ("embedding_lsh_topk", embedding_lsh_topk, EMBEDDING_LSH_ORACLE),
    ("embedding_neardup_dedup", embedding_neardup_dedup, EMBEDDING_NEARDUP_ORACLE),
    ("embedding_pq_topk", embedding_pq_topk, EMBEDDING_PQ_ORACLE),
    ("embedding_ivfpq_topk", embedding_ivfpq_topk, EMBEDDING_IVFPQ_ORACLE),
    ("ann_recall_report", ann_recall_report, ANN_RECALL_ORACLE),
    # r13 swap registrations (COVERAGE.md shortlist items 4-5): the
    # scheduled-audit scoreboard gets the restricted-CTE oracle; the
    # xxhash64 production MinHash family has no DuckDB equivalent, so its
    # row is rows-only (pair-set equality to the md5cw oracle mode is
    # pinned by tests/test_dedup.py every session).
    ("ann_recall_report_fast", ann_recall_report_fast, ANN_RECALL_FAST_ORACLE),
    ("minhash_lsh_fast", minhash_lsh_fast, None),
    ("multimodal_feature_extract", multimodal_feature_extract, MULTIMODAL_ORACLE),
    ("multimodal_audio_energy", multimodal_audio_energy, AUDIO_ENERGY_ORACLE),
    ("multimodal_phash_dedup", multimodal_phash_dedup, PHASH_DEDUP_ORACLE),
    # r15 swap registration (COVERAGE.md "round 14 draft" item 1): the PNG
    # codec path (encode cycling all five scanline filters → native stdlib
    # decode → exact integer pixel stats) under the driver's DuckDB hash.
    ("multimodal_image_stats", multimodal_image_stats, IMAGE_STATS_ORACLE),
]

# r15 registry-swap retirees (COVERAGE.md "Retire-and-swap", round 14
# draft confirmed at unfreeze with one substitution): the gate slot is
# retired, the capability is not — the plan functions stay above and
# tests/test_retired_queries.py hash-verifies each against its oracle
# every session.
#   - embedding_ivf_topk (substituted for the drafted cube_subtotals,
#     which is a frozen comparable-23 bench row and keeps its slot): the
#     in-memory mod-id IVF probe whose EMBEDDING_IVF_ORACLE is still
#     gate-verified by SIX surviving rows (indexed/compacted/append +
#     the three generational probes) — the lowest-marginal slot in the
#     registry.
#   - multimodal_frame_sample: its mapInPandas 1→N fan-out plumbing is
#     equally exercised by the surviving multimodal_audio_energy row
#     (same Arrow iterator shape, stricter math).
RETIRED: list[tuple] = [
    ("embedding_ivf_topk", embedding_ivf_topk, EMBEDDING_IVF_ORACLE),
    ("multimodal_frame_sample", multimodal_frame_sample, FRAME_SAMPLE_ORACLE),
]
