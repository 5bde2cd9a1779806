"""Query + oracle registry — the driver-facing coverage inventory.

Every implemented operator from SURVEY.md §2 registers here as
``(name, callable(spark, sf_dir) -> DataFrame, oracle_sql | None)``.
``__spark_entry__.queries()`` / ``oracle_sql()`` read from this module.

Registration ORDER is deliberate: the driver's correctness gate verifies a
bounded prefix of the registry (each round records exactly the first
``GATE_SLOTS`` entries), so the prefix must ROTATE per round for every
registered query to get driver-verified recently.  Rotation is COMPUTED,
not narrated: ``LAST_VERIFIED`` is derived at import time from the
``CORRECTNESS_r*.json`` gate files the driver writes at the repo root, and
the prefix is simply the ``GATE_SLOTS`` stalest registered names
(never-gated first, then oldest gate round, name as the deterministic
tie-break).  Adding a query automatically queues it for the next gate;
a completed gate round automatically rotates it out.  Everything outside
the prefix stays verified locally by tests/test_oracle_parity.py every
session, and tests/test_registry_rotation.py fails the build if any
registered query would exceed the staleness bound.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from .plans.flagship import FLAGSHIP_ORACLE, flagship
from .plans import (
    analytics,
    breadth,
    capstone,
    formats,
    breadth2,
    deep_pipeline,
    engine_ops,
    etl_ops,
    events_queries,
    gen_serving,
    graph_queries,
    linkage,
    llm_ops,
    llm_ops2,
    llm_ops3,
    llm_ops4,
    llm_ops5,
    llm_ops6,
    llm_ops7,
    outbound,
    rag,
    relational,
    streaming_queries,
    temporal_queries,
    timeseries_queries,
    tpch_more,
    waterfall,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, fn: QueryFn, oracle: str | None = None) -> None:
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


# ---------------------------------------------------------------------------
# Computed gate rotation.
#
# The driver verifies the first GATE_SLOTS entries of queries() each round and
# records the outcome in CORRECTNESS_r{N}.json at the repo root.  We read those
# files back to learn, per query, the most recent round with a green row
# ("green" = rows+schema+hash matched with no error, or — for the few
# non-SQL-expressible ops the driver checks rows-only — a populated spark_rows
# with err == "no_oracle").  The verified prefix is then DERIVED as the
# GATE_SLOTS stalest names, so rotation happens automatically: no hand-edited
# list, no per-round chore to forget.
# ---------------------------------------------------------------------------

GATE_SLOTS = 50

_REPO_ROOT = Path(__file__).resolve().parent.parent
_GATE_FILE_RE = re.compile(r"CORRECTNESS_r(\d+)\.json$")


def _gate_green(row: dict) -> bool:
    if row.get("err") == "no_oracle":
        return row.get("spark_rows") is not None  # weaker rows-only check
    return bool(row.get("rows_match")) and row.get("err") is None


def _load_last_verified() -> tuple[dict[str, int], int]:
    """(name -> last gate-green round, upcoming round number)."""
    last: dict[str, int] = {}
    max_round = 0
    for path in sorted(_REPO_ROOT.glob("CORRECTNESS_r*.json")):
        m = _GATE_FILE_RE.search(path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        max_round = max(max_round, rnd)
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if isinstance(row, dict) and _gate_green(row):
                last[name] = max(last.get(name, 0), rnd)
    return last, max_round + 1


#: name -> most recent round with a green driver-gate row (0 = never gated).
LAST_VERIFIED, CURRENT_ROUND = _load_last_verified()

#: Any registered query must have been gate-green within this many rounds
#: (never-gated queries must be in the upcoming prefix).  With ~200 queries
#: and 50 slots/round, plain rotation needs 4 rounds; the bound is 5 so
#: there is exactly ONE round of slack — the room the touched-query
#: priority below spends.  (At 4 the rotation was saturated: 52 names were
#: already at the bound every round, so prioritizing ANYTHING would have
#: pushed a stale name past it.  The r15 verdict's gate-rotation item asked
#: for exactly this trade: a rewrite must be driver-gated the NEXT round,
#: at the cost of one extra round of worst-case staleness for the rest.)
MAX_STALENESS_ROUNDS = 5

#: name -> round whose build/optimization work CHANGED the query's
#: implementation (rewrites, operator-internal changes — not pure comment
#: edits).  A name ranks ahead of plain staleness until its first
#: gate-green round at or after that change, then the priority expires on
#: its own (LAST_VERIFIED catches up).  Updated by whoever rewrites a
#: query; stale entries are harmless.
TOUCHED_IN_ROUND: dict[str, int] = {
    # r15 optimization rewrites (minhash signature checkpoint + F.expr
    # construction; rag/bm25 aggregate exprs; curated-set checkpoint;
    # gram-window rewrites) — gated r14 at the latest, rotated OUT of the
    # r15 gate by staleness (the blind spot the r15 verdict flagged)
    "minhash_lsh_dedup": 15,
    "minhash_lsh_fast": 15,
    "minhash_candidate_precision": 15,
    "split_leakage_check": 15,
    "contrastive_pair_mining": 15,
    "pretraining_data_pipeline": 15,
    "duplicated_ngram_spans": 15,
    "rag_retrieval_pipeline": 15,
    "bm25_retrieval": 15,
    "hybrid_retrieval_rrf": 15,
    "mmr_diverse_topk": 15,
    "retrieval_ndcg": 15,
    "text_hash_embeddings": 15,
    # r16 optimization rewrites: size-gated contamination branch, digest
    # checkpoint, simhash conv bits, phash spread gate, connected-
    # components observed convergence, cosine norm hoisting (the whole
    # ANN/IVF scoring surface), fallback-join/deep-pipeline flattening
    "ngram_contamination_check": 16,
    "incremental_corpus_dedup": 16,
    "multimodal_phash_dedup": 16,
    "multimodal_dedup_pipeline": 16,
    "simhash_fingerprint": 16,
    "entity_resolution_pipeline": 16,
    "dedup_components": 16,
    "deep_prospect_pipeline": 16,
    "waterfall_fallback_join": 16,
    "waterfall_disjunctive_join": 16,
    "embedding_cosine_topk": 16,
    "embedding_ivf_kmeans_topk": 16,
    "embedding_ivfpq_topk": 16,
    "embedding_lsh_topk": 16,
    "ann_recall_report": 16,
    "gen_ivf_rollback_probe": 16,
    # r17: the six stored-IVF names moved off the removed POSIX store onto
    # the generational one (plans/gen_serving.py), and the twin bodies
    # they share now verify the corpus fingerprint on every probe
    "embedding_ivf_indexed_topk": 17,
    "embedding_ivf_index_append": 17,
    "embedding_ivf_cell_skew": 17,
    "embedding_ivf_rebalanced_topk": 17,
    "embedding_ivf_compacted_probe": 17,
    "streaming_ivf_index_maintenance": 17,
    "gen_ivf_probe": 17,
    "gen_ivf_append": 17,
    "gen_streaming_ivf_maintenance": 17,
}


def _staleness_key(name: str) -> tuple[int, int, int, str]:
    """Gate priority: (0) names that would EXCEED the staleness bound if
    skipped — never displaced by anything; (1) names rewritten since
    their last green gate — a rewrite is driver-gated the very next
    round; (2) plain staleness order."""
    last = LAST_VERIFIED.get(name, 0)
    must = last == 0 or (CURRENT_ROUND - last) >= MAX_STALENESS_ROUNDS
    touched = TOUCHED_IN_ROUND.get(name, 0) > last
    return (0 if must else 1, 0 if touched else 1, last, name)

_ALL_MODULES = (
    capstone,
    deep_pipeline, llm_ops, llm_ops2, llm_ops3, llm_ops4, llm_ops5, llm_ops6,
    llm_ops7,
    linkage,
    gen_serving,
    events_queries,
    temporal_queries, timeseries_queries, streaming_queries, graph_queries,
    waterfall, outbound, etl_ops, engine_ops, formats, rag, analytics,
    relational,
    breadth, breadth2, tpch_more,
)

_by_name = {"flagship_prospect_pipeline": ("flagship_prospect_pipeline", flagship, FLAGSHIP_ORACLE)}
for _module in _ALL_MODULES:
    for _entry in _module.REGISTRY:
        _by_name[_entry[0]] = _entry

#: The upcoming round's driver-gate prefix: the GATE_SLOTS stalest names.
VERIFIED_PREFIX: tuple[str, ...] = tuple(
    sorted(_by_name, key=_staleness_key)[:GATE_SLOTS]
)

for _name in VERIFIED_PREFIX:
    register(*_by_name[_name])
# flagship lives outside the module REGISTRYs, so sweep _by_name (which
# includes it), not just the modules — a prefix without it must not drop it.
for _name, _fn, _oracle in _by_name.values():
    if _name not in QUERIES:
        register(_name, _fn, _oracle)
