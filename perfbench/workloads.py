"""The three workloads: their steps, their set-up and their output checks.

A step is one call into the engine's public API (``construct``: the call
that returns a DataFrame or runs an eager job) followed, when the call
returns a DataFrame, by writing it as parquet (``action``), the way the
reference's jobs end in a parquet sink. Every step has a check that runs
after the pass, outside the timed region, and raises :class:`CheckFailed`
when the written output is wrong.

``--seed`` chooses only two things, both in set-up: which half of the
leads the document store is seeded with (``prospect_etl``) and which
non-centroid embeddings are held out of the base index and appended each
pass (``vector_index``). The engine only ever sees generated inputs.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from pyspark.sql import functions as F

from canon import parquet_digest
from metrics import STEPS
from glue_job_to_write_structured_data_on_s3_full_code_spark.jobs import structuring_job
from glue_job_to_write_structured_data_on_s3_full_code_spark.operators.index_store import (
    gen_index_append,
    gen_index_build,
    gen_index_compact,
    gen_index_probe,
    gen_index_rollback,
)
from glue_job_to_write_structured_data_on_s3_full_code_spark.plans.outbound import (
    outbound_pipeline,
)
from glue_job_to_write_structured_data_on_s3_full_code_spark.registry import QUERIES


class CheckFailed(AssertionError):
    pass


@dataclass
class Step:
    name: str
    call: Callable  # (ctx, pass_no) -> DataFrame | dict
    check: Callable  # (ctx, pass_no, result, out_path) -> None
    layer: str = "plans"  # "plans" | "jobs" | "index_store"


@dataclass
class Ctx:
    spark: object
    data: str  # generated tables
    work: str  # this run's private working directory
    seed: int
    oracles: dict
    state: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def table(self, name: str) -> str:
        return os.path.join(self.data, f"{name}.parquet")


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _same_digest(got: dict, want: dict, what: str) -> None:
    _expect(
        got["cols"] == want["cols"],
        f"{what}: columns {got['cols']} != {want['cols']}",
    )
    _expect(got["rows"] == want["rows"], f"{what}: {got['rows']} rows != {want['rows']}")
    _expect(got["hash"] == want["hash"], f"{what}: row multiset differs from oracle")


def _registered(name: str) -> Step:
    """A registered query, checked against its DuckDB oracle."""

    def call(ctx: Ctx, p: int):
        return QUERIES[name](ctx.spark, ctx.data)

    def check(ctx: Ctx, p: int, result, out: str) -> None:
        _same_digest(parquet_digest(out), ctx.oracles[name], name)

    return Step(name, call, check)


def _summary(out: str) -> dict:
    rows = pq.read_table(out).to_pylist()
    _expect(len(rows) == 1, f"summary at {out} has {len(rows)} rows")
    return rows[0]


# ---------------------------------------------------------------------------
# prospect_etl: the reference's daily job chain
# ---------------------------------------------------------------------------

_TABLE = "structured_prospects"


def _dataset_date(p: int) -> str:
    return str(np.datetime64("2024-01-01") + p)


def _structuring_call(ctx: Ctx, p: int):
    return structuring_job(
        ctx.spark, ctx.data, ctx.path("warehouse", _TABLE), _dataset_date(p),
        table=_TABLE,
    )


def _structuring_check(ctx: Ctx, p: int, result, out: str) -> None:
    want = ctx.oracles["flagship_prospect_pipeline"]
    s = _summary(out)
    _expect(s["rows_in_partition"] == want["rows"],
            f"structuring_job: {s['rows_in_partition']} rows != {want['rows']}")
    _expect(s["n_partitions"] == p + 1,
            f"structuring_job: {s['n_partitions']} partitions after pass {p}")
    ctx.state["partitions"] = s["n_partitions"]
    part = ctx.path("warehouse", _TABLE, f"dataset_date={_dataset_date(p)}")
    _same_digest(parquet_digest(part, drop=("snapshot_dt",)), want, "structuring_job")


def _outbound_call(ctx: Ctx, p: int):
    return outbound_pipeline(ctx.spark, ctx.data, ctx.path("stores", f"p{p}"), f"pass{p}")


def _outbound_check(ctx: Ctx, p: int, result, out: str) -> None:
    s = _summary(out)
    _expect(s["reconciled"] is True, f"outbound_pipeline: not reconciled: {s}")
    _expect(s["src_count"] == ctx.state["delta"],
            f"outbound_pipeline: appended {s['src_count']} != {ctx.state['delta']}")


def _prospect_prepare(ctx: Ctx) -> None:
    """Seed the document store with a seed-chosen half of the leads (one
    lead per customer with orders) by running the outbound job on an
    input restricted to those customers."""
    orders = pq.read_table(ctx.table("orders"))
    custs = np.unique(orders.column("o_custkey").to_numpy())
    half = np.random.default_rng(ctx.seed).choice(custs, len(custs) // 2, replace=False)
    ctx.state["delta"] = len(custs) - len(half)
    half_dir = ctx.path("inputs", "half")
    os.makedirs(half_dir)
    pq.write_table(
        orders.filter(pc.is_in(orders.column("o_custkey"), value_set=pa.array(half))),
        os.path.join(half_dir, "orders.parquet"),
    )
    for t in ("customer", "nation"):
        shutil.copy(ctx.table(t), half_dir)
    summary = outbound_pipeline(ctx.spark, half_dir, ctx.path("stores", "seed"), "seed")
    seeded = summary.collect()[0]
    if not seeded["reconciled"] or seeded["src_count"] != len(half):
        raise RuntimeError(f"docstore seeding failed: {seeded}")


def _prospect_before_pass(ctx: Ctx, p: int) -> None:
    """A fresh copy of the seeded store, so every pass appends the same delta."""
    shutil.copytree(ctx.path("stores", "seed", "docstore"),
                    ctx.path("stores", f"p{p}", "docstore"))
    shutil.rmtree(ctx.path("stores", f"p{p - 1}"), ignore_errors=True)


# ---------------------------------------------------------------------------
# vector_index: generational index with writes beside reads
# ---------------------------------------------------------------------------

_INDEX = "bench_ivf"
_K, _NPROBE = 5, 3  # the registered gen_ivf_append probe shape


def _index_kw(ctx: Ctx) -> dict:
    return {"index_name": _INDEX, "root": ctx.path("index")}


def _queries(ctx: Ctx):
    return ctx.spark.read.parquet(ctx.table("embeddings")).where(F.col("vec_id") < 10)


def _probe(ctx: Ctx, p: int):
    return gen_index_probe(_queries(ctx), k=_K, nprobe=_NPROBE, **_index_kw(ctx))


def _probe_check(ctx: Ctx, p: int, result, out: str) -> None:
    _same_digest(parquet_digest(out), ctx.oracles["gen_ivf_append"], "gen_index_probe")


def _append_call(ctx: Ctx, p: int):
    batch = ctx.spark.read.parquet(ctx.path("inputs", "holdout.parquet"))
    return gen_index_append(batch, **_index_kw(ctx))


def _compact_call(ctx: Ctx, p: int):
    return gen_index_compact(ctx.spark, **_index_kw(ctx))


def _full_corpus_check(ctx: Ctx, p: int, result, out: str) -> None:
    rows = result["fingerprint"]["rows"]
    _expect(rows == ctx.state["corpus_rows"],
            f"index holds {rows} rows != {ctx.state['corpus_rows']}")


def _rollback_call(ctx: Ctx, p: int):
    return gen_index_rollback(ctx.spark, ctx.state["base_seq"], **_index_kw(ctx))


def _rollback_check(ctx: Ctx, p: int, result, out: str) -> None:
    _expect(result["gen"] == ctx.state["base_gen"],
            f"rollback serves {result['gen']}, not the base {ctx.state['base_gen']}")
    probe_out = ctx.path("checks", f"rollback-p{p}")
    _probe(ctx, p).write.mode("overwrite").parquet(probe_out)
    got = parquet_digest(probe_out)
    shutil.rmtree(probe_out)
    _expect(got == ctx.state["base_probe"], "post-rollback probe != set-up's base probe")


def _vector_prepare(ctx: Ctx) -> None:
    """Hold out a seed-chosen tenth of the non-centroid embeddings, build
    the base index without them and record its probe."""
    emb = pq.read_table(ctx.table("embeddings"))
    ids = emb.column("vec_id").to_numpy()
    candidates = ids[ids % 50 != 0]  # never hold out an IVF centroid
    hold = np.random.default_rng(ctx.seed).choice(candidates, len(ids) // 10, replace=False)
    mask = np.isin(ids, hold)
    os.makedirs(ctx.path("inputs"), exist_ok=True)
    pq.write_table(emb.filter(~mask), ctx.path("inputs", "base.parquet"))
    pq.write_table(emb.filter(mask), ctx.path("inputs", "holdout.parquet"))
    ctx.state["corpus_rows"] = len(ids)
    base = ctx.spark.read.parquet(ctx.path("inputs", "base.parquet"))
    payload = gen_index_build(base, **_index_kw(ctx))
    ctx.state["base_seq"], ctx.state["base_gen"] = 1, payload["gen"]
    out = ctx.path("inputs", "base_probe")
    _probe(ctx, 0).write.parquet(out)
    ctx.state["base_probe"] = parquet_digest(out)


# ---------------------------------------------------------------------------


#: every step by name; the order of a workload's steps is metrics.STEPS
_STEPS = {
    s.name: s
    for s in [
        Step("structuring_job", _structuring_call, _structuring_check, "jobs"),
        Step("outbound_pipeline", _outbound_call, _outbound_check, "jobs"),
        Step("gen_index_append", _append_call, _full_corpus_check, "index_store"),
        Step("gen_index_probe_accreted", _probe, _probe_check, "index_store"),
        Step("gen_index_compact", _compact_call, _full_corpus_check, "index_store"),
        Step("gen_index_probe_compacted", _probe, _probe_check, "index_store"),
        Step("gen_index_rollback", _rollback_call, _rollback_check, "index_store"),
    ]
}


@dataclass
class Workload:
    steps: list[Step]
    prepare: Callable = lambda ctx: None
    before_pass: Callable = lambda ctx, p: None


def _workload(name: str, *hooks) -> Workload:
    return Workload([_STEPS.get(n) or _registered(n) for n in STEPS[name]], *hooks)


WORKLOADS = {
    "prospect_etl": _workload("prospect_etl", _prospect_prepare, _prospect_before_pass),
    "corpus_dedup": _workload("corpus_dedup"),
    "vector_index": _workload("vector_index", _vector_prepare),
}
