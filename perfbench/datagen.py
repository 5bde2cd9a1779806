"""Deterministic generator for the benchmark's input tables.

Writes the ten tables the engine's registered queries read (the TPC-H-ish
star schema plus ``events``, ``documents`` and ``embeddings``), one parquet
file each, with the same column names, types and value shapes as the
repository's sf fixtures (TESTDATA.md). Row counts scale with ``sf`` the
same way. The tables depend only on ``sf`` and the fixed ``TABLE_SEED``:
the benchmark's ``--seed`` never changes them, it only chooses the
docstore half and the index holdout (see ``workloads.py``).

Shapes reproduced because queries depend on them:
- ``documents``: 10-99 words from a 30-word vocabulary; 5 % are near
  duplicates (an earlier document's text plus " dup"), so the dedup
  operators find pairs;
- ``embeddings``: 64-d unit vectors drawn around ten label centres, so
  IVF cells are uneven but non-empty;
- ``lineitem`` keys drawn independently, so (orderkey, linenumber) repeats
  as in the fixtures.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
#: bump when the generator's output changes, so cached tables are rebuilt
GENERATOR_VERSION = 1

_VOCAB = (
    "join hash row batch scan customer column filter small slow merge order "
    "vector line data table agg value key stream window spark a group part "
    "big sort query fast the"
).split()
_ADJ = "red small hot old large blue cold new".split()
_NOUN = "plate widget ring rod bolt gizmo gear anvil".split()
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
_PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
_LANGS = np.array(["en", "zh", "de", "es", "fr"])
_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
_DAY_US = 86_400 * 1_000_000


def row_counts(sf: float) -> dict[str, int]:
    """Rows per table at scale factor ``sf`` (the fixtures' ratios)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(int(10_000 * sf), 10),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": max(int(20_000 * sf), 500),
    }


def _days(rng, n: int, start: str, span_days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("int64") * np.int64(_DAY_US)


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values)[rng.integers(0, len(values), n)])


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype="int64"))


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    lengths = rng.integers(10, 100, n)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lengths]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": _ids(n),
        "text": pa.array(texts),
        "lang": pa.array(_LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    centres = rng.normal(0.0, 0.14 / np.sqrt(dim), (labels, dim))
    label = rng.integers(0, labels, n)
    vec = centres[label] + rng.normal(0.0, 0.124, (n, dim))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": _ids(n),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    })


def generate(sf: float) -> dict[str, pa.Table]:
    """Build every table at scale ``sf`` from ``TABLE_SEED``."""
    rng = np.random.default_rng(TABLE_SEED)
    n = row_counts(sf)
    i32 = lambda a: pa.array(np.asarray(a, dtype="int32"))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, dtype="int64"))  # noqa: E731
    ts = lambda a: pa.array(a, type=pa.timestamp("us"))  # noqa: E731
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": i32(range(5)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    t["nation"] = pa.table({
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)]),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": _ids(c),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": i32(rng.integers(0, 25, c)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
        "c_mktsegment": _pick(rng, _SEGMENTS, c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": _ids(s),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": i32(rng.integers(0, 25, s)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
    })
    p = n["part"]
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": _ids(p),
        "p_name": _pick(rng, names, p),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, p)]),
        "p_type": _pick(rng, _PART_TYPES, p),
        "p_size": i32(rng.integers(1, 51, p)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(p) % 1000) * 0.1, 1)),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": _ids(o),
        "o_custkey": i64(rng.integers(0, c, o)),
        "o_orderstatus": _pick(rng, ["P", "O", "F"], o),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, o)),
        "o_orderdate": ts(_days(rng, o, "1995-01-01", 2404)),
        "o_orderpriority": _pick(rng, _PRIORITIES, o),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": i64(rng.integers(0, o, li)),
        "l_partkey": i64(rng.integers(0, p, li)),
        "l_suppkey": i64(rng.integers(0, s, li)),
        "l_linenumber": i32(rng.integers(1, 8, li)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, li)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], li),
        "l_linestatus": _pick(rng, ["O", "F"], li),
        "l_shipdate": ts(_days(rng, li, "1995-01-02", 2499)),
    })
    e = n["events"]
    offsets = np.sort(rng.integers(0, 30 * _DAY_US, e))
    t["events"] = pa.table({
        "event_id": _ids(e),
        "ts": ts(np.datetime64("2024-01-01", "us") + offsets),
        "user_id": i64(rng.integers(0, max(int(15_000 * sf), 10), e)),
        "event_type": _pick(rng, _EVENT_TYPES, e),
        "value": pa.array(np.round(np.minimum(rng.exponential(50.0, e), 490.0) + 0.01, 2)),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, e)]),
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def write(sf: float, out_dir: str) -> None:
    """Write every table as ``<out_dir>/<name>.parquet`` (single file)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(sf).items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(table, tmp, compression="snappy")
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
