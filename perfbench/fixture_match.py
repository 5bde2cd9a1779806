"""Compare the benchmark's generated input tables with the repository's
sf fixture at the same scale.

    python3 perfbench/fixture_match.py FIXTURE_DIR [--out perfbench/results/fixture_match.json]

Run from the root of a checkout. ``FIXTURE_DIR`` holds the fixture tables
at the benchmark's scale (``run.SF``; TESTDATA.md says where they live).
The benchmark cannot read them itself (a run reads only its checkout), so
``datagen.py`` rebuilds their shape; this script is the evidence that it
does. It records, per table, the rows, bytes on disk and schema of both
sets, and per registered query a workload checks, the output rows of its
DuckDB oracle over each set. Exits non-zero when a table's row count or
schema differs.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))


def _tables(d: str) -> dict[str, dict]:
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            pf = pq.ParquetFile(os.path.join(d, f))
            out[f[:-8]] = {
                "rows": pf.metadata.num_rows,
                "mb": os.path.getsize(os.path.join(d, f)) / 1e6,
                "schema": [f"{c.name}:{c.type}" for c in pf.schema_arrow],
            }
    return out


def _oracle_rows(d: str, sql: dict[str, str]) -> dict[str, int]:
    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(d, f)}')")
        return {n: con.execute(f"SELECT count(*) FROM ({q})").fetchone()[0]
                for n, q in sql.items()}
    finally:
        con.close()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("fixture", help="directory of the fixture tables at run.SF")
    ap.add_argument("--out", default=os.path.join(HERE, "results", "fixture_match.json"))
    args = ap.parse_args(argv)
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    import run
    from metrics import ORACLES

    from glue_job_to_write_structured_data_on_s3_full_code_spark.registry import (
        ORACLES as SQL,
    )

    data = run.ensure_data(os.path.join(root, ".perfbench"))
    fix, gen = _tables(args.fixture), _tables(data)
    ok = fix.keys() == gen.keys() and all(
        fix[t]["rows"] == gen[t]["rows"] and fix[t]["schema"] == gen[t]["schema"] for t in fix)
    sql = {n: SQL[n] for n in sorted({n for names in ORACLES.values() for n in names})}
    fq, gq = _oracle_rows(args.fixture, sql), _oracle_rows(data, sql)
    report = {
        "sf": run.SF,
        "tables_match": ok,
        "tables": {t: {"fixture": fix[t], "generated": gen.get(t)} for t in fix},
        "oracle_rows": {n: {"fixture": fq[n], "generated": gq[n],
                            "rel_diff": (gq[n] - fq[n]) / max(fq[n], 1)} for n in sql},
    }
    os.makedirs(os.path.dirname(args.out), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1)
    for t, v in report["tables"].items():
        g = v["generated"] or {"rows": None, "mb": 0.0}
        print(f"{t:12s} rows {v['fixture']['rows']:>8} / {g['rows']:>8}  "
              f"MB {v['fixture']['mb']:7.3f} / {g['mb']:7.3f}")
    for n, v in report["oracle_rows"].items():
        print(f"{n:28s} oracle rows {v['fixture']:>7} / {v['generated']:>7}  "
              f"({v['rel_diff']:+.3f})")
    print(f"{'ok' if ok else 'FAIL'}: tables' rows and schemas "
          f"{'match' if ok else 'differ'} (fixture / generated)")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
