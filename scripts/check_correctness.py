"""Local correctness harness mimicking the driver's oracle comparison:
run each queries() entry and its oracle_sql() on the same sf dir, compare
row count, sorted column names, and order-insensitive values.

Usage: python scripts/check_correctness.py [--jsonl OUT.jsonl] [sf_dir] [query ...]

With --jsonl the per-key verdicts are ALSO appended to OUT.jsonl, one
JSON object per key (key, sf_dir, rows/schema/hash verdicts, row counts,
seconds, err) — the committable raw artifact of a sweep (r14 verdict
task: sweep results must be diffable artifacts, not prose summaries).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

import duckdb

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # collapse -0.0/0.0 and format stably
        if v == 0:
            v = 0.0
        return f"{v:.9g}"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    return sorted(out)


def main(argv: list[str]) -> int:
    args = list(argv)
    jsonl_path = None
    if "--jsonl" in args:
        i = args.index("--jsonl")
        jsonl_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from gcp_batch_load_hive_partitioned_data_from_gcs_to_bigquery_spark import get_spark

    spark = get_spark(app_name="correctness", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, passes, rows_only = [], [], []
    jsonl_fh = open(jsonl_path, "a") if jsonl_path else None

    def emit(rec: dict) -> None:
        if jsonl_fh is not None:
            jsonl_fh.write(json.dumps(rec) + "\n")
            jsonl_fh.flush()

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec = {"key": name, "sf_dir": sf_dir, "rows_match": None,
               "schema_match": None, "hash_match": None, "spark_rows": None,
               "oracle_rows": None, "secs": None, "err": None}
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = sdf.collect()
            rec["spark_rows"] = len(srows)
        except Exception as exc:
            failures.append((name, f"SPARK ERROR: {exc}"))
            print(f"FAIL  {name}: spark error: {str(exc)[:300]}")
            rec["err"] = f"spark: {str(exc)[:300]}"
            rec["secs"] = round(time.time() - t0, 1)
            emit(rec)
            continue
        if name not in oracles:
            rows_only.append((name, len(srows)))
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            rec["secs"] = round(time.time() - t0, 1)
            rec["rows_only"] = True
            emit(rec)
            continue
        try:
            rel = con.sql(oracles[name])
            ocols = rel.columns
            orows = rel.fetchall()
            rec["oracle_rows"] = len(orows)
        except Exception as exc:
            failures.append((name, f"ORACLE ERROR: {exc}"))
            print(f"FAIL  {name}: oracle error: {str(exc)[:300]}")
            rec["err"] = f"oracle: {str(exc)[:300]}"
            rec["secs"] = round(time.time() - t0, 1)
            emit(rec)
            continue
        problems = []
        rec["schema_match"] = sorted(scols) == sorted(ocols)
        if not rec["schema_match"]:
            problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
        rec["rows_match"] = len(srows) == len(orows)
        if not rec["rows_match"]:
            problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
        if not problems:
            s_n, o_n = normalize(srows, scols), normalize(orows, ocols)
            rec["hash_match"] = s_n == o_n
            if s_n != o_n:
                diff = [(a, b) for a, b in zip(s_n, o_n) if a != b][:3]
                problems.append(f"values differ, first diffs: {diff}")
        rec["secs"] = round(time.time() - t0, 1)
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"FAIL  {name}: {'; '.join(problems)[:500]}")
        else:
            passes.append(name)
            print(f"ok    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
        emit(rec)
    if jsonl_fh is not None:
        jsonl_fh.close()

    print(
        f"\n{len(passes)} ok, {len(rows_only)} rows-only, {len(failures)} failed"
        f" (sf_dir={sf_dir})"
    )
    return 1 if failures else 0


if __name__ == "__main__":
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    raise SystemExit(main(sys.argv[1:]))
