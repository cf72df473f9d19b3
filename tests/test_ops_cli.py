"""End-to-end drive of the ops CLI (scripts/ops.py) — the commands.sh
parity surface: create table → probe → ingest one hour of raw TSV →
backfill a range → list partitions → compact → vacuum."""

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "scripts"))

from ops import main as ops_main  # noqa: E402

SCHEMA = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE"


def _write_hour(root: str, partition: str, rows: list[str]) -> None:
    hive = (
        f"year={partition[:4]}/month={partition[4:6]}/"
        f"day={partition[6:8]}/hour={partition[8:10]}"
    )
    d = os.path.join(root, hive)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "part-0.tsv"), "w") as fh:
        fh.write("\n".join(rows) + "\n")


def test_ops_cli_full_lifecycle(spark, tmp_path):
    src = str(tmp_path / "raw")
    tbl = str(tmp_path / "tbl")
    _write_hour(src, "2024010100", ["1\t10\tclick\t1.5", "2\t11\tview\t2.0"])
    _write_hour(src, "2024010101", ["3\t10\tclick\t0.5"])

    assert ops_main(["create-table", tbl])["ok"] is True
    assert ops_main(["probe", src, "2024010100"])["exists"] == 1
    assert ops_main(["probe", src, "2024010223"])["exists"] == 0

    r = ops_main(
        ["ingest", src, tbl, "2024010100", "--schema", SCHEMA, "--option", "sep=\t"]
    )
    assert r["status"] == "SUCCESS", r

    r = ops_main(
        [
            "backfill", src, tbl, "2024010100", "2024010103",
            "--schema", SCHEMA, "--option", "sep=\t",
        ]
    )
    # hour 00 and 01 ingest; hour 02 missing -> NOT_CREATED skip
    assert r["statuses"] == {
        "2024010100": "SUCCESS",
        "2024010101": "SUCCESS",
        "2024010102": "NOT_CREATED",
    }

    assert ops_main(["partitions", tbl])["partitions"] == ["2024010100", "2024010101"]
    assert ops_main(["compact", tbl, "2024010100"])["n_files"] == 1

    # repair-rollup: no rollup exists yet -> both hours derived; rerun -> no-op
    roll = str(tmp_path / "rollup")
    r = ops_main(
        ["repair-rollup", tbl, roll, "--group-by", "event_type",
         "--agg", "n_rows=count(*)", "--agg", "sum_value=round(sum(value), 2)"]
    )
    assert r["repaired"] == ["2024010100", "2024010101"]
    r = ops_main(
        ["repair-rollup", tbl, roll, "--group-by", "event_type",
         "--agg", "n_rows=count(*)", "--agg", "sum_value=round(sum(value), 2)"]
    )
    assert r["repaired"] == []

    # merge: correct event 1's value, insert event 9 into hour 00
    upd_dir = str(tmp_path / "updates")
    os.makedirs(upd_dir)
    with open(os.path.join(upd_dir, "u.tsv"), "w") as fh:
        fh.write("1\t10\tclick\t9.9\n9\t12\tmerge_new\t4.0\n")
    r = ops_main(
        ["merge", tbl, "2024010100", upd_dir, "--schema", SCHEMA,
         "--key", "event_id", "--format", "csv", "--option", "sep=\t"]
    )
    assert r["status"] == "SUCCESS" and r["n_updates"] == 2
    hour0 = spark.read.option("basePath", tbl).parquet(tbl + "/year=2024/month=01/day=01/hour=00")
    got = {x.event_id: x.value for x in hour0.collect()}
    assert got == {1: 9.9, 2: 2.0, 9: 4.0}
    r = ops_main(["vacuum", tbl, "2024010101"])
    assert r["dropped"] == ["2024010100"] and r["kept"] == ["2024010101"]

    back = spark.read.option("basePath", tbl).parquet(tbl)
    assert back.count() == 1  # only hour 01's single row survives
