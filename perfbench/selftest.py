"""Self-test of the benchmark: a tiny instance of each workload, traced,
run twice with the same seed. Every count metric must repeat exactly,
every output check must pass, and the layers must separate as designed
(no api calls on bulk_backfill, no ingest-layer call on catalog_keys).

    python3 perfbench/selftest.py            # all three workloads
    python3 perfbench/selftest.py catalog_keys

Exit code 0 when every assertion holds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import TRACED_LAYERS  # noqa: E402

WORKLOADS = ["hourly_ingest", "bulk_backfill", "catalog_keys"]
EXACT_UNITS = {"count", "bytes"}
INGEST_LAYERS = [layer for layer in TRACED_LAYERS if layer != "sources.tables.load_table"]


def run_once(workload: str) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", "1", "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = out.stdout.strip().splitlines()
    assert out.returncode == 0 and len(lines) >= 2, (
        f"{workload}: exit {out.returncode}\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
    )
    return json.loads(lines[-1]), json.loads(lines[-2])["report"]


def check(workload: str) -> None:
    (a, rep_a), (b, rep_b) = run_once(workload), run_once(workload)
    for res in (a, b):
        assert res["correct"] and res["failed"] == 0, res
    assert rep_a["input_digest"] == rep_b["input_digest"], "same seed, different inputs"
    counts = {k: v for k, v in a["metrics"].items() if v["unit"] in EXACT_UNITS}
    assert counts, "no count metrics"
    for name, m in counts.items():
        assert m["value"] == b["metrics"][name]["value"], (
            f"{workload}: {name} {m['value']} vs {b['metrics'][name]['value']}"
        )
    spark_counts = {k: v for k, v in rep_a["counts"].items() if k != "polls"}
    assert spark_counts == {k: v for k, v in rep_b["counts"].items() if k != "polls"}, (
        rep_a["counts"], rep_b["counts"])
    calls = {layer: a["metrics"][f"{layer}.calls_per_pass"]["value"] for layer in INGEST_LAYERS}
    if workload == "bulk_backfill":
        assert calls["api.partition_exists"] == calls["api.ingest_partition"] == 0, calls
        assert calls["plans.ingest.backfill_partition_range"] == 1, calls
    if workload == "catalog_keys":
        assert not any(calls.values()), calls
        assert a["metrics"]["sources.tables.load_table.calls_per_pass"]["value"] > 0
    if workload == "hourly_ingest":
        assert a["metrics"]["sources.probe.calls_per_ingest"]["value"] == 2, a["metrics"]
    print(f"ok  {workload}: {len(counts)} count metrics repeat exactly")


def main() -> int:
    for workload in sys.argv[1:] or WORKLOADS:
        check(workload)
    return 0


if __name__ == "__main__":
    sys.exit(main())
