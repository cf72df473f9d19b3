"""Warehouse hygiene audit (r12 verdict task 7, CI-shape): a clean
``bench.py`` + ``pytest`` run must leave ONLY catalog-fixture stores in
``spark-warehouse/`` — everything else is a leak (a crashed probe, an
un-swept test store, an orphaned versioned-store stage).

Allowed residents: the one metastore-backed store, the process-cached
catalog fixture ``corpus_bands_<md5-8>`` (persisted corpus MinHash
bands, re-persisted per process by design — see queries/catalog.py
``_FIXTURES``). The IVF-PQ index and the corpus-cells store are
path-based versioned roots (operators/_publish.py) and never live here.

Anything else — ``t_*`` / ``test_*`` (pytest stores the conftest sweep
should have dropped), a leftover cells-store table from an older layout,
or an unrecognized name — fails the audit loudly with the listing.

Usage: python scripts/warehouse_audit.py [warehouse_dir]
Exit 0 = clean; exit 1 = leaks found (printed).
"""

from __future__ import annotations

import os
import re
import sys

ALLOWED = re.compile(r"^corpus_bands_[0-9a-f]{8}$")


def audit(warehouse: str) -> list[str]:
    if not os.path.isdir(warehouse):
        return []
    return [d for d in sorted(os.listdir(warehouse)) if not ALLOWED.match(d)]


def main() -> int:
    warehouse = sys.argv[1] if len(sys.argv) > 1 else "spark-warehouse"
    leaks = audit(warehouse)
    if leaks:
        print(f"LEAKED stores in {warehouse} ({len(leaks)}):")
        for d in leaks:
            print(f"  {d}")
        return 1
    n = len(os.listdir(warehouse)) if os.path.isdir(warehouse) else 0
    print(f"clean: {n} entries in {warehouse}, all catalog fixtures")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
