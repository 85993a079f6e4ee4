"""Driver surface policy: which registry entries the external driver sees.

The external driver checks at most ``SURFACE_SIZE`` entries per round and
writes one ``CORRECTNESS_r{N}.json`` per round. Every registry entry is
oracle-pinned locally by tests/test_oracle_parity.py; the surface only
decides where driver-grade evidence is earned next, so it is computed
from that evidence: never-green entries first, then the entries whose
latest green row is oldest.
"""

from __future__ import annotations

import glob
import json
import os
from collections.abc import Iterable

SURFACE_SIZE = 50


def row_green(row) -> bool:
    """A committed driver row passes: rows, schema and hash all match and
    no error was recorded."""
    return bool(
        isinstance(row, dict)
        and row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match")
        and not row.get("err")
    )


def driver_surface(names: Iterable[str], evidence_dir: str) -> list[str]:
    """The ``SURFACE_SIZE`` names to offer the driver next.

    Names with no green row in any ``CORRECTNESS_r*.json`` under
    ``evidence_dir`` come first, sorted by name; the rest follow sorted
    by (latest green round, name)."""
    last_green: dict[str, int] = {}
    for path in glob.glob(os.path.join(evidence_dir, "CORRECTNESS_r*.json")):
        rnd = int(os.path.basename(path)[len("CORRECTNESS_r") : -len(".json")])
        with open(path) as f:
            for name, row in json.load(f).items():
                if row_green(row):
                    last_green[name] = max(last_green.get(name, -1), rnd)
    ordered = sorted(set(names), key=lambda n: (last_green.get(n, -1), n))
    return ordered[:SURFACE_SIZE]
