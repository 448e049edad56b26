"""Pins the registry's contract across module moves: every entry name,
the sha256 of its oracle SQL and doc string, and the driver-window
settings must equal ``tests/registry_snapshot.json``; and entries may be
registered only from the six domain modules.

Regenerate the snapshot (only when an entry is deliberately added,
removed or changed) with ``python -m tests.test_registry_layout``.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

from etl_tj_project_spark import harness

SNAPSHOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "registry_snapshot.json")

DOMAIN_MODULES = {
    "etl_tj_project_spark.harness",
    "etl_tj_project_spark.harness_relational",
    "etl_tj_project_spark.harness_functions",
    "etl_tj_project_spark.harness_stats",
    "etl_tj_project_spark.harness_curation",
    "etl_tj_project_spark.harness_dedup",
}


def _sha(text: str | None) -> str | None:
    return None if text is None else hashlib.sha256(text.encode()).hexdigest()


def registry_layout() -> dict:
    return {
        "entries": {
            name: {"oracle_sha256": _sha(e.oracle), "doc_sha256": _sha(e.doc)}
            for name, e in sorted(harness.REGISTRY.items())
        },
        "driver_window": list(harness.DRIVER_WINDOW),
        "rows_only_refresh": list(harness.ROWS_ONLY_REFRESH),
        "window_round": harness.WINDOW_ROUND,
    }


def test_registry_matches_snapshot():
    with open(SNAPSHOT) as fh:
        pinned = json.load(fh)
    now = registry_layout()
    assert sorted(now["entries"]) == sorted(pinned["entries"])
    changed = [n for n in pinned["entries"] if now["entries"][n] != pinned["entries"][n]]
    assert not changed, f"oracle SQL or doc changed: {changed}"
    assert now["driver_window"] == pinned["driver_window"]
    assert now["rows_only_refresh"] == pinned["rows_only_refresh"]
    assert now["window_round"] == pinned["window_round"]


def test_entries_register_only_from_domain_modules():
    modules = {e.spark.__module__ for e in harness.REGISTRY.values()}
    assert modules == DOMAIN_MODULES
    round_named = re.compile(r"harness_r\d+$|fnpacks\d+$|llmdata\d+$")
    assert not [m for m in modules if round_named.search(m)]


if __name__ == "__main__":
    with open(SNAPSHOT, "w") as fh:
        json.dump(registry_layout(), fh, indent=1, sort_keys=True)
        fh.write("\n")
