#!/usr/bin/env python
"""Regenerate the registry evidence manifest, plans/source_digests.json.

Each row is ``{"digest", "evidence": {"round", "digest"} | null}``:
the query's current source digest (``plans.evidence.source_digests``: its
function, every package helper and constant it reaches, and its oracle
SQL), and its newest green CORRECTNESS row with the digest the manifest held
when that row was ingested. ``tests/test_registry_evidence.py`` checks
that the manifest is current and that the evidence matches the
CORRECTNESS_rNN.json files; the correctness window puts queries whose two
digests differ (stale) first.

Run it after a new CORRECTNESS_rNN.json lands and after any code edit:
  python scripts/update_source_digests.py     (or: make digests)
It first ingests the green rows newer than each query's evidence, using
the digests still on file (the code that run checked), and then
recomputes every digest from the working tree. Commit the result.
A missing manifest is recreated with no evidence (no digest is on file
for the code the runs checked), so every query starts as never checked.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def _bootstrap_protobuf() -> None:
    """The two state-v2 streaming queries register only when
    google.protobuf imports (plans/streaming_q.py). The test suite
    bootstraps a fallback distribution (tests/conftest.py); reuse that
    exact bootstrap so the manifest covers the same query set the
    enforcement test sees."""
    sys.path.insert(0, os.path.join(REPO, "tests"))
    try:
        from conftest import _ensure_protobuf

        _ensure_protobuf()
    except ImportError:
        pass
    finally:
        sys.path.pop(0)


def green_rows_by_round() -> dict[int, set[str]]:
    """Queries that passed every check, per CORRECTNESS round."""
    rows = {}
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            rows[rnd] = {
                name
                for name, row in json.load(f).items()
                if row.get("err") is None
                and all(row.get(k) is True for k in ("rows_match", "schema_match", "hash_match"))
            }
    return rows


def build_manifest(old: dict[str, dict]) -> dict[str, dict]:
    from data_engineering_rag_spark.plans import REGISTRY
    from data_engineering_rag_spark.plans.evidence import source_digests

    evidence = {name: row["evidence"] for name, row in old.items()}
    for rnd, names in sorted(green_rows_by_round().items()):
        for name in names & old.keys():
            if evidence[name] is None or evidence[name]["round"] < rnd:
                evidence[name] = {"round": rnd, "digest": old[name]["digest"]}
    return {
        name: {"digest": digest, "evidence": evidence.get(name)}
        for name, digest in sorted(source_digests(REGISTRY.values()).items())
    }


def main() -> int:
    _bootstrap_protobuf()
    from data_engineering_rag_spark.plans.evidence import MANIFEST_PATH, is_stale, load_manifest

    old = load_manifest()
    manifest = build_manifest(old)
    with open(MANIFEST_PATH, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {len(manifest)} entries -> {MANIFEST_PATH}")
    for label, names in (
        ("digest changed", [n for n in manifest if n in old and old[n]["digest"] != manifest[n]["digest"]]),
        ("added", [n for n in manifest if n not in old]),
        ("removed", [n for n in old if n not in manifest]),
        ("stale", [n for n, row in manifest.items() if is_stale(row)]),
    ):
        if names:
            print(f"{label} ({len(names)}): {', '.join(names)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
