"""Registry evidence: plans/source_digests.json must mirror the
CORRECTNESS_r*.json rows and the code on disk, and the correctness
window (the first 50 registry entries) must go to the queries that
need evidence: stale ones first, then oracle queries no run has
passed."""

from __future__ import annotations

import ast
import glob
import importlib
import json
import os
import re
import sys
import textwrap

from data_engineering_rag_spark.plans import REGISTRY, QuerySpec
from data_engineering_rag_spark.plans.evidence import is_stale, load_manifest, source_digests

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_WINDOW = 50


def _newest_green_round() -> dict[str, int]:
    """Per query, the newest round whose CORRECTNESS row passed every check."""
    newest: dict[str, int] = {}
    for path in glob.glob(os.path.join(REPO_ROOT, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            for name, row in json.load(f).items():
                if row["err"] is None and row["rows_match"] and row["schema_match"] and row["hash_match"]:
                    newest[name] = max(rnd, newest.get(name, 0))
    return newest


def _checked() -> set[str]:
    return {n for n, row in load_manifest().items() if row["evidence"] is not None}


def _stale() -> set[str]:
    return {n for n, row in load_manifest().items() if is_stale(row)}


def test_manifest_rows_match_registry():
    manifest = load_manifest()
    missing = sorted(set(REGISTRY) - set(manifest))
    dead = sorted(set(manifest) - set(REGISTRY))
    assert not missing, f"queries missing from source_digests.json: {missing}"
    assert not dead, f"manifest rows for removed queries: {dead}"


def test_manifest_evidence_matches_correctness_files():
    """Both directions: every recorded evidence round is the newest
    green row on disk, and no green row on disk is left un-ingested.
    Fix by running scripts/update_source_digests.py."""
    on_disk = {n: r for n, r in _newest_green_round().items() if n in REGISTRY}
    recorded = {
        n: row["evidence"]["round"]
        for n, row in load_manifest().items()
        if row["evidence"] is not None
    }
    wrong = {n: (r, on_disk.get(n)) for n, r in recorded.items() if on_disk.get(n) != r}
    uningested = {n: r for n, r in on_disk.items() if n not in recorded}
    assert not wrong, f"manifest evidence round vs newest green row on disk: {wrong}"
    assert not uningested, f"green CORRECTNESS rows not in the manifest: {uningested}"


def test_source_digests_current():
    """The manifest's digest is the code on disk: an edit to a query,
    a helper it reaches or a constant it reads is recorded, so the
    query turns stale against its evidence. Fix by running
    scripts/update_source_digests.py and committing the manifest."""
    manifest = load_manifest()
    drifted = sorted(
        n for n, d in source_digests(REGISTRY.values()).items()
        if n in manifest and manifest[n]["digest"] != d
    )
    assert not drifted, f"manifest digests out of date: {drifted}"


def test_queries_compose_by_direct_call():
    """source_digests follows names, so a query that runs another query
    through ``REGISTRY[name].spark`` would keep its digest when the
    other query changes. Package code must call the query function
    directly (``@query`` returns it unchanged)."""
    pkg = os.path.join(REPO_ROOT, "data_engineering_rag_spark")
    lookups = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        with open(path) as f:
            tree = ast.parse(f.read())
        lookups += [
            f"{os.path.relpath(path, REPO_ROOT)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute)
            and node.attr == "spark"
            and isinstance(node.value, (ast.Subscript, ast.Call))
        ]
    assert not lookups, f"queries run through a registry lookup: {lookups}"


def test_every_oracle_query_has_driver_evidence_or_window_slot():
    """Every never-checked oracle query sits in the next driver window
    — UNLESS the window is already saturated with evidence candidates
    (stale re-checks + other never-checked queries), in which case the
    overflow legitimately waits a round. What may never happen: a
    wasted slot (rows-only or fresh-verified entry) inside the window
    while an oracle query without evidence sits outside it."""
    checked = _checked()
    names = list(REGISTRY)
    window, rest = names[:DRIVER_WINDOW], names[DRIVER_WINDOW:]
    stale = _stale()
    unscheduled = [
        n for n in rest if REGISTRY[n].oracle is not None and n not in checked
    ]
    if not unscheduled:
        return
    wasted = [
        n
        for n in window
        if REGISTRY[n].oracle is None or (n in checked and n not in stale)
    ]
    assert not wasted, (
        f"window slots wasted on {wasted} while oracle queries without "
        f"driver evidence wait outside: {unscheduled}"
    )


def test_window_prioritizes_unchecked_oracle_queries():
    """No FRESH-verified query may occupy a window slot while an
    unchecked oracle query waits outside. Stale queries are exempt:
    re-earning evidence for changed code outranks first evidence for
    new code."""
    checked = _checked()
    names = list(REGISTRY)
    window, rest = names[:DRIVER_WINDOW], names[DRIVER_WINDOW:]
    waiting = [n for n in rest if REGISTRY[n].oracle is not None and n not in checked]
    if not waiting:
        return
    stale = _stale()
    squatters = [n for n in window if n in checked and n not in stale]
    assert not squatters, (
        f"fresh-verified queries {squatters} hold window slots while "
        f"unchecked oracle queries wait: {waiting}"
    )


def test_rewritten_queries_have_fresh_evidence_or_window_slot():
    """Staleness gate: an oracle query whose digest changed after its
    newest green CORRECTNESS row must sit inside the next window, so
    the next run re-checks the changed code before its old row is read
    as evidence."""
    window = set(list(REGISTRY)[:DRIVER_WINDOW])
    outside = sorted(
        n for n in _stale() if REGISTRY[n].oracle is not None and n not in window
    )
    assert not outside, (
        f"queries changed after their newest green row, and not "
        f"scheduled in the next window: {outside}"
    )


_QUERIES = '''
    from . import kern


    def q(spark, sf_dir):
        """Query docstring."""
        return spark.range(kern.shared(1))  # reaches kern through a module attribute
'''
_KERN = '''
    def shared(x):
        """Shared helper."""
        from .util import scale  # in-function import

        return scale(x) + 1


    def unreached(x):
        return x - 1
'''
_UTIL = '''
    FACTOR = 2


    def scale(x):
        return x * FACTOR
'''


def _synthetic_digest(tmp_path, pkg: str, oracle: str = "SELECT 1", **edits: tuple[str, str]) -> str:
    """Digest of query ``q`` in a throwaway package ``pkg`` built from
    the three sources above, each optionally edited by (old, new)."""
    root = tmp_path / pkg
    root.mkdir()
    (root / "__init__.py").write_text("")
    for mod, src in (("queries", _QUERIES), ("kern", _KERN), ("util", _UTIL)):
        src = textwrap.dedent(src)
        if mod in edits:
            old, new = edits[mod]
            assert old in src
            src = src.replace(old, new)
        (root / f"{mod}.py").write_text(src)
    sys.path.insert(0, str(tmp_path))
    importlib.invalidate_caches()
    try:
        fn = importlib.import_module(f"{pkg}.queries").q
        return source_digests([QuerySpec(name="q", spark=fn, oracle=oracle)])["q"]
    finally:
        sys.path.remove(str(tmp_path))
        for mod in [m for m in sys.modules if m == pkg or m.startswith(pkg + ".")]:
            del sys.modules[mod]


def test_source_digest_flags_synthetic_edits(tmp_path):
    """A body edit, a shared-helper edit, a constant edit and an oracle
    edit each change the digest; docstring, comment and unreached-code
    edits do not."""
    base = _synthetic_digest(tmp_path, "synth_base")
    drift = {
        "body": dict(queries=("kern.shared(1)", "kern.shared(2)")),
        "helper": dict(util=("return x * FACTOR", "return x * FACTOR + 1")),
        "constant": dict(util=("FACTOR = 2", "FACTOR = 3")),
        "oracle": dict(oracle="SELECT 2"),
    }
    same = {
        "docstrings": dict(queries=("Query docstring.", "Reworded."), kern=("Shared helper.", "Other.")),
        "comments": dict(queries=("# reaches kern", "# now reaches kern"), kern=("# in-function", "# lazy")),
        "unreached": dict(kern=("return x - 1", "return x - 2")),
    }
    for label, edits in drift.items():
        assert _synthetic_digest(tmp_path, "synth_" + label, **edits) != base, f"{label} edit must drift"
    for label, edits in same.items():
        assert _synthetic_digest(tmp_path, "synth_" + label, **edits) == base, f"{label} edit must not drift"
