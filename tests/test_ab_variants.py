"""scripts/ab_variants.py forks production query bodies for A/B runs;
its jaccard variants must stay lossless under every filter setting."""

from __future__ import annotations

import importlib.util
import os

_SPEC = importlib.util.spec_from_file_location(
    "ab_variants",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "scripts", "ab_variants.py"),
)
ab_variants = importlib.util.module_from_spec(_SPEC)
_SPEC.loader.exec_module(ab_variants)


def test_jaccard_positional_filter_alone_is_lossless(spark, sf_dir):
    """The PPJoin positional filter compares sizes, so it needs the size
    columns even without the length filter; both filters only prune
    candidates that cannot pass the final threshold."""
    posf = ab_variants._jaccard_r17b(False, "broadcast", posfilter=True)(spark, sf_dir)
    nofilters = ab_variants._jaccard_r17b(False, "broadcast")(spark, sf_dir)
    got = sorted(map(tuple, posf.collect()))
    assert got == sorted(map(tuple, nofilters.collect()))
    assert got, "sf0.001 has near-duplicate pairs; an empty result proves nothing"
