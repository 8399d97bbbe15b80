"""The one cascade runner: candidate groups stream through
``EmdCascade.verify`` in ``CHUNK``-pair blocks, and every operator site
verifies through it."""

from __future__ import annotations

import ast
import re
from pathlib import Path
from unittest import mock

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

import melody_join_spark
from melody_join_spark.kernel import EmdCascade, normalize
from melody_join_spark.kernel.cascade import CascadeStats
from melody_join_spark.operators.emd_join_nd import _cascade_for, build_config

BINS = np.array([[i, j] for i in range(3) for j in range(3)], dtype=np.float64)


@settings(max_examples=60, deadline=None)
@given(data=st.data())
def test_verify_of_any_grouping_equals_one_run(data):
    """Any split of a candidate list into groups (empty ones, and groups
    straddling a block boundary, included) gives the same pairs, EMDs and
    counters as one ``run`` over the concatenation, and both cut the same
    blocks: exactly ``CHUNK`` pairs each, the last one shorter."""
    chunk = data.draw(st.integers(1, 9), label="chunk")
    n_pairs = data.draw(st.integers(0, 40), label="n_pairs")
    rng = np.random.default_rng(data.draw(st.integers(0, 2**16), label="seed"))
    W = normalize(rng.random((12, BINS.shape[0])) ** 3)
    W[rng.random(12) < 0.25] = W[0]  # duplicate rows exercise the exact-stage memo
    li = rng.integers(0, 12, n_pairs)
    ri = rng.integers(0, 12, n_pairs)
    cuts = sorted(data.draw(st.lists(st.integers(0, n_pairs), max_size=8), label="cuts"))
    edges = [0, *cuts, n_pairs]
    groups = [(li[a:b], ri[a:b]) for a, b in zip(edges[:-1], edges[1:])]
    theta = data.draw(st.floats(0.05, 1.5), label="theta")
    cfg = build_config(BINS, seed_weights=W)

    def blocks_of(call):
        casc = _cascade_for(W, cfg)
        sizes = []
        block = casc._block

        def recording(a, b, thr, stats):
            sizes.append(a.size)
            return block(a, b, thr, stats)

        casc._block = recording
        stats = CascadeStats()
        return call(casc, stats), stats, sizes

    with mock.patch.object(EmdCascade, "CHUNK", chunk):
        one, one_stats, one_sizes = blocks_of(
            lambda c, s: c.run(li, ri, theta, stats=s, slack=cfg.slack)
        )
        outs, got_stats, got_sizes = blocks_of(
            lambda c, s: list(c.verify(iter(groups), theta, stats=s, slack=cfg.slack))
        )
    got = [np.concatenate(col) for col in zip(*outs)] if outs else [np.empty(0)] * 3
    for a, b in zip(one, got):
        np.testing.assert_array_equal(a, b)
    assert got_stats == one_stats
    want = [chunk] * (n_pairs // chunk) + ([n_pairs % chunk] if n_pairs % chunk else [])
    assert got_sizes == one_sizes == want


def test_one_runner_per_cascade_site():
    """Under ``operators/`` and ``streaming/`` a cascade over stacked rows
    is built only by the one prologue, and candidates are verified only by
    the two runners (the threshold strategies' partition runner and the
    lookup operators' threshold block)."""
    root = Path(melody_join_spark.__file__).parent
    allowed = {
        r"_cascade_for\(np\.vstack": {"_stacked_cascade"},
        r"\.(run|verify)\(": {"_run_cascade", "_range_block"},
    }
    files = sorted((root / "operators").glob("*.py")) + sorted((root / "streaming").glob("*.py"))
    bad = []
    for path in files:
        src = path.read_text()
        for node in ast.parse(src).body:
            name = getattr(node, "name", "<module>")
            seg = ast.get_source_segment(src, node) or ""
            for pat, owners in allowed.items():
                if re.search(pat, seg) and name not in owners:
                    bad.append(f"{path.relative_to(root)}:{node.lineno} {name}: {pat}")
    assert not bad, bad
