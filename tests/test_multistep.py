"""Properties of the kernel seam behind every multi-step search:
``EmdCascade.lower_bounds`` never exceeds ``EmdCascade.exact_pairs``, and
``multistep`` returns each owner's exact k nearest — ties at the kth value
and excluded (``+inf``) entries included."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from melody_join_spark.kernel import emd_exact, multistep, normalize
from melody_join_spark.operators.emd_join_nd import _cascade_for, build_config


@st.composite
def _weights(draw):
    """Small integer-lattice bins in d dimensions and rows drawn from a
    small pool of sparse integer histograms, so duplicate rows are common."""
    d = draw(st.sampled_from([1, 2, 3]))
    n_bins = draw(st.integers(2, 7))
    coords = draw(
        st.lists(
            st.lists(st.integers(-3, 3), min_size=d, max_size=d),
            min_size=n_bins, max_size=n_bins, unique_by=tuple,
        )
    )
    pool = []
    for _ in range(draw(st.integers(1, 4))):
        w = draw(st.lists(st.integers(0, 3), min_size=n_bins, max_size=n_bins))
        w[draw(st.integers(0, n_bins - 1))] += 1  # nonzero mass
        pool.append(w)
    picks = draw(st.lists(st.integers(0, len(pool) - 1), min_size=2, max_size=8))
    W = normalize(np.array([pool[p] for p in picks], dtype=np.float64))
    return np.array(coords, dtype=np.float64), W


@settings(max_examples=60, deadline=None)
@given(case=_weights(), ground=st.sampled_from(["l1", "l2", "l3"]))
def test_lower_bounds_never_exceed_exact(case, ground):
    bins, W = case
    cfg = build_config(bins, seed_weights=W, ground=ground)
    casc = _cascade_for(W, cfg)
    li, ri = np.triu_indices(W.shape[0], 1)
    lb = casc.lower_bounds(li, ri)
    ex = casc.exact_pairs(li, ri)
    assert np.all(lb <= ex + 1e-9)
    # the exact stage agrees with the scalar LP, on a line too
    want = [emd_exact(W[a], W[b], cfg.cost) for a, b in zip(li, ri)]
    np.testing.assert_allclose(ex, want, atol=1e-9)


@st.composite
def _search(draw):
    """Integer exact values (ties everywhere), integer lower bounds at most
    the values or one ulp above them (a bound that rounds above its exact
    value), and some entries excluded with +inf."""
    n_own = draw(st.integers(1, 4))
    n_cand = draw(st.integers(0, 12))
    cell = st.tuples(st.integers(0, 4), st.integers(0, 4), st.sampled_from(["lb", "ulp", "out"]))
    cells = draw(
        st.lists(
            st.lists(cell, min_size=n_cand, max_size=n_cand),
            min_size=n_own, max_size=n_own,
        )
    )
    V = np.array([[v for v, _, _ in row] for row in cells], dtype=np.float64)
    bound = {
        "lb": lambda v, g: min(v, g),
        "ulp": lambda v, g: np.nextafter(float(v), np.inf),
        "out": lambda v, g: np.inf,
    }
    LB = np.array(
        [[bound[kind](v, g) for v, g, kind in row] for row in cells],
        dtype=np.float64,
    )
    return V.reshape(n_own, n_cand), LB.reshape(n_own, n_cand)


@settings(max_examples=150, deadline=None)
@given(case=_search(), k=st.integers(1, 5), chunk=st.integers(1, 6))
def test_multistep_returns_exact_top_k(case, k, chunk):
    V, LB = case
    seen = []

    def exact(o, c):
        seen.extend(zip(o.tolist(), c.tolist()))
        return V[o, c]

    own, cand, val = multistep(LB, k, exact, chunk)
    assert len(seen) == len(set(seen))  # each entry solved at most once
    assert np.isfinite(LB[own, cand]).all()  # excluded entries never solved
    np.testing.assert_array_equal(val, V[own, cand])
    for o in range(V.shape[0]):
        m = own == o
        got = sorted(zip(val[m].tolist(), cand[m].tolist()))[:k]
        want = sorted(
            (V[o, j], j) for j in range(V.shape[1]) if np.isfinite(LB[o, j])
        )[:k]
        assert got == want
        # ties at the kth value are complete: every entry equal to the kth
        # value is solved
        if len(want) == k:
            kth = want[-1][0]
            tied = {j for j in range(V.shape[1]) if np.isfinite(LB[o, j]) and V[o, j] == kth}
            assert tied <= set(cand[m].tolist())


def test_multistep_solves_a_kth_tie_whose_bound_rounds_above_it():
    """Three candidates tie at 1.0; the third one's lower bound came out
    one ulp above its exact value, as the Rubner and projection bounds can.
    It ties the kth (k = 2) value, so it must be solved."""
    V = np.array([[1.0, 1.0, 1.0]])
    LB = np.array([[1.0, 1.0, np.nextafter(1.0, 2.0)]])
    own, cand, val = multistep(LB, 2, lambda o, c: V[o, c], 1)
    assert sorted(cand.tolist()) == [0, 1, 2]
    np.testing.assert_array_equal(val, 1.0)
