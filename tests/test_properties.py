"""Property-based tests (hypothesis) over the pure-numpy kernels —
no SparkSession, so these run in milliseconds and fuzz the numeric
foundations the Spark operators are built on."""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from esda_spark.functions.mathx import (
    chi2_ppf,
    chi2_sf,
    gamma_ppf,
    gammainc_p,
    norm_cdf,
    norm_ppf,
    poisson_cdf,
)
from esda_spark.operators.crand import crand_partition, vec_permutations
from esda_spark.operators.shape import (
    polar_moment,
    reflex_ratio,
    ring_area,
    ring_perimeter,
)
from esda_spark.operators.significance import permutation_significance


@settings(max_examples=60, deadline=None)
@given(st.floats(0.001, 0.999), st.floats(0.05, 50.0), st.floats(0.1, 10.0))
def test_gamma_ppf_inverts_cdf(q, a, scale):
    x = float(gamma_ppf(q, a, scale))
    assert x >= 0
    assert float(gammainc_p(a, x / scale)) == pytest.approx(q, abs=1e-9)


@settings(max_examples=40, deadline=None)
@given(st.floats(0.001, 0.999), st.floats(0.5, 60.0))
def test_chi2_ppf_inverts_sf(q, dof):
    x = float(chi2_ppf(q, dof))
    assert float(chi2_sf(x, dof)) == pytest.approx(1 - q, abs=1e-9)


@settings(max_examples=40, deadline=None)
@given(st.floats(0.001, 0.999))
def test_norm_ppf_inverts_cdf(q):
    assert float(norm_cdf(norm_ppf(q))) == pytest.approx(q, abs=1e-12)


@settings(max_examples=40, deadline=None)
@given(st.integers(0, 60), st.floats(0.01, 80.0))
def test_poisson_cdf_monotone_and_bounded(k, mu):
    p = float(poisson_cdf(k, mu))
    assert 0.0 <= p <= 1.0
    assert p <= float(poisson_cdf(k + 1, mu)) + 1e-12


@settings(max_examples=30, deadline=None)
@given(
    st.integers(3, 12),
    st.floats(-math.pi, math.pi),
    st.floats(-50, 50),
    st.floats(-50, 50),
    st.integers(0, 2**31 - 1),
)
def test_ring_measures_rigid_motion_invariant(n, theta, dx, dy, seed):
    rng = np.random.default_rng(seed)
    # star-shaped simple polygon: sorted angles, positive radii
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(0.5, 4.0, n)
    xs, ys = rad * np.cos(ang), rad * np.sin(ang)
    c, s = math.cos(theta), math.sin(theta)
    xr = c * xs - s * ys + dx
    yr = s * xs + c * ys + dy
    assert ring_area(xr, yr) == pytest.approx(ring_area(xs, ys), rel=1e-9)
    assert ring_perimeter(xr, yr) == pytest.approx(
        ring_perimeter(xs, ys), rel=1e-9)
    assert polar_moment(xr, yr) == pytest.approx(
        polar_moment(xs, ys), rel=1e-7, abs=1e-9)
    r1, r2 = reflex_ratio(xs, ys), reflex_ratio(xr, yr)
    assert 0.0 <= r1 < 1.0
    assert r1 == pytest.approx(r2)
    # reversal (CW ring) changes nothing after canonicalization
    assert polar_moment(xs[::-1], ys[::-1]) == pytest.approx(
        polar_moment(xs, ys), rel=1e-9)
    assert reflex_ratio(xs[::-1], ys[::-1]) == pytest.approx(r1)


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 2**31 - 1), st.integers(5, 60))
def test_significance_invariants(seed, m):
    rng = np.random.default_rng(seed)
    k = 99
    sims = rng.normal(size=(m, k))
    obs = rng.normal(size=m)
    ps = {alt: permutation_significance(obs, sims, alt)
          for alt in ["two-sided", "lesser", "greater", "directed", "folded"]}
    for alt, p in ps.items():
        assert ((p > 0) & (p <= 1)).all(), alt
    np.testing.assert_allclose(
        ps["lesser"] + ps["greater"], 1 + 1 / (k + 1), rtol=1e-12)
    assert (ps["directed"] <= ps["two-sided"] + 1e-12).all()


@settings(max_examples=8, deadline=None)
@given(st.integers(0, 2**31 - 1))
def test_crand_partition_split_invariance(seed):
    """p-values must not depend on how sites are split across Spark
    partitions: computing each half separately equals the whole."""
    rng = np.random.default_rng(seed)
    n, k, card, m = 400, 99, 6, 60
    z = rng.normal(size=n)
    P = vec_permutations(card, n, k, 12345)
    ids = np.sort(rng.choice(n, m, replace=False))
    cards = np.full(m, card)
    flat_w = rng.random(m * card)
    obs = rng.normal(size=m)
    selfw = np.zeros(m)
    kw = dict(stat_func="moran_local", scaling=1.0, island_weight=0.0,
              alternative="directed", keep=False, permutations=k)
    p_all, _, e_all, v_all = crand_partition(
        ids, obs, selfw, cards, flat_w, z, P, **kw)
    half, cut = m // 2, m // 2 * card
    p_a, _, e_a, _ = crand_partition(
        ids[:half], obs[:half], selfw[:half], cards[:half], flat_w[:cut],
        z, P, **kw)
    p_b, _, e_b, _ = crand_partition(
        ids[half:], obs[half:], selfw[half:], cards[half:], flat_w[cut:],
        z, P, **kw)
    np.testing.assert_allclose(p_all, np.concatenate([p_a, p_b]), rtol=1e-12)
    np.testing.assert_allclose(e_all, np.concatenate([e_a, e_b]), rtol=1e-9)
