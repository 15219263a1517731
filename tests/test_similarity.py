"""Kernel tests: vectorized Jaro-Winkler vs scalar reference; MinHash."""

import numpy as np
import pytest

from takco_spark.functions.similarity import (
    _band_keys,
    _minhash_matrix,
    jaro_winkler_np,
    jaro_winkler_py,
    make_lsh_band_udf,
    minhash_params,
)


KNOWN_JW = [
    # classic textbook values
    ("MARTHA", "MARHTA", 0.9611111111111111),
    ("DIXON", "DICKSONX", 0.8133333333333332),
    ("JELLYFISH", "SMELLYFISH", 0.8962962962962964),
    ("", "", 1.0),
    ("abc", "", 0.0),
    ("same", "same", 1.0),
]


@pytest.mark.parametrize("s1,s2,expected", KNOWN_JW)
def test_jw_known_values(s1, s2, expected):
    got = jaro_winkler_np([s1], [s2])[0]
    assert got == pytest.approx(expected, abs=1e-9)
    assert jaro_winkler_py(s1, s2) == pytest.approx(expected, abs=1e-9)


def test_jw_vectorized_matches_scalar_fuzz():
    rng = np.random.RandomState(7)
    alpha = list("abcdefgh ")
    s1s, s2s = [], []
    for _ in range(500):
        n1, n2 = rng.randint(0, 12), rng.randint(0, 12)
        s1s.append("".join(rng.choice(alpha, n1)))
        s2s.append("".join(rng.choice(alpha, n2)))
    vec = jaro_winkler_np(s1s, s2s)
    for a, b, v in zip(s1s, s2s, vec):
        assert v == pytest.approx(jaro_winkler_py(a, b), abs=1e-9), (a, b)


def test_jw_udf_is_deterministic():
    """The public UDF is pure and declared so: scoring builds its own
    non-deterministic copy (pinned in test_plans) rather than changing it."""
    import takco_spark.operators.scoring  # noqa: F401 — must not flip it
    from takco_spark.functions.similarity import jaro_winkler_udf

    assert jaro_winkler_udf.deterministic is True


def test_jw_symmetry_and_bounds():
    rng = np.random.RandomState(3)
    alpha = list("abcxyz")
    s1s = ["".join(rng.choice(alpha, rng.randint(1, 10))) for _ in range(200)]
    s2s = ["".join(rng.choice(alpha, rng.randint(1, 10))) for _ in range(200)]
    f = jaro_winkler_np(s1s, s2s)
    b = jaro_winkler_np(s2s, s1s)
    assert np.allclose(f, b)
    assert (f >= 0).all() and (f <= 1).all()


def test_minhash_deterministic_and_jaccard_estimate():
    a, b = minhash_params(128, seed=42)
    a2, b2 = minhash_params(128, seed=42)
    assert (a == a2).all() and (b == b2).all()

    rng = np.random.RandomState(0)
    base = rng.randint(0, 2**63 - 1, size=100, dtype=np.int64).astype(np.uint64)
    # two sets with true Jaccard 60/140 ≈ 0.43 — estimate within ±0.15
    s1 = base[:80]
    s2 = np.concatenate([base[20:80], base[80:].repeat(1)])
    hashes = np.concatenate([s1, s2])
    offsets = np.array([0, len(s1)])
    sigs = _minhash_matrix(hashes, offsets, a, b)
    est = (sigs[0] == sigs[1]).mean()
    inter = len(np.intersect1d(s1, s2))
    union = len(np.union1d(s1, s2))
    true_j = inter / union
    assert abs(est - true_j) < 0.15

    keys = _band_keys(sigs, bands=32)
    assert keys.shape == (2, 32)
    # identical sets → identical band keys
    sigs_same = _minhash_matrix(np.concatenate([s1, s1]), offsets, a, b)
    k2 = _band_keys(sigs_same, bands=32)
    assert (k2[0] == k2[1]).all()


def test_minhash_identical_sets_full_match():
    a, b = minhash_params(64, seed=1)
    h = np.arange(50, dtype=np.uint64) * np.uint64(2654435761)
    sigs = _minhash_matrix(np.concatenate([h, h]), np.array([0, 50]), a, b)
    assert (sigs[0] == sigs[1]).all()


def test_lsh_bands_must_divide_num_perm():
    """An uneven band split fails when the UDF is built, not inside a Python
    worker's reshape."""
    with pytest.raises(ValueError, match="lsh_bands=32 must divide num_perm=100"):
        make_lsh_band_udf(100, 32, seed=1)
