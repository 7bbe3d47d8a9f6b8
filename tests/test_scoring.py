"""Scoring kernel checks against hand-computed values of the reference
formulas (/root/reference/src/create/calculate_score.rs:34-49,
/root/reference/src/search/search_field.rs:27-33)."""

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from veloci_spark.scoring import (
    f16_roundtrip,
    final_score,
    index_score_u32,
    index_score_u64_f64,
    levenshtein_batch,
    term_score,
)


def ref_index_score(pos, occ, ntok, exact):
    # straight transcription of the formula in float64 for sanity checks
    base = 400.0 if exact else 2000.0 / (math.log2(pos + 10.0) + 10.0)
    occ_mod = math.log10(occ + 1000.0) - 2.0
    occ_mod -= (occ_mod - 1.0) * 0.7
    len_mod = math.log10(ntok + 10.0)
    len_mod -= (len_mod - 1.0) * 0.7
    return int(base / occ_mod / len_mod)


def test_exact_text_single_occurrence():
    # base 400, occ=1: occ_mod = log10(1001)-2 = 1.000434; -= .7·.000434 → 1.000130
    # len_mod (ntok=1): log10(11) = 1.041393; -= .7·.041393 → 1.012418
    # 400 / 1.000130 / 1.012418 = 395.04 → trunc 395
    got = int(index_score_u32([0], [1], [1], [True])[0])
    assert got == ref_index_score(0, 1, 1, True) == 395


def test_token_pos0():
    # 2000/(log2(10)+10) = 150.25...
    got = int(index_score_u32([0], [1], [1], [False])[0])
    assert got == ref_index_score(0, 1, 1, False)


@given(
    pos=st.integers(0, 10_000),
    occ=st.integers(1, 10_000_000),
    ntok=st.integers(1, 100_000),
    exact=st.booleans(),
)
@settings(max_examples=300)
def test_f32_f64_trunc_agreement(pos, occ, ntok, exact):
    """f32 and f64 paths agree except at trunc boundaries (tolerance 1)."""
    a = int(index_score_u32([pos], [occ], [ntok], [exact])[0])
    b = int(index_score_u64_f64([pos], [occ], [ntok], [exact])[0])
    assert abs(a - b) <= 1
    assert a >= 1  # reference debug-asserts score != 0


def test_term_score_exact_is_10():
    assert term_score([0], [False])[0] == np.float32(2.0) / np.float32(0.2)


def test_term_score_prefix():
    # d=0 prefix: 2/(log2(1)+0.2) = 10.0 as well
    assert term_score([0], [True])[0] == np.float32(2.0) / np.float32(0.2)
    # d=1 prefix: 2/(1+0.2)
    assert term_score([1], [True])[0] == pytest.approx(2.0 / 1.2, rel=1e-6)
    # d=1 exact formula: 2/1.2 too; d=2: 2/2.2 vs prefix 2/(log2(3)+0.2)
    assert term_score([2], [False])[0] == pytest.approx(2.0 / 2.2, rel=1e-6)


def test_final_score_f16():
    # stored score × term 10.0 → stored/10 (f32)
    got = final_score(np.float32(10.0), [394])[0]
    assert got == np.float32(10.0) * (np.float32(394.0) / np.float32(100.0))


def test_f16_exact_for_small_ints():
    vals = np.arange(0, 2049)
    assert (f16_roundtrip(vals) == vals.astype(np.float32)).all()


def test_levenshtein():
    cases = [("a", "a", 0), ("a", "b", 1), ("", "a", 1), ("aa", "a", 1),
             ("a", "bbb", 3), ("kitten", "sitting", 3), ("karlo", "karl", 1)]
    for s, q, d in cases:
        assert int(levenshtein_batch([s], q, 254)[0]) == d


def test_levenshtein_cap():
    assert int(levenshtein_batch(["abcdef"], "zzzzzz", 1)[0]) == 255


def test_prefix_levenshtein_matches_oracle():
    """Prefix mode (the ``.starts_with()`` automaton): the best prefix's
    distance, equal to pyref's independent DP whenever it is within the
    cap, 255 past it."""
    import random

    from veloci_spark.pyref import _prefix_lev

    rnd = random.Random(5)
    for _ in range(400):
        q = "".join(rnd.choice("abcé") for _ in range(rnd.randint(1, 7)))
        terms = ["".join(rnd.choice("abcdé") for _ in range(rnd.randint(0, 12)))
                 for _ in range(12)]
        for d in range(1, 5):
            got = levenshtein_batch(terms, q, d, prefix=True)
            for t, g in zip(terms, got):
                want = _prefix_lev(t, q)
                assert g == (want if want <= d else 255), (t, q, d)
