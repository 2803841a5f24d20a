"""Unit tests for the scalar function library (SURVEY.md §2.6)."""

import math

from table_annotation_spark.functions import similarity as sim
from table_annotation_spark.functions import typing_fns as tf


class TestSimilarity:
    def test_ratio_identity(self):
        assert sim.ratio("pulp fiction", "pulp fiction") == 1.0
        assert sim.ratio("", "") == 1.0

    def test_ratio_disjoint(self):
        assert sim.ratio("abc", "xyz") == 0.0

    def test_ratio_known_value(self):
        # indel: len 4+4=8, LCS("abcd","abce")=3 → (8-2)/8 = 0.75
        assert math.isclose(sim.ratio("abcd", "abce"), 0.75)

    def test_token_sort(self):
        assert sim.token_sort_ratio("new york mets", "mets new york") == 1.0

    def test_token_set_subset(self):
        assert sim.token_set_ratio("fuzzy wuzzy", "fuzzy wuzzy was a bear") == 1.0

    def test_partial(self):
        assert sim.partial_ratio("apple", "big apple pie") == 1.0

    def test_textual_similarity_symmetric(self):
        a = sim.textual_similarity("Pulp Fiction", "pulp fiction")
        assert a == 1.0
        assert sim.textual_similarity("abc", "abd") == sim.textual_similarity(
            "abd", "abc"
        )

    def test_mixed_fuzzy_exact(self):
        assert math.isclose(sim.mixed_fuzzy_score("Paris", "Paris"), 1.0)

    def test_mixed_fuzzy_case_weighting(self):
        # lower match perfect, raw differs → 0.9*1 + 0.1*ratio(raw)
        s = sim.mixed_fuzzy_score("PARIS", "Paris")
        assert 0.9 < s < 1.0


class TestTyping:
    def test_cardinal(self):
        assert tf.regex_typing("1,234.5") == "CARDINAL"
        assert tf.regex_typing("42") == "CARDINAL"

    def test_year_is_date(self):
        assert tf.regex_typing("1994") == "DATE"
        assert tf.regex_typing("999") == "CARDINAL"

    def test_percent(self):
        assert tf.regex_typing("85%") == "PERCENT"

    def test_range(self):
        assert tf.regex_typing("10-20") == "RANGE"

    def test_ip(self):
        assert tf.regex_typing("192.168.0.1") == "IP ADDRESS"

    def test_boolean(self):
        assert tf.regex_typing("true") == "BOOLEAN"

    def test_dates(self):
        assert tf.regex_typing("1994-10-14") == "DATE"
        assert tf.regex_typing("14/10/1994") == "DATE"

    def test_unit(self):
        assert tf.unit_typing("5 km") == "DISTANCE"
        assert tf.unit_typing("2 m/s") == "SPEED"
        assert tf.unit_typing("$3,000") == "MONEY"

    def test_type_cell_skips(self):
        assert tf.type_cell("") == ""
        assert tf.type_cell("-") == ""
        assert tf.type_cell("a") == ""
        assert tf.type_cell("x" * 80) == "UNKNOWN"

    def test_type_cell_concept_fallback(self):
        assert tf.type_cell("Pulp Fiction") == "UNKNOWN"

    def test_string_type(self):
        assert tf.get_string_type("NASA") == "String_Uppercase"
        assert tf.get_string_type("A380") == "String_Number"
        assert tf.get_string_type("Paris") == "String_Normal"

    def test_float_parse(self):
        assert tf.float_parse("1,234.5") == 1234.5
        assert tf.float_parse("abc") is None

    def test_quantity_sim(self):
        assert tf.dimensionless_quantity_similarity(5.0, 5.0) > 0.999

    def test_standardize(self):
        v, d = tf.standardize_to_base_unit("5 km")
        assert v == 5000.0 and d == "DISTANCE"
        v, d = tf.standardize_to_base_unit("2 m/s")
        assert math.isclose(v, 2.0) and d == "SPEED"

    def test_dates_parse(self):
        assert tf.date_similarity("1994-10-14", "14 October 1994")
        assert tf.get_year("1994-10-14") == "1994"
        # dateutil's two failure modes: ParserError (a ValueError) on text,
        # OverflowError on an out-of-range integer
        for bad in ("not a date", "99999999999999999999"):
            assert tf.parse_date(bad) is None
            assert tf.date_similarity(bad, "1994-10-14") is False

    def test_normalize_label(self):
        assert tf.normalize_label('  "Pulp   Fiction" ') == "pulp fiction"

    def test_rank(self):
        assert tf.map_rank("PREFERRED") == 2
        assert tf.map_rank("NORMAL") == 1
        assert tf.map_rank("DEPRECATED") == 0


class TestBitParallelKernel:
    """The bit-parallel LCS core and the fused lookup kernel are pinned
    against the reference row DP / the unfused score pair (hypothesis)."""

    def test_lcs_matches_ref_dp(self):
        from hypothesis import given, settings, strategies as st

        @settings(max_examples=500, deadline=None)
        @given(
            st.text(alphabet="abcde #1", max_size=40),
            st.text(alphabet="abcde #1", max_size=40),
        )
        def check(a, b):
            assert sim._indel_distance(a, b) == sim._indel_distance_refdp(a, b)

        check()

    def test_partial_ratio_matches_naive(self):
        from hypothesis import given, settings, strategies as st

        def naive_partial(a, b):
            if len(a) > len(b):
                a, b = b, a
            la, lb = len(a), len(b)
            if la == 0:
                return 1.0 if lb == 0 else 0.0
            return max(
                sim.ratio(a, b[s : s + la]) for s in range(lb - la + 1)
            )

        @settings(max_examples=300, deadline=None)
        @given(
            st.text(alphabet="abc x", max_size=15),
            st.text(alphabet="abc x", max_size=30),
        )
        def check(a, b):
            assert math.isclose(sim.partial_ratio(a, b), naive_partial(a, b))

        check()

    def test_lookup_fused_matches_unfused(self):
        """For every pair: either the fused kernel returns the EXACT
        (mixed_fuzzy_score, is_partial_exact) pair, or it returns a sound
        upper bound below the survival floor with the true pair also
        non-surviving (fuzzy < floor and not pexact) — the two behaviors the
        downstream adaptive-threshold filter cannot distinguish."""
        from hypothesis import given, settings, strategies as st

        words = st.lists(
            st.text(alphabet="abcdef12", min_size=1, max_size=8),
            min_size=1,
            max_size=4,
        ).map(" ".join)

        @settings(max_examples=500, deadline=None)
        @given(words, words)
        def check(m, l):
            fuzzy, pex = sim.lookup_fuzzy_pexact(m, l)
            true_fuzzy = sim.mixed_fuzzy_score(m, l)
            true_pex = sim.is_partial_exact(m, l)
            if pex or fuzzy >= lkmod.MIN_FUZZY:
                assert math.isclose(fuzzy, true_fuzzy), (m, l)
                assert pex == true_pex, (m, l)
            else:
                # pruned: must be a true non-survivor, and the returned
                # bound must itself sit below the floor
                assert fuzzy < lkmod.MIN_FUZZY
                assert true_fuzzy < lkmod.MIN_FUZZY, (m, l, true_fuzzy)
                assert not true_pex, (m, l)

        from table_annotation_spark.operators import lookup as lkmod

        check()

    def test_batch_kernel_bit_equal_to_scalar(self):
        """fuzzy_pexact_batch (the NumPy uint64-lane LCS used by the lookup
        UDF) must return BIT-EQUAL (fuzzy, pexact) to the scalar kernel for
        every row — vectorized rows and every fallback class (multi-token,
        >63 chars, non-ASCII, empty, equal, containment/pr_gate shapes)."""
        import random
        import string

        import numpy as np

        rng = random.Random(7)
        alph = string.ascii_lowercase + string.digits + "#-."
        cases = []
        for _ in range(400):
            cases.append((
                f"kustomer#{rng.randint(0, 999999):09d}",
                f"customer#{rng.randint(0, 999999):09d}",
            ))
        for _ in range(400):
            cases.append((
                "".join(rng.choice(alph) for _ in range(rng.randint(1, 70))),
                "".join(rng.choice(alph) for _ in range(rng.randint(1, 70))),
            ))
        for _ in range(300):  # near-identical: pexact branches
            a = "".join(rng.choice(alph) for _ in range(rng.randint(5, 30)))
            b = list(a)
            for _ in range(rng.randint(0, 2)):
                p = rng.randrange(len(b))
                b[p] = rng.choice(alph)
            cases.append((a, "".join(b)))
        for _ in range(200):  # containment: unequal-length pr_gate fallback
            a = "".join(rng.choice(alph) for _ in range(rng.randint(5, 20)))
            b = a + "".join(rng.choice(alph) for _ in range(rng.randint(1, 10)))
            cases.append((a, b) if rng.random() < 0.5 else (b, a))
        for _ in range(200):  # multi-token → scalar fallback
            cases.append((
                " ".join(
                    "".join(rng.choice(alph) for _ in range(rng.randint(1, 8)))
                    for _ in range(rng.randint(1, 4))
                ),
                " ".join(
                    "".join(rng.choice(alph) for _ in range(rng.randint(1, 8)))
                    for _ in range(rng.randint(1, 4))
                ),
            ))
        cases += [("", ""), ("", "abc"), ("abc", ""), ("abc", "abc"),
                  ("café", "cafe"), ("a" * 80, "a" * 79), ("x", "y"),
                  ("a b", "ab"), ("ab", "a b")]

        ms = np.array([c[0] for c in cases], dtype=object)
        ls = np.array([c[1] for c in cases], dtype=object)
        f, p = sim.fuzzy_pexact_batch(ms, ls, 0.70)
        for i, (a, b) in enumerate(cases):
            ef, ep = sim.lookup_fuzzy_pexact(a, b, 0.70)
            assert f[i] == ef and bool(p[i]) == ep, (a, b, f[i], p[i], ef, ep)
