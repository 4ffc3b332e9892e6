"""The oracle comparators accept a 1-ulp-at-6-decimals band on floats
(JVM Math.log vs DuckDB libm can flip ROUND(x, 6)'s last digit when the
raw double straddles a 0.5e-6 boundary) and nothing wider."""

from tools.compare import tolerant_rows_equal


def test_strict_equal_fast_path():
    rows = [("a", "1.5"), ("b", "2.5")]
    assert tolerant_rows_equal(rows, list(rows))


def test_one_rounding_step_at_6_decimals_is_forgiven():
    # ln(x) rounded to 6 decimals lands one step apart across libms
    a = [("k1", "0.287682"), ("k2", "7.154615")]
    b = [("k1", "0.287681"), ("k2", "7.154616")]
    assert tolerant_rows_equal(a, b)


def test_two_steps_or_nonfloat_differences_still_fail():
    assert not tolerant_rows_equal([("k", "0.287682")], [("k", "0.287684")])
    assert not tolerant_rows_equal([("k", "foo")], [("k", "bar")])
    assert not tolerant_rows_equal([("k", "1")], [("k", "1"), ("k", "1")])
    # NaN never sneaks through the float band
    assert not tolerant_rows_equal([("k", "nan")], [("k", "0.0")])


def test_boundary_straddling_synthetic_value():
    # a value within 1 ulp of the .5e-6 rounding boundary: the two sides
    # round to adjacent 6-decimal values — must compare equal
    import math

    x = 2.0000005  # exactly on the boundary region
    lo = math.nextafter(x, 0.0)
    a = [(f"{round(lo, 6):.9g}",)]
    b = [(f"{round(x, 6):.9g}",)]
    assert tolerant_rows_equal(a, b)


def test_numeric_alignment_across_sign_and_exponent_renderings():
    """r12: the property suite's shrunk counterexample, pinned.  String
    sort puts '-1.40129846e-45' before '-1.402' (numeric order is the
    reverse) and pairs '0' with neither, so the realignment fallback
    misaligned a within-tolerance pair; the numeric-aware key fixes the
    pairing without widening equality."""
    a = [("-1.402",), ("0",)]
    b = [("-1.40129846e-45",), ("-1.402",)]
    assert tolerant_rows_equal(a, b)
    # and the aligned pairs still obey the strict band
    assert not tolerant_rows_equal([("-1.402",), ("0",)],
                                   [("-1.402",), ("1e-05",)])


def test_binary_values_normalize_to_common_hex():
    """Review r11: Spark collect() yields bytearray for BinaryType while
    DuckDB yields bytes for BLOB — their str() forms differ
    ("bytearray(b'x')" vs "b'x'"), so a binary output column would fail
    the gate spuriously. Both normalize to the same hex form."""
    from tools.compare import normalize

    s_vals, s_cols = normalize([(bytearray(b"\x01ab"),)], ["payload"])
    d_vals, d_cols = normalize([(b"\x01ab",)], ["payload"])
    assert s_cols == d_cols == ["payload"]
    assert s_vals == d_vals == [("0x016162",)]


def test_full_gate_tolerance_band_check():
    """The gate's estimate-band check (r11): per-key
    |estimate - exact| <= rel_tol * exact; key-set mismatch or an
    out-of-band estimate fails with a specific reason."""
    from tools.full_gate import TOLERANCE_CHECKS, tolerance_check

    spec = {
        "key_cols": ["k"],
        "est_col": "est",
        "exact_col": "exact",
        "rel_tol": 0.06,
    }
    exact = [("a", 100), ("b", 1000)]
    ok, err = tolerance_check(
        [("a", 104), ("b", 951)], ["k", "est"], exact, ["k", "exact"], spec
    )
    assert ok and err is None
    # estimate outside the band -> specific failure
    ok, err = tolerance_check(
        [("a", 107), ("b", 1000)], ["k", "est"], exact, ["k", "exact"], spec
    )
    assert not ok and "outside" in err
    # key sets must agree exactly
    ok, err = tolerance_check(
        [("a", 100), ("c", 5)], ["k", "est"], exact, ["k", "exact"], spec
    )
    assert not ok and "key sets differ" in err
    # column order independence: est col located by name
    ok, err = tolerance_check(
        [(104, "a"), (951, "b")], ["est", "k"], exact, ["k", "exact"], spec
    )
    assert ok
    # exact col located by NAME too (r12 advice: was positional r[-1],
    # which would silently compare the wrong column if exact_sql ever
    # reordered its projection)
    exact_reordered = [(100, "a"), (1000, "b")]
    ok, err = tolerance_check(
        [("a", 104), ("b", 951)],
        ["k", "est"],
        exact_reordered,
        ["exact", "k"],
        spec,
    )
    assert ok and err is None
    # the registered spec stays wired to the one no-hash-oracle query
    assert set(TOLERANCE_CHECKS) == {"sketch_distinct_users"}
    assert all("exact_col" in s for s in TOLERANCE_CHECKS.values())


def test_gate_check_applies_tolerance_band_to_sketch_query(spark):
    """A subset check of the estimate-valued query goes through the same
    per-query check as the full gate: a tolerance-band verdict against
    the exact distinct count, not "no-oracle"."""
    from tests.conftest import SF_SMALL
    from tools.full_gate import check, open_oracle

    rec = check(spark, open_oracle(SF_SMALL), SF_SMALL, "sketch_distinct_users")
    assert rec["check"].startswith("tolerance-band"), rec
    assert rec["values_match"] is True and rec["err"] is None, rec
