"""Z-order clustering + data skipping (operators/zorder.py): Morton
code correctness vs a Python reference, skip-correctness (pruned scan
== full scan), and pruning power on both clustered dimensions."""

import os

import pytest
from pyspark.sql import functions as F

from starryskyqueryengine_spark.operators.zorder import (
    MANIFEST,
    read_with_skipping,
    write_zordered,
    zvalue_expr,
)

SF_DIR = "/root/testdata/sf0.001"


def _morton_ref(vals, bits):
    z = 0
    n = len(vals)
    for j, v in enumerate(vals):
        for i in range(bits):
            z |= ((v >> i) & 1) << (i * n + j)
    return z


def test_zvalue_expr_matches_python_reference(spark):
    rows = [(a, b) for a in [0, 1, 5, 255, 65535] for b in [0, 2, 7, 1000, 65535]]
    df = spark.createDataFrame(rows, "a int, b int")
    out = df.select(
        "a", "b", zvalue_expr([F.col("a"), F.col("b")], bits=16).alias("z")
    ).collect()
    for r in out:
        assert r["z"] == _morton_ref([r["a"], r["b"]], 16), (r["a"], r["b"])


@pytest.fixture(scope="module")
def zlayout(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("zorder") / "lineitem_z")
    l = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    manifest = write_zordered(l, path, ["l_partkey", "l_orderkey"], n_files=8)
    return path, manifest, l


def test_zorder_writes_manifest_and_all_rows(spark, zlayout):
    path, manifest, l = zlayout
    assert os.path.exists(os.path.join(path, MANIFEST))
    assert sum(st["rows"] for st in manifest["files"].values()) == l.count()
    assert spark.read.parquet(path).count() == l.count()


def test_skipping_is_invisible_to_results(spark, zlayout):
    path, _manifest, l = zlayout
    box = {"l_partkey": (50, 120), "l_orderkey": (100, 900)}
    pred = F.col("l_partkey").between(50, 120) & F.col("l_orderkey").between(100, 900)
    df, n_read, n_total = read_with_skipping(spark, path, box)
    got = sorted(tuple(r) for r in df.filter(pred).collect())
    want = sorted(tuple(r) for r in l.filter(pred).collect())
    assert got == want
    assert 0 < n_read < n_total, f"expected real pruning, read {n_read}/{n_total}"


def test_skipping_prunes_on_second_dimension(spark, zlayout):
    """The clustered layout must prune for a predicate on the SECOND
    z-order column alone — the property a linear sort cannot give."""
    path, _manifest, l = zlayout
    rng = {"l_orderkey": (100, 400)}
    df, n_read, n_total = read_with_skipping(spark, path, rng)
    assert n_read < n_total
    pred = F.col("l_orderkey").between(100, 400)
    assert df.filter(pred).count() == l.filter(pred).count()


def test_skipping_empty_box_reads_zero_files(spark, zlayout):
    path, _manifest, _l = zlayout
    df, n_read, _ = read_with_skipping(
        spark, path, {"l_partkey": (10**9, 2 * 10**9)}
    )
    assert n_read == 0
    assert df.count() == 0


def test_unbounded_sides_and_none_ranges(spark, zlayout):
    path, _manifest, l = zlayout
    df, n_read, n_total = read_with_skipping(spark, path, {"l_partkey": (None, 30)})
    pred = F.col("l_partkey") <= 30
    assert df.filter(pred).count() == l.filter(pred).count()
    assert n_read <= n_total


def test_zorder_cache_refuses_foreign_owned_dir(monkeypatch, tmp_path):
    """zorder_skipping_scan's layout cache goes through the shared
    ownership gate: a directory at the predictable per-uid path that
    another uid owns is refused at path computation, and one planted
    after that is refused where MANIFEST is trusted — never served as
    lineitem data."""
    import tempfile

    import starryskyqueryengine_spark.catalog_analytics as ca
    from starryskyqueryengine_spark.sources.fixtures import artifact_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    path = artifact_dir("zorder", SF_DIR, "lineitem")
    os.makedirs(path)
    with open(os.path.join(path, MANIFEST), "w") as f:
        f.write("{}")
    real_stat = os.stat

    class _ForeignStat:
        def __init__(self, st):
            self._st = st
            self.st_uid = os.getuid() + 1

        def __getattr__(self, k):
            return getattr(self._st, k)

    monkeypatch.setattr(
        os, "stat",
        lambda p, *a, **k: _ForeignStat(real_stat(p, *a, **k))
        if str(p) == path else real_stat(p, *a, **k),
    )
    with pytest.raises(PermissionError, match="refusing"):
        ca.zorder_skipping_scan(None, SF_DIR)
    # planted after the path check ran: the MANIFEST trust point refuses it
    monkeypatch.setattr(ca, "artifact_dir", lambda *a: path)
    with pytest.raises(PermissionError, match="refusing"):
        ca.zorder_skipping_scan(None, SF_DIR)


def test_artifact_dir_removes_older_fingerprints(monkeypatch, tmp_path):
    """A regenerated fixture resolves to a new directory, and the
    directory of its older fingerprint is removed; artifacts of another
    table stay."""
    import tempfile

    from starryskyqueryengine_spark.sources.fixtures import artifact_dir

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "tmp"))
    os.makedirs(tempfile.tempdir)
    sf = tmp_path / "sf"
    sf.mkdir()
    (sf / "lineitem.parquet").write_bytes(b"v1")
    (sf / "orders.parquet").write_bytes(b"v1")
    old = artifact_dir("zorder", str(sf), "lineitem")
    other = artifact_dir("zorder", str(sf), "orders")
    os.makedirs(old)
    os.makedirs(other)
    assert artifact_dir("zorder", str(sf), "lineitem") == old  # same fingerprint
    assert os.path.isdir(old)
    (sf / "lineitem.parquet").write_bytes(b"v2, regenerated")
    new = artifact_dir("zorder", str(sf), "lineitem")
    assert new != old and not os.path.exists(old)
    assert os.path.isdir(other)


def test_manifest_builds_in_one_scan_not_per_file(spark, tmp_path):
    """The stats pass must be ONE groupBy(input_file_name()) job — a
    read.parquet(file) loop per written file is a driver-side job storm
    at 100k files."""
    import starryskyqueryengine_spark.operators.zorder as z

    df = spark.range(2000).selectExpr("id", "id % 37 AS a", "id % 53 AS b")
    reads = []
    real_reader = type(spark.read).parquet

    def counting_parquet(self, *paths):
        reads.append(paths)
        return real_reader(self, *paths)

    import unittest.mock as mock

    with mock.patch.object(type(spark.read), "parquet", counting_parquet):
        manifest = z.write_zordered(df, str(tmp_path / "zt"), ["a", "b"], n_files=8)
    # exactly one directory-level read for stats — never one per file
    assert len(reads) == 1, reads
    assert sum(st["rows"] for st in manifest["files"].values()) == 2000


def test_zvalue_rejects_overflow_and_write_autofits(spark, tmp_path):
    """More than 63 interleaved bits would silently wrap (shiftleft
    masks mod 64) — zvalue_expr refuses; write_zordered auto-fits the
    per-column budget instead, and an all-NULL cluster column degrades
    to the constant-rank path rather than a float(None) TypeError."""
    import pytest as _pytest

    import starryskyqueryengine_spark.operators.zorder as z

    with _pytest.raises(ValueError, match="63"):
        z.zvalue_expr([F.col("a"), F.col("b"), F.col("c"), F.col("d")], bits=16)

    df = spark.range(100).selectExpr(
        "id", "id % 7 AS a", "id % 11 AS b", "id % 13 AS c",
        "CAST(NULL AS INT) AS d",
    )
    manifest = z.write_zordered(
        df, str(tmp_path / "z4"), ["a", "b", "c", "d"], n_files=4, bits=16
    )
    assert manifest["bits"] == 63 // 4  # auto-fitted
    assert sum(st["rows"] for st in manifest["files"].values()) == 100
    got, _kept, _total = z.read_with_skipping(
        spark, str(tmp_path / "z4"), {"a": (2, 3)}
    )
    assert got.filter("a >= 2 AND a <= 3").count() == df.filter(
        "a >= 2 AND a <= 3"
    ).count()


def test_decimal_cluster_column_stats_prune_correctly(spark, tmp_path):
    """Review r9: Decimal min/max used to be stringified into the
    manifest (json default=str) and then compared LEXICOGRAPHICALLY —
    str(100) < '20.0', so files containing matching rows were silently
    pruned.  Stats now canonicalize to outward-rounded floats; the
    pruned read must equal the full read on a DECIMAL cluster column."""
    path = str(tmp_path / "zdec")
    df = spark.range(0, 400).select(
        (F.col("id") % 200).cast("decimal(10,2)").alias("p"),
        F.col("id").alias("k"),
    )
    write_zordered(df, path, ["p", "k"], n_files=8)
    got, n_read, n_total = read_with_skipping(spark, path, {"p": (None, 100)})
    want = df.filter(F.col("p") <= 100)
    assert got.filter(F.col("p") <= 100).count() == want.count()
    assert n_read < n_total  # and it still actually prunes


def test_timestamp_cluster_column_works_and_prunes(spark, tmp_path):
    """Review r9: the canonical time x key layout crashed on
    float(datetime) in the bounds pass; timestamps now scale via their
    epoch-seconds cast and their manifest stats compare as strings
    (order-correct for the fixed layout)."""
    path = str(tmp_path / "zts")
    df = spark.range(0, 400).select(
        F.timestamp_seconds(1700000000 + F.col("id") * 60).alias("ts"),
        (F.col("id") % 50).alias("k"),
    )
    write_zordered(df, path, ["ts", "k"], n_files=8)
    import datetime as dt

    cut = dt.datetime(2023, 11, 14, 23, 40)  # ~1/3 through the range
    got, n_read, n_total = read_with_skipping(spark, path, {"ts": (None, cut)})
    want = df.filter(F.col("ts") <= F.lit(cut)).count()
    assert got.filter(F.col("ts") <= F.lit(cut)).count() == want
    assert n_read < n_total


def test_string_cluster_column_rejected_loudly(spark):
    """A string cluster column has no rank scaling — NULL ranks would
    silently degrade clustering to noise; refuse instead."""
    df = spark.range(5).select(F.col("id").cast("string").alias("s"), "id")
    with pytest.raises(ValueError, match="cannot cluster"):
        write_zordered(df, "/tmp/never-written", ["s", "id"])


def test_interval_cluster_column_rejected_loudly(spark):
    """Review r10 (ADVICE): startswith('int') also matched interval
    dtypes, routing an interval cluster column to cast('double') and a
    confusing downstream analysis error instead of the explicit
    cannot-cluster refusal; dtype base tokens now match exactly."""
    df = spark.range(5).select(
        (F.col("id").cast("timestamp") - F.lit("2024-01-01").cast("timestamp")
         ).alias("iv"),
        "id",
    )
    assert df.schema["iv"].dataType.simpleString().startswith("interval")
    with pytest.raises(ValueError, match="cannot cluster"):
        write_zordered(df, "/tmp/never-written", ["iv", "id"])


def test_date_bound_against_timestamp_stats_never_prunes_midnight(
    spark, tmp_path
):
    """Review r13: a bare DATE bound against stringified TIMESTAMP stats
    compared '2024-01-01' < '2024-01-01 00:00:00' lexicographically, so
    a file whose min is exactly midnight was pruned even though Spark's
    date->timestamp cast makes that row match.  _pad_date normalizes the
    layouts, so skipping stays a pure optimization."""
    import datetime as dt

    path = str(tmp_path / "zdt")
    # one day per 24 rows, values exactly ON midnight included
    df = spark.range(0, 240).select(
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("id") * 3600  # 2024-01-01T00:00Z +1h
        ).alias("ts"),
        (F.col("id") % 10).alias("k"),
    )
    write_zordered(df, path, ["ts", "k"], n_files=8)

    # hi bound = a date: Spark casts it to midnight; a file whose min is
    # EXACTLY that midnight was pruned by the unpadded compare
    # ('2024-01-06' < '2024-01-06 00:00:00'), silently dropping the
    # midnight row from the pruned read
    cut = dt.date(2024, 1, 6)
    got, n_read, n_total = read_with_skipping(spark, path, {"ts": (None, cut)})
    want = df.filter(F.col("ts") <= F.lit(cut)).count()
    assert got.filter(F.col("ts") <= F.lit(cut)).count() == want
    # the midnight row itself is present in the surviving files
    midnight = dt.datetime(2024, 1, 6, 0, 0)
    assert got.filter(F.col("ts") == F.lit(midnight)).count() == 1
    assert n_read < n_total  # still prunes


def test_interval_count_join_rejects_nonpositive_width(spark):
    """Review r13: SQL `div 0` is null — width_us == 0 used to bucket
    every row to null and silently return all-zero counts."""
    from starryskyqueryengine_spark.operators.rangejoin import (
        interval_count_join,
    )

    probe = spark.range(3).select(F.col("id").alias("ts"))
    build = spark.range(3).select(F.col("id").alias("bts"))
    for w in (0, -5):
        with pytest.raises(ValueError, match="positive"):
            interval_count_join(probe, build, "ts", "bts", w)


def test_manifest_records_column_kinds(spark, tmp_path, zlayout):
    """ADVICE r13: the manifest records each cluster column's kind so
    the read path applies the date-layout normalization only to
    temporal columns."""
    _path, manifest, _l = zlayout
    assert manifest["kinds"] == {
        "l_partkey": "numeric", "l_orderkey": "numeric"
    }
    df = spark.range(0, 48).select(
        F.timestamp_seconds(1704067200 + F.col("id") * 3600).alias("ts"),
        (F.col("id") % 7).alias("k"),
    )
    m2 = write_zordered(df, str(tmp_path / "zk"), ["ts", "k"], n_files=2)
    assert m2["kinds"] == {"ts": "temporal", "k": "numeric"}


def test_string_kind_stats_are_not_date_padded():
    """ADVICE r13 failure scenario: a genuine STRING column whose values
    merely look like bare dates must not get the midnight padding — a
    value with a control character (< 0x20) after the date prefix sorts
    BETWEEN the bare date and its padded form, so padding the file min
    would prune a file that contains the queried row."""
    from starryskyqueryengine_spark.operators.zorder import select_files

    probe = "2024-01-01\x01"  # sorts after '2024-01-01', before '2024-01-01 …'
    manifest = {
        "cols": ["s"],
        "bits": 16,
        "kinds": {"s": "string"},
        "files": {"f1.parquet": {"rows": 2, "s": ["2024-01-01", probe]}},
    }
    # exact-match probe for the control-char value: the file contains it
    assert select_files(manifest, {"s": (probe, probe)}) == ["f1.parquet"]
    # the same stats under a temporal kind WOULD prune (documents why
    # the kind gate exists: padding is only sound for temporal layouts)
    manifest["kinds"]["s"] = "temporal"
    assert select_files(manifest, {"s": (probe, probe)}) == []


def test_legacy_manifest_without_kinds_still_pads_dates():
    """Manifests written before the 'kinds' key could only contain
    numeric or temporal cluster columns (write_zordered refuses
    strings), so the pad-always fallback stays correct for them: a
    bare-date file min against a midnight-timestamp bound must NOT
    prune."""
    from starryskyqueryengine_spark.operators.zorder import select_files

    manifest = {
        "cols": ["d"],
        "bits": 16,
        "files": {"f1.parquet": {"rows": 1, "d": ["2024-01-06", "2024-01-09"]}},
    }
    # hi bound rendered as a midnight timestamp: without padding,
    # '2024-01-06 00:00:00' < '2024-01-06' lexicographically would prune
    assert select_files(
        manifest, {"d": (None, "2024-01-06 00:00:00")}
    ) == ["f1.parquet"]


# ---------------------------------------------------------------------------
# Hypothesis property suite #9 (r14, verdict ask #5): skipping must be a
# PURE optimization for any mix of date / timestamp / decimal bounds —
# a file containing a matching row is never pruned.  The layout is
# written once with Spark; each Hypothesis example then exercises the
# pure pruning decision (select_files) against a Python oracle over the
# per-file rows collected once, so hundreds of bound combinations cost
# no Spark jobs.
# ---------------------------------------------------------------------------

import datetime as _dt  # noqa: E402

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@pytest.fixture(scope="module")
def zprop_layout(spark, tmp_path_factory):
    from starryskyqueryengine_spark.operators.zorder import MANIFEST as _M

    path = str(tmp_path_factory.mktemp("zprop") / "mixed_z")
    df = spark.range(0, 500).select(
        F.timestamp_seconds(
            F.lit(1704067200) + F.col("id") * 1800  # 2024-01-01T00Z + 30min
        ).alias("ts"),
        F.date_add(F.lit("2024-01-01").cast("date"),
                   (F.col("id") % 60).cast("int")).alias("d"),
        ((F.col("id") % 97).cast("decimal(10, 2)") / 4).alias("p"),
    )
    manifest = write_zordered(df, path, ["ts", "d", "p"], n_files=8)
    rows = (
        spark.read.parquet(path)
        .select(F.input_file_name().alias("f"), "ts", "d", "p")
        .collect()
    )
    per_file = {}
    for r in rows:
        fn = os.path.basename(r["f"].split("?", 1)[0])
        per_file.setdefault(fn, []).append((r["ts"], r["d"], float(r["p"])))
    assert set(per_file) == set(manifest["files"])
    return manifest, per_file


def _as_dt(v):
    """Mirror Spark's date->timestamp cast: a bare date means midnight."""
    if isinstance(v, _dt.datetime):
        return v
    if isinstance(v, _dt.date):
        return _dt.datetime(v.year, v.month, v.day)
    return v


_temporal_bound = st.one_of(
    st.none(),
    st.dates(_dt.date(2023, 12, 20), _dt.date(2024, 3, 15)),
    st.datetimes(
        _dt.datetime(2023, 12, 20), _dt.datetime(2024, 3, 15)
    ).map(lambda t: t.replace(microsecond=0)),
)
_numeric_bound = st.one_of(
    st.none(),
    st.integers(-5, 30),
    st.floats(min_value=-5, max_value=30,
              allow_nan=False, allow_infinity=False),
)


@settings(max_examples=300, deadline=None)
@given(
    ts_lo=_temporal_bound, ts_hi=_temporal_bound,
    d_lo=_temporal_bound, d_hi=_temporal_bound,
    p_lo=_numeric_bound, p_hi=_numeric_bound,
    use=st.sets(st.sampled_from(["ts", "d", "p"]), min_size=1),
)
def test_skipping_never_prunes_a_matching_row(
    zprop_layout, ts_lo, ts_hi, d_lo, d_hi, p_lo, p_hi, use
):
    from starryskyqueryengine_spark.operators.zorder import select_files

    manifest, per_file = zprop_layout
    all_ranges = {"ts": (ts_lo, ts_hi), "d": (d_lo, d_hi), "p": (p_lo, p_hi)}
    ranges = {c: all_ranges[c] for c in sorted(use)}
    kept = set(select_files(manifest, ranges))

    def _match(ts, d, p):
        vals = {"ts": _as_dt(ts), "d": _as_dt(d), "p": p}
        for c, (lo, hi) in ranges.items():
            v = vals[c]
            if c in ("ts", "d"):
                lo_c, hi_c = _as_dt(lo), _as_dt(hi)
            else:
                lo_c = None if lo is None else float(lo)
                hi_c = None if hi is None else float(hi)
            if lo_c is not None and v < lo_c:
                return False
            if hi_c is not None and v > hi_c:
                return False
        return True

    for fn, rows in per_file.items():
        if any(_match(*r) for r in rows):
            assert fn in kept, (
                f"file {fn} contains a matching row but was pruned; "
                f"ranges={ranges}"
            )
