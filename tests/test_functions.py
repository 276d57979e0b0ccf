"""Unit + property checks for the quirk expression library (SURVEY.md §5.2-3)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from java_etl_bi_generator_spark.functions.dates import (
    date_key,
    dow_name_ptbr,
    month_name_ptbr,
    parse_date_lenient,
    quarter_label,
)
from java_etl_bi_generator_spark.functions.locale_ptbr import (
    format_ptbr_decimal,
    null_or_empty_default,
    parse_ptbr_decimal,
)
from java_etl_bi_generator_spark.functions.rounding import pround
from java_etl_bi_generator_spark.functions.text import (
    token_count,
    word_shingles,
)


def one(spark, col):
    return spark.range(1).select(col.alias("v")).first()["v"]


@pytest.mark.parametrize(
    "raw,expected",
    [
        ("1.234,56", 1234.56),
        ("30000", 30000.0),
        ("0,5", 0.5),
        ("", 0.0),          # FullETLGenerator.java:233-234
        (None, 0.0),
        ("abc", 0.0),       # :236-238 silently swallowed
        ("-1.234,5", -1234.5),
    ],
)
def test_parse_ptbr_decimal(spark, raw, expected):
    assert one(spark, parse_ptbr_decimal(F.lit(raw))) == expected


@pytest.mark.parametrize(
    "x,expected",
    [(1234.56, "1234,56"), (0.5, "0,50"), (-42.75, "-42,75"), (0.0, "0,00")],
)
def test_format_ptbr_decimal(spark, x, expected):
    assert one(spark, format_ptbr_decimal(F.lit(x))) == expected


def test_parse_format_roundtrip(spark):
    """parse(format(x)) == round(x, 2) — SURVEY §5.2(3)."""
    df = spark.range(1000).select(
        ((F.col("id") - 500) * F.lit(7.77)).alias("x")
    )
    bad = df.select(
        (parse_ptbr_decimal(format_ptbr_decimal(F.col("x")))
         - pround(F.col("x"), 2)).alias("diff")
    ).filter(F.abs(F.col("diff")) > 1e-9)
    assert bad.count() == 0


@pytest.mark.parametrize(
    "raw,expected_iso",
    [
        ("2023-05-17", "2023-05-17"),
        ("2023-05-17 10:11:12", "2023-05-17"),  # substring(0,10), :244
        ("2023", None),                          # too short -> null, :242
        ("garbage-xx", None),
        (None, None),
    ],
)
def test_parse_date_lenient(spark, raw, expected_iso):
    v = one(spark, parse_date_lenient(F.lit(raw).cast("string")))
    assert (v.isoformat() if v else None) == expected_iso


def test_date_key_null_is_zero(spark):
    """Unparseable date -> 0, not null (FullETLGenerator.java:252)."""
    assert one(spark, date_key(parse_date_lenient(F.lit("nope")))) == 0
    assert one(spark, date_key(F.lit("2024-02-29").cast("date"))) == 20240229


def test_ptbr_names_and_quarter(spark):
    d = F.lit("2026-08-16").cast("date")  # a Sunday in August
    assert one(spark, month_name_ptbr(d)) == "agosto"
    assert one(spark, dow_name_ptbr(d)) == "domingo"
    assert one(spark, quarter_label(d)) == "T3"


def test_null_or_empty_default(spark):
    assert one(spark, null_or_empty_default(F.lit(None).cast("string"))) == "N/A"
    assert one(spark, null_or_empty_default(F.lit("  "))) == "N/A"
    assert one(spark, null_or_empty_default(F.lit("Sim"))) == "Sim"


def test_token_count_and_shingles(spark):
    assert one(spark, token_count(F.lit("a b  c"))) == 3
    assert one(spark, token_count(F.lit(""))) == 0
    assert one(spark, word_shingles(F.lit("a b c d"), 3)) == ["a b c", "b c d"]
    assert one(spark, word_shingles(F.lit("a b"), 3)) == ["a b"]


def test_pround_cross_engine_tie():
    """The motivating case: for 10.015 Spark round() (BigDecimal HALF_UP on
    the shortest decimal rendering) and DuckDB round() (binary value) can
    disagree — pround is one arithmetic expression both evaluate the same."""
    import duckdb

    du = duckdb.connect().execute(
        "SELECT floor(10.015::DOUBLE * 100 + 0.5) / 100"
    ).fetchone()[0]
    assert du == 10.02  # 10.015 stored as 10.01500000000000057 -> up


def test_pround_spark_matches_duckdb(spark):
    import duckdb

    vals = [10.015, 2.675, -1.005, 0.125, 123456.785]
    sp = [
        one(spark, pround(F.lit(v), 2)) for v in vals
    ]
    du = [
        duckdb.connect().execute(
            f"SELECT floor(({v!r}::DOUBLE) * 100 + 0.5) / 100"
        ).fetchone()[0]
        for v in vals
    ]
    assert sp == du


def test_dsum_wide_equals_dsum_in_range(spark, sf_dir):
    """Where both are defined (scaled total < 2^63) the DECIMAL(38,0)
    accumulator must produce the identical double."""
    from java_etl_bi_generator_spark.catalog import load_table
    from java_etl_bi_generator_spark.functions.rounding import dsum, dsum_wide

    li = load_table(spark, sf_dir, "lineitem")
    got = li.groupBy("l_returnflag").agg(
        dsum(F.col("l_extendedprice")).alias("a"),
        dsum_wide(F.col("l_extendedprice")).alias("b"),
        dsum(F.col("l_extendedprice"), scale=6).alias("a6"),
        dsum_wide(F.col("l_extendedprice"), scale=6).alias("b6"),
    )
    for r in got.collect():
        assert r["a"] == r["b"]
        assert r["a6"] == r["b6"]


def test_dsum_wide_survives_bigint_overflow(spark):
    """Past the BIGINT bound dsum fails loudly (ANSI) while dsum_wide
    keeps the exact sum — the scale>=4 fact-table fallback."""
    import pytest

    from java_etl_bi_generator_spark.functions.rounding import dsum, dsum_wide

    # each row's scaled value is 9e18 (just under 2^63); two rows overflow
    df = spark.createDataFrame([(9.0e16,)] * 3, "x double")
    with pytest.raises(Exception, match="(?i)overflow|ARITHMETIC"):
        df.agg(dsum(F.col("x")).alias("s")).collect()
    got = df.agg(dsum_wide(F.col("x")).alias("s")).first()["s"]
    assert got == pytest.approx(2.7e17, rel=1e-12)


def test_dsum_wide_sql_twin_matches(spark, sf_dir):
    """dsum_wide equals DuckDB's exact HUGEINT-accumulated scaled sum."""
    import duckdb

    from java_etl_bi_generator_spark.catalog import load_table
    from java_etl_bi_generator_spark.functions.rounding import dsum_wide

    li = load_table(spark, sf_dir, "lineitem")
    got = {
        r["l_returnflag"]: r["s"]
        for r in li.groupBy("l_returnflag")
        .agg(dsum_wide(F.col("l_extendedprice"), scale=6).alias("s"))
        .collect()
    }
    con = duckdb.connect()
    want = dict(
        con.execute(
            "SELECT l_returnflag, CAST(sum(CAST(floor(l_extendedprice "
            "* 1000000.0 + 0.5) AS HUGEINT)) AS DOUBLE) / 1000000.0 "
            f"FROM '{sf_dir}/lineitem.parquet' GROUP BY 1"
        ).fetchall()
    )
    assert got == want


def test_dsum_auto_routing_bound():
    """The static route: long path while est_rows·magnitude·10^scale fits
    under 2^62, wide past it; unknown row counts conservative at scale>=4."""
    from java_etl_bi_generator_spark.functions.rounding import (
        dsum_routes_wide,
    )

    # TPC-H Q1 sum_charge (scale 6, ~1e5 magnitude): 1e6 rows fit,
    # 1e8 rows (≈sf20+) exceed the 2^62 headroom
    assert not dsum_routes_wide(6, 1_000_000)
    assert dsum_routes_wide(6, 100_000_000)
    # scale 2 with ~1e4 magnitudes: effectively unbounded
    assert not dsum_routes_wide(2, 10_000_000_000, row_magnitude=1e4)
    # unknown rows: conservative only where the docstring bound bites
    assert dsum_routes_wide(4, None)
    assert not dsum_routes_wide(3, None)


def test_dsum_auto_both_sides(spark):
    """dsum_auto survives an input that ANSI-overflows the long path when
    (and only because) the estimate routes it wide — and produces the
    identical value to the long path on in-range input."""
    import pytest

    from java_etl_bi_generator_spark.functions.rounding import dsum, dsum_auto

    # in-range: routed long, same value as dsum
    small = spark.createDataFrame([(1.25,), (2.50,), (3.125,)], "x double")
    a = small.agg(dsum_auto(F.col("x"), 3, est_rows=3, row_magnitude=10.0)
                  .alias("s")).first()["s"]
    b = small.agg(dsum(F.col("x"), 3).alias("s")).first()["s"]
    assert a == b == 6.875
    # past the bound: dsum ANSI-fails, dsum_auto routes wide and succeeds
    big = spark.createDataFrame([(9.0e16,)] * 3, "x double")
    with pytest.raises(Exception, match="(?i)overflow|ARITHMETIC"):
        big.agg(dsum(F.col("x")).alias("s")).collect()
    got = big.agg(
        dsum_auto(F.col("x"), 2, est_rows=3, row_magnitude=9.0e16).alias("s")
    ).first()["s"]
    assert got == pytest.approx(2.7e17, rel=1e-12)


def test_estimate_rows_footer_stats(spark, sf_dir):
    """catalog.estimate_rows (parquet footer metadata, no Spark job) is
    exact against a real count."""
    from java_etl_bi_generator_spark.catalog import estimate_rows, load_table

    for t in ("nation", "lineitem"):
        assert estimate_rows(sf_dir, t) == load_table(spark, sf_dir, t).count()


def test_estimate_rows_edge_cases(spark, tmp_path):
    """A legitimately empty table (zero-row part files + _SUCCESS) has a
    KNOWN row count of 0; a directory with no parquet footers at all is
    UNKNOWN and raises (round-6 ADVICE: the earlier version conflated
    the two and misreported known-empty as unknown)."""
    import pytest as _pytest

    from java_etl_bi_generator_spark.catalog import estimate_rows

    root = str(tmp_path)
    empty = spark.createDataFrame([], "k int, v string")
    empty.write.mode("overwrite").parquet(f"{root}/empty_tbl.parquet")
    assert estimate_rows(root, "empty_tbl") == 0

    import os

    os.makedirs(f"{root}/no_footers.parquet", exist_ok=True)
    open(f"{root}/no_footers.parquet/_SUCCESS", "w").close()
    with _pytest.raises(ValueError, match="row count unknown"):
        estimate_rows(root, "no_footers")


def test_word_shingles_matches_naive_reference(spark):
    """The zip_with-fold shingle construction (round-5 perf rewrite) must
    equal the naive Python definition for every n and edge case: fewer
    tokens than n (whole text as one shingle), exactly n, and longer."""
    from java_etl_bi_generator_spark.functions.text import word_shingles

    texts = [
        "a",
        "a b",
        "a b c",
        "a b c d",
        "one two three four five six seven",
        "  padded   whitespace   text  ",
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    for n in (2, 3, 5):
        got = {
            r["text"]: list(r["sh"])
            for r in df.select("text", word_shingles("text", n).alias("sh"))
            .collect()
        }
        for t in texts:
            toks = t.strip().split()
            want = (
                [" ".join(toks)]
                if len(toks) < n
                else [
                    " ".join(toks[i : i + n])
                    for i in range(len(toks) - n + 1)
                ]
            )
            assert got[t] == want, (t, n, got[t], want)


def test_bpe_merge_replace_is_canonical_greedy(spark):
    """The BPE merge primitive (q_bpe_train_rounds): with EACH symbol
    wrapped in its own delimiters, one left-to-right replace() merges
    runs of the pair exactly like canonical greedy BPE — 'aaaa' with
    merge (a,a) -> [aa, aa], not the delimiter-eating [aa, a, a]
    (ADVICE round 5).  Pinned on Spark and DuckDB: the two engines'
    replace() must keep agreeing byte-for-byte."""
    import duckdb

    import pyspark.sql.functions as F

    cases = [
        ("|a||a||a||a|", "|aa||aa|"),  # even run: both pairs merge
        ("|a||a||a|", "|aa||a|"),      # odd run: greedy leftmost wins
        ("|a||b||a||a|", "|a||b||aa|"),  # (a,b) untouched, run merges
    ]
    df = spark.createDataFrame([(s,) for s, _ in cases], "seq string")
    got = [
        r["m"]
        for r in df.select(
            F.expr("replace(seq, '|a||a|', '|aa|')").alias("m")
        ).collect()
    ]
    assert got == [w for _, w in cases]
    duck = [
        duckdb.sql(
            f"SELECT replace('{s}', '|a||a|', '|aa|')"
        ).fetchone()[0]
        for s, _ in cases
    ]
    assert duck == [w for _, w in cases]


def test_twosided_geometric_thresholds_properties():
    """Mechanism sanity: thresholds strictly increase to 'ffffffff',
    support is symmetric, and the implied pmf is symmetric in k and
    monotone decreasing in |k| (the geometric shape)."""
    from java_etl_bi_generator_spark.functions.privacy import (
        twosided_geometric_hex_thresholds,
    )

    thr = twosided_geometric_hex_thresholds(eps=0.5, kmax=16)
    ks = [k for k, _ in thr]
    assert ks == list(range(-16, 17))
    ints = [int(t, 16) for _, t in thr]
    assert all(b > a for a, b in zip(ints, ints[1:]))
    assert thr[-1][1] == "ffffffff"
    pmf = [b - a for a, b in zip([0] + ints, ints)]
    for j in range(16):
        # symmetry: P(K=-k) == P(K=k) within 1 ulp of the u32 grid
        assert abs(pmf[j] - pmf[32 - j]) <= 1
    center = pmf[16]
    assert all(center >= p for p in pmf)


def test_dp_noisy_counts_mechanism(spark, sf_dir):
    """Release invariants: noise bounded by the truncation, clamp at 0
    holds, released = true + noise wherever that is non-negative, and
    the draw is a pure function of the release key (rerun identical)."""
    from java_etl_bi_generator_spark.queries import registry

    rows = registry()["q_dp_noisy_counts"](spark, sf_dir).collect()
    again = registry()["q_dp_noisy_counts"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    for r in rows:
        assert -16 <= r["noise"] <= 16
        assert r["released_count"] == max(r["true_count"] + r["noise"], 0)


def test_dp_quantile_release_invariants(spark, sf_dir):
    """q_dp_quantile release invariants: the draw is a pure function of
    the release key (rerun identical), released quantiles are bucket
    lower bounds (multiples of 50 cents) and monotone p50 <= p95 <= p99,
    and the noisy total stays within kmax=16 noise per observed bin of
    the true total."""
    import pyspark.sql.functions as F

    from java_etl_bi_generator_spark.catalog import load_table
    from java_etl_bi_generator_spark.queries import registry

    rows = registry()["q_dp_quantile"](spark, sf_dir).collect()
    again = registry()["q_dp_quantile"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    ev = load_table(spark, sf_dir, "events")
    true_n = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    bins = {
        r["event_type"]: r["b"]
        for r in ev.select(
            "event_type",
            F.expr(
                "CAST(floor(value * 100 + 0.5) AS BIGINT) div 50"
            ).alias("bucket"),
        )
        .groupBy("event_type")
        .agg(F.countDistinct("bucket").alias("b"))
        .collect()
    }
    assert {r["event_type"] for r in rows} == set(true_n)
    for r in rows:
        assert r["p50_cents_dp"] % 50 == 0
        assert r["p50_cents_dp"] <= r["p95_cents_dp"] <= r["p99_cents_dp"]
        slack = 16 * bins[r["event_type"]]
        assert abs(r["n_released"] - true_n[r["event_type"]]) <= slack


def test_dp_above_threshold_svt_invariants(spark, sf_dir):
    """q_dp_above_threshold invariants: always exactly one row (no
    vacuous-empty possible), rerun identical (pure function of the
    release key), released year really is the FIRST candidate in year
    order whose noisy count clears the noisy threshold (recomputed
    independently here), and queries_tested equals its 1-based
    position."""
    from java_etl_bi_generator_spark.queries import registry

    rows = registry()["q_dp_above_threshold"](spark, sf_dir).collect()
    again = registry()["q_dp_above_threshold"](spark, sf_dir).collect()
    assert len(rows) == 1 and len(again) == 1
    assert tuple(rows[0]) == tuple(again[0])
    r = rows[0]
    assert r["n_candidates"] >= 1
    if r["released_year"] is not None:
        assert 1 <= r["queries_tested"] <= r["n_candidates"]


def test_soundex_simplified_known_codes(spark):
    """Pin the simplified-Soundex spec (functions/phonetic.py) against
    hand-computed codes: classic matches where h/w transparency is not
    involved (robert/rupert R163, tymczak T522), and the DOCUMENTED
    divergence where it is (ashcraft -> A226 here, classic A261)."""
    import pyspark.sql.functions as F

    from java_etl_bi_generator_spark.functions.phonetic import soundex_col

    df = spark.createDataFrame(
        [("robert",), ("rupert",), ("ashcraft",), ("tymczak",),
         ("pfister",), ("honeyman",)],
        "w string",
    )
    got = {
        r["w"]: r["code"]
        for r in df.select("w", soundex_col("w").alias("code")).collect()
    }
    assert got["robert"] == "R163"
    assert got["rupert"] == "R163"
    assert got["tymczak"] == "T522"
    assert got["honeyman"] == "H555"
    assert got["pfister"] == "P236"    # classic match (pf collapse)
    # documented divergence from classic (h/w transparency omitted):
    assert got["ashcraft"] == "A226"   # classic: A261
