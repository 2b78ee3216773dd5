from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from weatherdatapipeline_spark.operators.stats import batch_statistics, condition_histogram
from weatherdatapipeline_spark.operators.text import (
    fingerprint_md5,
    fingerprint_rolling,
    language_id,
    n_words,
    quality_score,
)

WEATHER_ROWS = [
    # city, temperature, humidity, weather — chosen to hit every band
    ("A", -5.0, 40, "Clear"),
    ("A", 5.0, 50, "Rain"),
    ("B", 15.0, 60, "Rain"),
    ("B", 25.0, 70, "Clouds"),
    ("C", 35.0, 80, "Clear"),
    ("C", 45.0, 90, "Clear"),
]


@pytest.fixture(scope="module")
def weather(spark):
    return spark.createDataFrame(
        WEATHER_ROWS, "city string, temperature double, humidity int, weather string"
    )


def test_batch_statistics_golden(weather):
    row = batch_statistics(weather).collect()[0]
    assert row["total_records"] == 6
    assert row["cities_count"] == 3
    assert abs(row["avg_temperature"] - 20.0) < 1e-9
    assert row["max_temperature"] == 45.0
    assert row["min_temperature"] == -5.0
    assert abs(row["avg_humidity"] - 65.0) < 1e-9
    assert row["cities"] == ["A", "B", "C"]  # sorted collect_set
    d = row["temperature_distribution"]
    assert (d["very_cold"], d["cold"], d["cool"], d["moderate"], d["warm"], d["hot"]) == (
        1, 1, 1, 1, 1, 1,
    )


def test_condition_histogram_map(weather):
    row = condition_histogram(weather).collect()[0]
    assert row["weather_conditions"] == {"Clear": 3, "Rain": 2, "Clouds": 1}


def test_quality_and_words(spark):
    df = spark.createDataFrame(
        [(0, "a solid sentence with reasonable words here"), (1, "!!! ... ???")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in df.select(
        "doc_id",
        n_words(F.col("text")).alias("nw"),
        quality_score(F.col("text")).alias("q"),
    ).collect()}
    assert rows[0]["nw"] == 7
    assert rows[0]["q"] > rows[1]["q"]  # punctuation soup scores lower


def test_language_id_votes(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of the house"),
            (1, "der Hund und die Katze ist ein Tier"),
            (2, "xyzzy qwerty plugh"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r["lp"] for r in df.select("doc_id", language_id(F.col("text")).alias("lp")).collect()}
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "und"


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [(0, "Hello  World"), (1, "hello world"), (2, "hello worlds")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: (r["f1"], r["f2"]) for r in df.select(
        "doc_id",
        fingerprint_md5(F.col("text")).alias("f1"),
        fingerprint_rolling(F.col("text")).alias("f2"),
    ).collect()}
    assert rows[0][0] == rows[1][0]  # md5 fingerprint is normalized
    assert rows[0][0] != rows[2][0]
    assert rows[1][1] != rows[2][1]  # rolling hash differs on different text
    assert all(0 <= v[1] < 1_000_000_007 for v in rows.values())


def test_redact_pii(spark):
    from weatherdatapipeline_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (0, "mail me at jo.doe+x@mail.example.org or call 555-123-4567"),
            (1, "server at 192.168.0.1 and 10.0.0.7 no contacts"),
            (2, "nothing sensitive here at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert (rows[0]["n_email"], rows[0]["n_phone"], rows[0]["n_ipv4"]) == (1, 1, 0)
    assert "<EMAIL>" in rows[0]["clean_text"] and "<PHONE>" in rows[0]["clean_text"]
    assert "jo.doe" not in rows[0]["clean_text"] and "555-123" not in rows[0]["clean_text"]
    assert rows[1]["n_ipv4"] == 2 and rows[1]["clean_text"].count("<IP>") == 2
    assert rows[2]["clean_text"] == "nothing sensitive here at all"


def test_tfidf_signature_terms_golden(spark):
    """Hand-computed tf-idf: 2 groups, tfidf = tf * ln(n_groups / df)."""
    from weatherdatapipeline_spark.operators.text import tfidf_signature_terms

    df = spark.createDataFrame(
        [("A", "x x y"), ("B", "x z")],
        "source string, text string",
    )
    got = {
        (r["source"], r["term"]): r
        for r in tfidf_signature_terms(df, group_col="source", k=10).collect()
    }
    # df(x)=2 groups -> idf=ln(1)=0; df(y)=df(z)=1 -> idf=ln(2)
    assert got[("A", "x")]["tf"] == 2 and got[("A", "x")]["tfidf"] == 0.0
    assert got[("A", "y")]["tfidf"] == pytest.approx(0.693147)
    assert got[("B", "z")]["tfidf"] == pytest.approx(0.693147)
    assert got[("B", "x")]["tfidf"] == 0.0
    # rank: highest tfidf first, term asc tiebreak
    assert got[("A", "y")]["rk"] == 1 and got[("A", "x")]["rk"] == 2
    assert got[("B", "z")]["rk"] == 1 and got[("B", "x")]["rk"] == 2


def test_pmi_collocations_golden(spark):
    """Hand-computed PMI over adjacent bigrams:
    docs 'a b a b' + 'a b' -> unigrams a:3 b:3 (nu=6);
    bigrams (a,b):3 (b,a):1 (np=4).
    PMI(a,b) = ln((3/4)/((3/6)*(3/6))) = ln(3); PMI(b,a) = ln(1) = 0."""
    from weatherdatapipeline_spark.operators.text import pmi_collocations

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b")], "doc_id long, text string"
    )
    rows = pmi_collocations(df, min_count=1, k=50).collect()
    got = {(r["w1"], r["w2"]): r for r in rows}
    assert set(got) == {("a", "b"), ("b", "a")}
    ab = got[("a", "b")]
    assert (ab["pair_cnt"], ab["c1"], ab["c2"]) == (3, 3, 3)
    assert ab["pmi"] == pytest.approx(1.098612)
    ba = got[("b", "a")]
    assert (ba["pair_cnt"], ba["pmi"]) == (1, 0.0)
    # ordered by pmi desc: (a,b) first
    assert (rows[0]["w1"], rows[0]["w2"]) == ("a", "b")


def test_pmi_min_count_filters_but_np_is_global(spark):
    """min_count prunes output pairs but np (the pair-probability
    denominator) stays the GLOBAL bigram total — the standard PMI
    formulation; a filtered np would inflate every surviving score."""
    from weatherdatapipeline_spark.operators.text import pmi_collocations

    df = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "c d")], "doc_id long, text string"
    )
    rows = pmi_collocations(df, min_count=3, k=50).collect()
    assert [(r["w1"], r["w2"]) for r in rows] == [("a", "b")]
    # np = 5 bigrams total (3 ab, 1 ba, 1 cd), nu = 8 tokens, a=3 b=3
    # PMI = ln((3/5)/((3/8)*(3/8))) = ln(4.266667)
    import math

    assert rows[0]["pmi"] == pytest.approx(round(math.log((3 / 5) / (9 / 64)), 6))


def test_zipf_slope_golden(spark):
    """OLS slope of ln(tf)~ln(rank) against a closed-form recomputation."""
    import math

    from weatherdatapipeline_spark.operators.text import zipf_slope

    df = spark.createDataFrame(
        [(0, "a a a a b b c")], "doc_id long, text string"
    )
    row = zipf_slope(df, min_tf=1).collect()[0]
    # vocab: a tf=4 rank=1, b tf=2 rank=2, c tf=1 rank=3
    xs = [math.log(1), math.log(2), math.log(3)]
    ys = [math.log(4), math.log(2), math.log(1)]
    mx, my = sum(xs) / 3, sum(ys) / 3
    slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sum(
        (x - mx) ** 2 for x in xs
    )
    assert row["n_tokens"] == 3
    assert row["zipf_slope"] == pytest.approx(round(slope, 6))
    assert row["zipf_intercept"] == pytest.approx(round(my - slope * mx, 6))


def test_length_outlier_filter_bounds(spark):
    """p05/p95 bounds computed once and broadcast: docs at the exact
    bounds are kept (inclusive), outliers dropped."""
    from weatherdatapipeline_spark.queries import length_outlier_filter
    import weatherdatapipeline_spark.queries as Q

    rows = [(i, "x" * n, "en", "s", n) for i, n in enumerate(
        [10, 100, 110, 120, 130, 140, 150, 160, 170, 5000]
    )]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    import unittest.mock as mock

    with mock.patch.object(Q, "_t", lambda spark, d, n: df):
        out = length_outlier_filter(spark, "ignored").collect()
    # p05 of sorted lengths = 50.5, p95 = 2813 -> drops 10 and 5000 only
    assert out[0]["n_docs"] == 8
    assert out[0]["avg_chars"] == round(sum([100,110,120,130,140,150,160,170]) / 8, 4)


def test_remove_boilerplate_lines_unit(spark):
    """RefinedWeb-style frequent-line removal: the shared footer (3 docs)
    is dropped, unique lines survive in order, fully-boilerplate docs
    come back as empty strings, and n_removed counts positional hits."""
    from weatherdatapipeline_spark.operators.text import remove_boilerplate_segments

    footer = "subscribe to our newsletter"
    rows = [
        (0, f"alpha body one\n{footer}"),
        (1, f"{footer}\nbeta body two\ngamma extra"),
        (2, footer),                       # nothing but boilerplate
        (3, "delta body three\nunique line"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in remove_boilerplate_segments(df, min_docs=3, unit="lines").collect()
    }
    assert got[0] == ("alpha body one", 1)
    assert got[1] == ("beta body two\ngamma extra", 1)
    assert got[2] == ("", 1)
    assert got[3] == ("delta body three\nunique line", 0)


def test_remove_boilerplate_word_chunks_unit(spark):
    """word_chunks segmentation: a 10-word chunk cloned across 3 docs is
    removed positionally; chunk boundaries are word-index based."""
    from weatherdatapipeline_spark.operators.text import remove_boilerplate_segments

    shared = "one two three four five six seven eight nine ten"
    rows = [
        (0, f"{shared} tail words here"),
        (1, f"{shared} other suffix text"),
        (2, f"{shared}"),
        (3, "totally different words that never repeat anywhere at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["text_clean"], r["n_removed"])
        for r in remove_boilerplate_segments(
            df, min_docs=3, seg_words=10, unit="word_chunks"
        ).collect()
    }
    assert got[0] == ("tail words here", 1)
    assert got[1] == ("other suffix text", 1)
    assert got[2] == ("", 1)
    assert got[3][1] == 0 and got[3][0].startswith("totally different")


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing's core property: any shared substring of length >=
    k + w - 1 (= 11 here) must contribute at least one SHARED
    fingerprint; disjoint texts share none (60-bit hashes)."""
    from weatherdatapipeline_spark.operators.text import winnow_fingerprints

    shared = "abcdefghijk"  # exactly k + w - 1 chars
    rows = [
        (0, f"xxxx{shared}yyyy"),
        (1, f"zz{shared}qqqq"),
        (2, "totally unrelated content 123"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = {}
    for r in winnow_fingerprints(df, k=8, w=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert fps[0] & fps[1], "shared 11-char substring must share a fingerprint"
    assert not (fps[0] & fps[2]) and not (fps[1] & fps[2])


def test_winnow_short_doc_single_fingerprint(spark):
    """A doc with fewer than w grams yields exactly one fingerprint:
    the min over all of its grams."""
    from weatherdatapipeline_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame([(0, "tiny")], "doc_id long, text string")
    out = winnow_fingerprints(df, k=8, w=4).collect()
    assert len(out) == 1


def test_winnow_shared_span_pairs_planted(spark):
    """A long verbatim span shared by two docs produces a pair with many
    shared fingerprints; unrelated docs produce none; the df-cut drops a
    fingerprint planted in every doc."""
    from weatherdatapipeline_spark.operators.text import winnow_shared_span_pairs

    span = "the exact same long run of characters appears verbatim here"
    common = " COMMONTAIL"  # present in every doc -> df-cut at max_fp_freq=2
    rows = [
        (0, f"prefix one {span}{common}"),
        (1, f"{span} other suffix{common}"),
        (2, f"completely different body text with nothing repeated{common}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_a"], r["doc_b"]): r["shared_fps"]
        for r in winnow_shared_span_pairs(
            df, min_shared=3, max_fp_freq=2
        ).collect()
    }
    assert (0, 1) in got and got[(0, 1)] >= 3
    assert all(p == (0, 1) for p in got)


def test_bigram_logprob_golden(spark):
    """Hand-computed add-0.5 bigram model on 'a b a b': P(b|a) = 2.5/3,
    P(a|b) = 1.5/2; score = mean of the three bigram NLLs."""
    import math

    from weatherdatapipeline_spark.operators.text import bigram_logprob_scores

    df = spark.createDataFrame([(0, "a b a b")], "doc_id long, text string")
    row = bigram_logprob_scores(df).collect()[0]
    want = (2 * -math.log(2.5 / 3.0) + -math.log(1.5 / 2.0)) / 3.0
    assert row["n_bigrams"] == 3
    assert abs(row["avg_neg_logprob"] - want) < 1e-6


def test_source_vocab_kl_golden(spark):
    """Two sources with known unigram mixtures: KL(X||corpus) = ln(2)/3,
    KL(Y||corpus) = ln(1.5)."""
    import math

    from weatherdatapipeline_spark.operators.text import source_vocab_kl

    rows = [(0, "a a b", "X"), (1, "b b b", "Y")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r["source"]: r for r in source_vocab_kl(df).collect()}
    assert got["X"]["n_tokens"] == 3 and got["Y"]["n_tokens"] == 3
    assert abs(got["X"]["kl_divergence"] - math.log(2) / 3) < 1e-6
    assert abs(got["Y"]["kl_divergence"] - math.log(1.5)) < 1e-6


def test_psi_drift_semantics(spark):
    """PSI of a window against itself is ~0 by construction (buckets are
    the reference's own deciles); a hard location shift scores far past
    the 0.25 action threshold."""
    from weatherdatapipeline_spark.operators.stats import psi_drift

    ref_rows = [(i, "a", float(i % 100)) for i in range(1000)]
    same = spark.createDataFrame(ref_rows, "event_id long, event_type string, value double")
    shifted = spark.createDataFrame(
        [(i, "a", float(i % 100) + 500.0) for i in range(1000)],
        "event_id long, event_type string, value double",
    )
    stable = psi_drift(same, same).collect()[0]
    drifted = psi_drift(same, shifted).collect()[0]
    assert abs(stable["psi"]) < 1e-9
    assert drifted["psi"] > 0.25
    assert stable["n_ref"] == stable["n_cur"] == 1000


def test_psi_drift_one_sided_group(spark):
    """A group present in only one window (a brand-new or vanished event
    type — maximal drift) must score as extreme drift, not abort the job
    with an ANSI division by zero."""
    from weatherdatapipeline_spark.operators.stats import psi_drift

    ref = spark.createDataFrame(
        [(i, "a", float(i % 50)) for i in range(200)],
        "event_id long, event_type string, value double",
    )
    cur = spark.createDataFrame(
        [(i, "a", float(i % 50)) for i in range(200)]
        + [(1000 + i, "NEW", float(i)) for i in range(100)],
        "event_id long, event_type string, value double",
    )
    got = {r["event_type"]: r for r in psi_drift(ref, cur).collect()}
    assert abs(got["a"]["psi"]) < 1e-9
    assert got["NEW"]["n_ref"] == 0 and got["NEW"]["n_cur"] == 100
    assert got["NEW"]["psi"] > 0.25  # floored ref proportions -> extreme


def test_heavy_hitters_exact_guarantee(spark):
    """The MG candidate pass must never lose a true heavy hitter, even
    with a tiny k forcing aggressive counter reduction and with the
    heavy term scattered across partitions; output counts are exact."""
    from weatherdatapipeline_spark.operators.text import heavy_hitters_exact

    # 400 docs of noise vocab (80 distinct terms) + 'hot' in 30% of tokens
    rows = []
    for i in range(400):
        noise = " ".join(f"w{(i * 7 + j) % 80}" for j in range(7))
        rows.append((i, f"hot hot hot {noise}"))
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)
    got = {
        r["term"]: (r["cnt"], r["share"])
        for r in heavy_hitters_exact(df, threshold=0.25, k=4).collect()
    }
    assert set(got) == {"hot"}
    assert got["hot"][0] == 1200  # exact count, not a sketch estimate
    assert abs(got["hot"][1] - 0.3) < 1e-6


def test_heavy_hitters_rejects_bad_threshold(spark):
    import pytest as _pytest

    from weatherdatapipeline_spark.operators.text import heavy_hitters_exact

    with _pytest.raises(ValueError):
        heavy_hitters_exact(None, threshold=1.5)


def test_exact_shared_spans_boundaries(spark):
    """A planted 80-char shared region must come back as ONE maximal span
    with exact 1-based start offsets and length; unrelated docs yield
    nothing."""
    from weatherdatapipeline_spark.operators.text import exact_shared_spans

    shared = "".join(f"w{i:02d}x" for i in range(20))  # 80 chars, no repeats
    assert len(shared) == 80 and len(set(shared)) > 5
    a = "AAAA-" + shared + "-tailA"          # span starts at char 6
    b = "prefixBB|" + shared + "~moreB"      # span starts at char 10
    c = "totally unrelated content here, long enough to gram"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "doc_id long, text string"
    )
    rows = exact_shared_spans(df, k=25, min_span=60, max_gram_freq=100).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["doc_a"], r["doc_b"]) == (1, 2)
    assert r["start_a"] == 6 and r["start_b"] == 10
    assert r["span_chars"] == 80


def test_exact_shared_spans_df_cut_drops_boilerplate(spark):
    """A gram present in more docs than max_gram_freq is cut before the
    self-join, so ubiquitous boilerplate produces no pairs."""
    from weatherdatapipeline_spark.operators.text import exact_shared_spans

    boiler = "this exact same boilerplate line appears everywhere verbatim!"
    df = spark.createDataFrame(
        [(i, f"doc{i} intro. " + boiler) for i in range(6)],
        "doc_id long, text string",
    )
    cut = exact_shared_spans(df, k=25, min_span=40, max_gram_freq=3).collect()
    assert cut == []
    kept = exact_shared_spans(df, k=25, min_span=40, max_gram_freq=100).collect()
    assert len(kept) == 15  # all C(6,2) pairs share the span


def test_cms_never_undercounts_and_bounds_error(spark):
    """CMS point estimates must upper-bound exact counts for EVERY probe
    (structural guarantee), and with width >> distinct items collisions
    are rare enough that most estimates are exact."""
    from weatherdatapipeline_spark.operators.stats import cms_estimate, count_min_sketch
    from pyspark.sql import functions as F

    rows = [(f"item{i % 50}",) for i in range(2000)]  # 50 items x 40 each
    df = spark.createDataFrame(rows, "item string")
    sk = count_min_sketch(df, depth=4, width=256)
    probes = df.distinct()
    est = {r["item"]: r["cms_count"] for r in cms_estimate(sk, probes).collect()}
    assert len(est) == 50
    assert all(v >= 40 for v in est.values())
    assert sum(1 for v in est.values() if v == 40) >= 40  # mostly exact


def test_cms_sketch_cardinality_is_bounded(spark):
    from weatherdatapipeline_spark.operators.stats import count_min_sketch

    df = spark.createDataFrame([(f"i{i}",) for i in range(5000)], "item string")
    cells = count_min_sketch(df, depth=4, width=64).count()
    assert cells <= 4 * 64


def test_hll_estimate_within_standard_error(spark):
    """256 registers -> 1.04/sqrt(256) = 6.5% standard error; assert the
    estimate lands within 4 sigma of 5,000 true distinct items."""
    from weatherdatapipeline_spark.operators.stats import hll_distinct_estimate

    df = spark.createDataFrame(
        [(f"unique-token-{i}",) for i in range(5000)], "item string"
    )
    est = hll_distinct_estimate(df, b=8).collect()[0]["hll_estimate"]
    assert abs(est - 5000) / 5000 < 0.26, est


def test_hll_small_range_correction_is_exactish(spark):
    """With 30 distinct items, most registers are zero -> linear
    counting kicks in and is near-exact."""
    from weatherdatapipeline_spark.operators.stats import hll_distinct_estimate

    df = spark.createDataFrame(
        [(f"x{i % 30}",) for i in range(900)], "item string"
    )
    est = hll_distinct_estimate(df, b=8).collect()[0]["hll_estimate"]
    assert abs(est - 30) < 4, est


def test_cms_unseen_probe_returns_zero(spark):
    """The sketch stores only non-zero cells; a probe never inserted must
    still return one row with cms_count 0 (its empty cells count as 0 in
    the min), not vanish or inflate."""
    from weatherdatapipeline_spark.operators.stats import cms_estimate, count_min_sketch

    df = spark.createDataFrame([("present",)] * 9, "item string")
    sk = count_min_sketch(df, depth=4, width=256)
    probes = spark.createDataFrame([("present",), ("never-seen",)], "item string")
    est = {r["item"]: r["cms_count"] for r in cms_estimate(sk, probes).collect()}
    assert est == {"present": 9, "never-seen": 0}


def test_mad_outliers_robust_to_extremes(spark):
    """One extreme value must be flagged without dragging the threshold
    (the failure mode of mean/stddev screens), and an all-constant group
    (MAD 0) must define outliers as 0, not divide-by-zero."""
    from weatherdatapipeline_spark.operators.stats import mad_outliers

    rows = [("a", float(v)) for v in [10, 11, 9, 10, 12, 10, 11, 1000]] + [
        ("const", 5.0)
    ] * 4
    df = spark.createDataFrame(rows, "k string, v double")
    got = {r["k"]: r for r in mad_outliers(df, "k", "v").collect()}
    assert got["a"]["med"] == 10.5 and got["a"]["n_outliers"] == 1
    assert got["const"]["mad"] == 0.0 and got["const"]["n_outliers"] == 0


def test_grouped_ols_trend_recovers_planted_slope(spark):
    """y = 2*x_hours + noise-free constant pattern: slope exactly 2,
    r2 = 1; a constant group yields slope 0 / r2 0 (not a div-by-zero)."""
    import datetime as dt

    from weatherdatapipeline_spark.operators.stats import grouped_ols_trend

    t0 = dt.datetime(2024, 1, 1)
    rows = [("lin", t0 + dt.timedelta(hours=h), 2.0 * h + 5.0) for h in range(10)]
    rows += [("const", t0 + dt.timedelta(hours=h), 7.0) for h in range(10)]
    df = spark.createDataFrame(rows, "event_type string, ts timestamp, value double")
    got = {r["event_type"]: r for r in
           grouped_ols_trend(df, "event_type", "ts", "value").collect()}
    assert got["lin"]["slope_per_hour"] == 2.0 and got["lin"]["r2"] == 1.0
    assert got["const"]["slope_per_hour"] == 0.0 and got["const"]["r2"] == 0.0


def test_mad_outliers_meanad_fallback(spark):
    """MAD=0 from a majority-constant group must NOT suppress a real
    extreme: the Iglewicz-Hoaglin fallback scores via the mean absolute
    deviation and still flags it."""
    from weatherdatapipeline_spark.operators.stats import mad_outliers

    rows = [("m", 5.0)] * 9 + [("m", 1000.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    got = mad_outliers(df, "k", "v").collect()[0]
    assert got["mad"] == 0.0
    # MeanAD = 995/10 = 99.5 -> modz = 0.7979 * 995 / 99.5 = 7.98 > 3.5
    assert got["n_outliers"] == 1


def test_ks_drift_detects_planted_shift(spark):
    """KS must be ~0 when both windows share a distribution and large
    for a planted mean shift; scipy-free exact recomputation on a tiny
    case: ref {1,2,3}, cur {1,2,3} -> 0; cur {11,12,13} -> 1.0."""
    import datetime as dt

    from weatherdatapipeline_spark.queries import ks_drift_by_type

    t_ref = dt.datetime(2024, 1, 5)
    t_cur = dt.datetime(2024, 1, 20)
    rows = []
    for i, v in enumerate([1.0, 2.0, 3.0]):
        rows.append((i, t_ref, 1, "same", v, "{}"))
        rows.append((100 + i, t_cur, 1, "same", v, "{}"))
        rows.append((200 + i, t_ref, 1, "shift", v, "{}"))
        rows.append((300 + i, t_cur, 1, "shift", v + 10.0, "{}"))
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import tempfile, os
    d = tempfile.mkdtemp(prefix="ks_t_")
    df.coalesce(1).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    got = {r["event_type"]: r for r in ks_drift_by_type(spark, d).collect()}
    assert got["same"]["ks_stat"] == 0.0
    assert got["shift"]["ks_stat"] == 1.0  # fully separated supports


# (g, o) -> (w1, w2): tied o values carry equal weights, so the row-frame
# running sums are the same multiset whichever order the ties are summed in
_BRS_ROWS = [
    (g, o, (o * 7) % 5 - 2, o * o + (g == "b"))
    for g in ("a", "b")
    for o in (-40, -33, -33, -29, -8, -1, 0, 0, 0, 6, 7, 20, 41, 41, 55)
    if not (g == "b" and o in (-29, 20))
]


@pytest.mark.parametrize("descending", [False, True])
@pytest.mark.parametrize("by", [[], ["g"]])
def test_bucketed_running_sum_matches_global_window(spark, by, descending):
    """Bucket offsets + bucket-partitioned windows give exactly the plain
    cumulative sum (ties on the order key, negative and missing bucket
    ids, two weights, both directions, with and without a group key),
    and the plan holds no partition-less window."""
    from pyspark.sql import Window

    from tools.explain_audit import _GLOBAL_WINDOW, plan_of
    from weatherdatapipeline_spark.operators.stats import bucketed_running_sum

    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(_BRS_ROWS)], "id long, g string, o long, w1 long, w2 long"
    ).withColumn("bk", F.floor(F.col("o") / 7))
    sums = {"c1": "w1", "c2": "w2"}
    out = bucketed_running_sum(df, "o", "bk", sums, by=by, descending=descending)

    key = F.col("o").desc() if descending else F.col("o")
    w = Window.partitionBy(*by).orderBy(key).rowsBetween(Window.unboundedPreceding, 0)
    want = df.select("*", *[F.sum(c).over(w).alias(o) for o, c in sums.items()])

    def rows(frame):
        return sorted(tuple(r)[1:] for r in frame.select(*want.columns).collect())

    assert out.columns == want.columns
    assert rows(out) == rows(want)
    plan = plan_of(out)
    assert "windowspecdefinition(" in plan and not _GLOBAL_WINDOW.findall(plan)


def test_bucketed_running_sum_empty_and_null_bucket(spark):
    """Empty input gives an empty frame with the output columns; a row
    with a NULL bucket has no offset and is dropped."""
    from weatherdatapipeline_spark.operators.stats import bucketed_running_sum

    schema = "o long, w long, bk long"
    empty = bucketed_running_sum(spark.createDataFrame([], schema), "o", "bk", {"c": "w"})
    assert empty.columns == ["o", "w", "bk", "c"] and empty.collect() == []
    df = spark.createDataFrame([(1, 2, 0), (2, 3, None), (3, 4, 1)], schema)
    got = sorted(tuple(r) for r in bucketed_running_sum(df, "o", "bk", {"c": "w"}).collect())
    assert got == [(1, 2, 0, 2), (3, 4, 1, 6)]
