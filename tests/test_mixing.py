"""Temperature mixing (alpha=0.5): rate math vs closed form,
expected-size targeting, determinism under repartitioning, and
upweighting direction."""

from __future__ import annotations

from pyspark.sql import functions as F

from youtube_api_data_etl_automation_spark.operators.mixing import (
    apply_mixture,
    mixture_rates_sqrt,
)
from youtube_api_data_etl_automation_spark.sources.tables import load_table

from .conftest import SF_DIR


def test_rates_match_closed_form(spark):
    """Integer-quantized sqrt weights agree with the pow(n, 0.5) closed
    form to the quantization budget (weight_scale=1e6 -> relative error
    < ~1e-6 per source), and the expected output sums to the target."""
    docs = load_table(spark, SF_DIR, "documents")
    rates = {r.lang: (r.n_rows, r.rate) for r in
             mixture_rates_sqrt(docs, "lang", target_rows=300).collect()}
    tw = sum(n ** 0.5 for n, _ in rates.values())
    for lang, (n, rate) in rates.items():
        closed = 300 * (n ** 0.5) / tw / n
        assert abs(rate - closed) / closed < 1e-5, (lang, rate, closed)
    assert abs(sum(n * r for n, r in rates.values()) - 300) < 1e-3


def test_alpha_upweights_small_sources(spark):
    docs = load_table(spark, SF_DIR, "documents")
    got = mixture_rates_sqrt(docs, "lang", 300).collect()
    rates = {r.lang: r.rate for r in got}
    ns = {r.lang: r.n_rows for r in got}
    small = min(ns, key=ns.get)
    big = max(ns, key=ns.get)
    # alpha=1 would be the uniform rate target/N for every source; alpha=0.5
    # boosts the small source above it and damps the big one below it.
    uniform = 300 / sum(ns.values())
    assert rates[small] > uniform > rates[big]


def test_apply_is_deterministic_and_near_target(spark):
    docs = load_table(spark, SF_DIR, "documents")
    rates = mixture_rates_sqrt(docs, "lang", target_rows=300)
    out1 = apply_mixture(docs, rates, source_col="lang", id_col="doc_id")
    out2 = apply_mixture(
        docs.repartition(13), rates, source_col="lang", id_col="doc_id"
    )
    a = sorted((r.doc_id, r.copy_idx) for r in out1.select("doc_id", "copy_idx").collect())
    b = sorted((r.doc_id, r.copy_idx) for r in out2.select("doc_id", "copy_idx").collect())
    assert a == b
    # Binomial tolerance around the expected size.
    assert abs(len(a) - 300) < 60, len(a)
    # copy_idx enumerates repeats from 1.
    assert min(c for _, c in a) == 1


def test_rate_above_one_repeats_rows(spark):
    df = spark.createDataFrame(
        [(i, "tiny") for i in range(5)] + [(100 + i, "huge") for i in range(500)],
        "doc_id long, source string",
    )
    rates = mixture_rates_sqrt(df, "source", target_rows=500)
    # sqrt weights: tiny rate = 500 * sqrt(5) / (sqrt(5) + sqrt(500)) / 5
    # = 500 / 11 / 5 ~ 9.09x.
    out = apply_mixture(df, rates, source_col="source", id_col="doc_id")
    tiny_copies = out.filter(F.col("source") == "tiny").count()
    assert 45 <= tiny_copies <= 50, tiny_copies  # ~45.5 expected
    per_doc = (
        out.filter(F.col("source") == "tiny").groupBy("doc_id").count().collect()
    )
    assert len(per_doc) == 5
    assert all(r["count"] in (9, 10) for r in per_doc)


def test_null_source_and_null_id_not_dropped(spark):
    rows = (
        [(i, "big") for i in range(100)]
        + [(200 + i, None) for i in range(10)]
        + [(None, "big")]
    )
    df = spark.createDataFrame(rows, "doc_id long, source string")
    # NULL sources are a stratum, not silently vanished mass.
    by_src = {r.source: r.n_rows for r in
              mixture_rates_sqrt(df, "source", target_rows=111).collect()}
    assert by_src["__null_source__"] == 10 and by_src["big"] == 101
    # rate 1.0 everywhere -> exact passthrough, including the NULL-source
    # rows (matched through the NULL rate row) and the NULL-id row.
    ones = spark.createDataFrame([("big", 1.0), (None, 1.0)],
                                 "source string, rate double")
    out = apply_mixture(df, ones, source_col="source", id_col="doc_id")
    assert out.count() == 111
