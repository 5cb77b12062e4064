"""r15 (VERDICT item 6): pin the F.sum order-identity assumption.

lm_kneser_ney_score and curation_ppl_band_select replaced their per-doc
position-ordered folds with plain F.sum("logp"), arguing the explode
emits each doc's bigrams in position order within one partition, the
broadcast model join preserves stream order, and the hash aggregate
accumulates one partial per doc — so the codegen'd sum IS the
pos-ordered fold. The known edge: under memory pressure
HashAggregateExec falls back to SORT-based aggregation, which splits a
group's rows into several partial buffers at spill boundaries and merges
them — re-associating the double additions — and a last-ulp flip could
move a doc across the floor(avg_logp·1e9) band key or the top-25 rank.

This test plants that fallback deliberately via Spark's internal testing
conf `spark.sql.TungstenAggregate.testFallbackStartsAt` ("n1,n2" =
spill the aggregation hash map to a sorter every n1/n2 input rows, so
the aggregate runs sort-based over many partial buffers). The threshold
is "8,8": over the sf0.001 corpus (the lm_* tokenization, `_TOKS_SQL`)
the per-doc bigram counts are min 9, median 55, max 98, so 8 is the
largest threshold at which EVERY document's rows still cross a spill
boundary and every per-doc F.sum merges partial buffers out of stream
order. "1,1" (single-row segments) cannot run: every input row becomes
its own spill file, the sort merge opens all of them at once, and each
reader holds two 1 MiB heap buffers (spark.unsafe.sorter.spill.reader.
buffer.size) — documents.parquet is one row group at sf0.001, so one
task carries all 27,439 bigram rows, tens of GB of readers, past any
heap the session factory gives (32g cap). Both ops must produce
byte-identical results to their no-fallback runs on the sf0.001 corpus.
If Spark ever changes fallback semantics in a way that re-orders these
sums past the rounding guards, this test is the tripwire — the fix then
is the pre-r14 ordered fold.
"""

from __future__ import annotations

_FALLBACK_CONF = "spark.sql.TungstenAggregate.testFallbackStartsAt"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _run_with_fallback(spark, fn, sf_dir):
    baseline = _rows(fn(spark, sf_dir))
    spark.conf.set(_FALLBACK_CONF, "8,8")
    try:
        fallback = _rows(fn(spark, sf_dir))
    finally:
        spark.conf.unset(_FALLBACK_CONF)
    return baseline, fallback


def test_kneser_ney_sum_survives_sort_agg_fallback(spark, sf_dir):
    from sdg_data_catalog_spark.queries.registry import all_queries

    fn = all_queries()["lm_kneser_ney_score"]
    baseline, fallback = _run_with_fallback(spark, fn, sf_dir)
    assert len(baseline) == 25
    assert baseline == fallback


def test_ppl_band_select_survives_sort_agg_fallback(spark, sf_dir):
    from sdg_data_catalog_spark.queries.registry import all_queries

    fn = all_queries()["curation_ppl_band_select"]
    baseline, fallback = _run_with_fallback(spark, fn, sf_dir)
    assert baseline  # non-empty band at sf0.001
    assert baseline == fallback
