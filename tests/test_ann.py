"""Near-dup scale-path behavior: the n-gram document-frequency cap on
skewed corpora."""

from go_spatial_spark.operators import dedup


def test_ngram_df_cap_drops_boilerplate(spark):
    """A stop-phrase gram shared by every doc must not explode the
    candidate self-join: with df_cap below the corpus size the
    boilerplate vocabulary is dropped and docs with only-unique tails
    produce no candidate pairs; uncapped, the same corpus pairs
    everything with everything."""
    boiler = "terms of service apply to all pages"
    rows = [(i, f"{boiler} unique{i}a unique{i}b unique{i}c")
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    capped = dedup.ngram_jaccard_top1(docs, df_cap=10)
    assert capped.count() == 0
    uncapped = dedup.ngram_jaccard_top1(docs, df_cap=10**9)
    assert uncapped.count() == 40


def test_ngram_df_cap_preserves_results_below_cap(spark, sf001):
    """On a realistic corpus (no gram near the cap) the capped and
    uncapped results are identical."""
    docs = spark.read.parquet(f"{sf001}/documents.parquet")
    a = dedup.ngram_jaccard_top1(docs, df_cap=1000).collect()
    b = dedup.ngram_jaccard_top1(docs, df_cap=10**9).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
