"""Text operators over the real testdata tables."""

import pytest
from pyspark.sql import functions as F

from duckdb_spatial_spark.operators import textops as X

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_text_metrics_quality_langid(spark, docs):
    m = X.quality_score(docs).select("doc_id", "n_tokens", "quality", "stopword_ratio").collect()
    assert all(0 <= r.quality <= 1 for r in m)
    assert all(r.n_tokens > 0 for r in m)
    # langid: docs table is english word soup with some stopwords
    lid = X.lang_id(docs.limit(50))
    preds = [r.lang_pred for r in lid.collect()]
    assert all(p in set(list(X._STOPWORDS) + ["und"]) for p in preds)
    tc = docs.select(X.token_count("text").alias("n"), F.col("n_chars")).first()
    assert tc.n > 0


def test_tokenizer_family_no_codegen_fallback_hof(spark, docs):
    """token_count / text_metrics / lang_id / wordlist_filter are pure
    codegen Columns: no higher-order function (lambdafunction in the plan,
    interpreted per element) and no Python crossing (ArrowEvalPython)."""
    lanes = {
        "token_count": docs.select(X.token_count("text").alias("n")),
        "text_metrics": X.text_metrics(docs),
        "lang_id": X.lang_id(docs),
        "wordlist_filter": X.wordlist_filter(docs, ["bad", "evil"]),
    }
    for name, df in lanes.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "lambdafunction" not in plan.lower(), name
        assert "ArrowEvalPython" not in plan, name
    # semantics spot-check: whole-token match, punctuation-adjacent tokens
    # do NOT count, adjacent stopwords both count
    d = spark.createDataFrame(
        [(1, "the dog of the. house"), (2, "of the cat"), (3, "  "), (4, None)],
        "id long, text string",
    )
    rows = {r.id: r for r in X.wordlist_filter(d, ["the", "of"], max_ratio=0.5).collect()}
    assert rows[1].block_count == 2 and rows[1].block_ratio == 0.4
    assert rows[2].block_count == 2
    assert rows[3].block_count == 0
    assert rows[4].block_count is None
    tc = {r.id: r.n for r in d.select("id", X.token_count("text").alias("n")).collect()}
    assert tc == {1: 5, 2: 3, 3: 0, 4: None}


def test_fingerprints(spark, docs):
    fp = X.fingerprint(docs).select("doc_id", "fingerprint")
    assert fp.filter(F.col("fingerprint").isNull()).count() == 0
    # same normalized text -> same fingerprint
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other text")], "id long, text string"
    )
    vals = {r.id: r.fingerprint for r in X.fingerprint(df).collect()}
    assert vals[1] == vals[2] != vals[3]
    wf = X.winnowing_fingerprints(docs.limit(20), "doc_id", "text")
    assert wf.count() > 20  # several fingerprints per doc
    assert wf.groupBy("id").count().count() == 20
    # pinned values: regression guard for the vectorized k-term Horner hash
    # (must stay identical to the original rolling recurrence mod 2^64)
    pin = spark.createDataFrame(
        [(7, "The quick brown fox jumps over the lazy dog. " * 4)],
        "doc_id long, text string",
    )
    got = sorted(
        r.fingerprint
        for r in X.winnowing_fingerprints(pin, "doc_id", "text", k=9, window=20).collect()
    )
    assert got == [
        531064283153794076,
        1033030311172948038,
        1432738009729813356,
        1817948233958924258,
        2361024517637207965,
    ]
