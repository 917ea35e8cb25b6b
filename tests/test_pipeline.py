"""Corpus-cleaning pipeline invariants on the driver corpus: funnel
monotonicity, stage consistency, and scrub integration."""

from __future__ import annotations

from pyspark.sql import functions as F

from capital.io import load_table
from capital.llm.pipeline import clean_corpus, funnel_stats


def test_funnel_is_monotone_and_consistent(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    stats = funnel_stats(docs).collect()[0]
    assert stats.n_input >= stats.n_after_gates >= stats.n_survivors > 0
    # Survivors reported by the funnel must equal the corpus rows.
    corpus = clean_corpus(docs)
    assert corpus.count() == stats.n_survivors
    assert stats.tokens_kept == corpus.agg(
        F.sum("n_tokens")
    ).collect()[0][0]


def test_survivors_pass_gates_and_are_distinct(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    corpus = clean_corpus(docs)
    rows = corpus.collect()
    assert all(r.quality_score >= 0.5 for r in rows)
    ids = [r.doc_id for r in rows]
    assert len(ids) == len(set(ids))
    # scrubbed_md5 is a 32-hex digest for every survivor.
    assert all(
        r.scrubbed_md5 and len(r.scrubbed_md5) == 32 for r in rows
    )


def test_funnel_scores_corpus_exactly_once(spark, sf_dir, monkeypatch):
    # Regression: funnel_stats used to rebuild the scored lineage from
    # scratch for n_after_gates — a second full corpus scan + explode
    # at 100 TB. The scoring pipeline must be constructed exactly once
    # (then shared via persist).
    import capital.llm.pipeline as pipeline

    calls = {"n": 0}
    real = pipeline.with_quality_score

    def counting(df):
        calls["n"] += 1
        return real(df)

    monkeypatch.setattr(pipeline, "with_quality_score", counting)
    docs = load_table(spark, sf_dir, "documents")
    stats = funnel_stats(docs).collect()[0]
    assert stats.n_input >= stats.n_after_gates >= stats.n_survivors > 0
    assert calls["n"] == 1


def test_clean_corpus_drops_null_id_documents(spark, sf_dir):
    """A NULL id never matches the drop-set anti-join, so the funnel
    drops NULL-id documents at ingress — even an exact copy of a
    surviving document, which would otherwise survive beside it."""
    docs = load_table(spark, sf_dir, "documents")
    base = sorted(map(tuple, clean_corpus(docs).collect()))
    survivor = base[0][0]
    null_copy = docs.filter(F.col("doc_id") == survivor).withColumn(
        "doc_id", F.lit(None).cast("long")
    )
    with_null = docs.unionByName(null_copy)
    assert sorted(map(tuple, clean_corpus(with_null).collect())) == base
    stats = funnel_stats(with_null).collect()[0]
    assert stats.n_input == docs.count() + 1
    assert stats.n_survivors == len(base)
