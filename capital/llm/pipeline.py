"""The end-to-end training-corpus cleaning pipeline — every LLM-data
operator composed into the shape it exists for:

    raw docs → quality gate → repetition gate → PII scrub
             → near-dup cluster dedup (MinHash→LSH→verify→components)
             → clean corpus + funnel stats

Each stage is one of the engine's tested operators; this module only
composes them, so the pipeline inherits their scale posture: the gates
and scrub are narrow projections fused into the scan, and the dedup
stages shuffle the blocked pair space, never O(n²). The DuckDB oracle
for the composed pipeline is built from the same SQL fragments as the
per-operator oracles (capital/queries/llm_queries.py), so the whole
funnel is hash-checked end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from capital.io import plan_checkpointer
from capital.llm.clusters import remove_duplicates
from capital.llm.dedup import verified_neardup_pairs
from capital.llm.text import (
    with_pii_scrub,
    with_quality_score,
    with_repetition,
)

#: Default gates — chosen so each stage visibly drops documents on the
#: driver corpus while keeping the pipeline meaningful at any scale.
QUALITY_MIN = 0.5
DUP_BIGRAM_MAX = 0.3


def _gate_survivors(
    docs: DataFrame, quality_min: float, dup_bigram_max: float
) -> DataFrame:
    """The scored-and-gated corpus — the one expensive narrow lineage
    (quality expressions + the repetition explode) both ``clean_corpus``
    and ``funnel_stats`` hang off. Built in exactly one place so a
    caller can persist it once and share it.

    NULL-id documents drop here, at ingress: a NULL id never matches
    the drop-set anti-join, so such a document would otherwise survive
    dedup unconditionally (``clusters.deduplicated_corpus`` drops them
    the same way)."""
    docs = docs.filter(F.col("doc_id").isNotNull())
    scored = with_repetition(with_quality_score(docs))
    return scored.filter(
        (F.col("quality_score") >= quality_min)
        & (F.col("dup_bigram_frac") <= dup_bigram_max)
    )


def clean_corpus(
    docs: DataFrame,
    quality_min: float = QUALITY_MIN,
    dup_bigram_max: float = DUP_BIGRAM_MAX,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    jaccard_threshold: float = 0.5,
    _kept: DataFrame | None = None,
) -> DataFrame:
    """Run the full cleaning funnel; returns one row per *surviving*
    document: ``doc_id, n_tokens, quality_score, scrubbed_md5``.

    Near-dup clustering runs on the gate-surviving corpus (cheaper,
    and dropping a low-quality doc must not change which of its
    duplicates survives — the canonical member is chosen among kept
    docs only). ``_kept`` lets :func:`funnel_stats` hand in an
    already-persisted gate lineage so the corpus is scored once.
    """
    if _kept is None:
        # Both the pair graph and the final projection reuse `kept`.
        kept = _gate_survivors(docs, quality_min, dup_bigram_max).persist()
    else:
        kept = _kept

    # Barriered: remove_duplicates collects the graph, and a graph
    # over its driver bound is read again by the iterative closure.
    pairs = plan_checkpointer(kept.sparkSession, None)(
        verified_neardup_pairs(
            kept,
            num_hashes=num_hashes,
            bands=bands,
            rows_per_band=rows_per_band,
            threshold=jaccard_threshold,
        )
    )
    # Min-id survivorship (clusters.remove_duplicates): the survivors
    # are kept \ {v in pair graph : label(v) != v}, closed on the
    # driver for a small graph. NULL ids drop in _gate_survivors.
    return (
        remove_duplicates(with_pii_scrub(kept), pairs)
        .select(
            "doc_id",
            "n_tokens",
            "quality_score",
            F.md5("scrubbed_text").alias("scrubbed_md5"),
        )
    )


def funnel_stats(
    docs: DataFrame,
    quality_min: float = QUALITY_MIN,
    dup_bigram_max: float = DUP_BIGRAM_MAX,
) -> DataFrame:
    """One-row funnel: input docs → gate survivors → dedup survivors,
    plus the surviving token budget. The number every corpus run is
    reported by."""
    # Score the corpus ONCE: the persisted gate lineage feeds both the
    # n_after_gates count and clean_corpus (previously this rebuilt the
    # scored lineage — a second full corpus scan + explode at 100 TB).
    kept = _gate_survivors(docs, quality_min, dup_bigram_max).persist()
    survivors = clean_corpus(
        docs,
        quality_min=quality_min,
        dup_bigram_max=dup_bigram_max,
        _kept=kept,
    )
    # Three single-row aggregates cross-joined: one distributed plan,
    # nothing collected to the driver. n_input is a metadata-cheap
    # count(*) scan of the raw table (column-pruned), not a rescore.
    n_input = docs.agg(F.count(F.lit(1)).alias("n_input"))
    n_gates = kept.agg(F.count(F.lit(1)).alias("n_after_gates"))
    n_surv = survivors.agg(
        F.count(F.lit(1)).alias("n_survivors"),
        F.sum("n_tokens").cast("long").alias("tokens_kept"),
    )
    return n_input.crossJoin(n_gates).crossJoin(n_surv)
