"""Connected-components / duplicate-cluster resolution unit tests.

The oracle-parity test covers the end-to-end pipeline; these pin the
algorithm on hand-built graphs where the answer is obvious — including
a long chain, which forces multiple propagation rounds (the fixpoint
logic, not just one join).
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from capital.llm.clusters import (
    component_summary,
    connected_components,
    deduplicated_corpus,
)


def _components(spark, pair_rows, vertex_ids):
    pairs = spark.createDataFrame(pair_rows, "id_a long, id_b long")
    verts = spark.createDataFrame(
        [(v,) for v in vertex_ids], "doc_id long"
    )
    out = connected_components(pairs, verts)
    return {r.doc_id: r.component_id for r in out.collect()}


def test_chain_collapses_to_min_label(spark):
    # 0-1-2-3-4-5 chain: diameter 5 ⇒ needs several rounds to converge.
    chain = [(i, i + 1) for i in range(5)]
    got = _components(spark, chain, range(8))
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 5: 0, 6: 6, 7: 7}


def test_two_components_and_unordered_pairs(spark):
    # Pair direction must not matter; 10 appears only as id_a.
    got = _components(spark, [(3, 1), (1, 2), (10, 11)], [1, 2, 3, 10, 11, 99])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_summary_and_survivor_corpus(spark):
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in [1, 2, 3, 7]], "doc_id long, text string"
    )
    comps = connected_components(pairs, docs.select("doc_id"))
    summary = {
        r.component_id: (r.keep_id, r.n_members)
        for r in component_summary(comps).collect()
    }
    assert summary == {1: (1, 3), 7: (7, 1)}
    survivors = sorted(
        r.doc_id for r in deduplicated_corpus(docs, comps).collect()
    )
    assert survivors == [1, 7]


def test_survivor_corpus_drops_null_ids_like_keeper_semi_join(spark):
    """A NULL-id row never matches a join key: the keeper semi-join
    dropped it, and deduplicated_corpus drops it explicitly rather than
    letting the drop-set anti-join keep it."""
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (7, "d"), (None, "null id")],
        "doc_id long, text string",
    )
    comps = connected_components(
        pairs, docs.select("doc_id").filter(F.col("doc_id").isNotNull())
    )
    keepers = component_summary(comps).select(
        F.col("keep_id").alias("doc_id")
    )
    old = sorted(
        (r.doc_id, r.text)
        for r in docs.join(keepers, "doc_id", "left_semi").collect()
    )
    new = sorted(
        (r.doc_id, r.text) for r in deduplicated_corpus(docs, comps).collect()
    )
    assert old == new == [(1, "a"), (7, "d")]


def test_incremental_probe_flags_only_history_collisions(spark):
    from capital.llm.dedup import (
        band_keys,
        incremental_neardup_flags,
        minhash_signatures,
    )

    history = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely different historical content about markets"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # near-identical to history doc 1 → must flag
            (30, "the quick brown fox jumps over the lazy dog today"),
            # novel → must not flag
            (31, "unrelated brand new text with no overlap whatsoever"),
        ],
        "doc_id long, text string",
    )
    index = band_keys(minhash_signatures(history, num_hashes=16),
                      bands=4, rows_per_band=4)
    out = {r.doc_id: r for r in incremental_neardup_flags(
        batch, index, num_hashes=16, bands=4, rows_per_band=4
    ).collect()}
    assert out[30].is_dup and out[30].first_hit_id == 1
    assert not out[31].is_dup and out[31].n_index_hits == 0


def test_deep_chain_converges_via_pointer_jumping(spark):
    """A 300-node path has diameter 299 — plain min-label propagation
    needs 299 rounds and used to stop at max_rounds with silently
    WRONG labels. Pointer jumping must converge it in <= 25 rounds
    with every node labeled 0."""
    from capital.llm.clusters import connected_components

    n = 300
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    vertices = spark.range(n).select(F.col("id").alias("doc_id"))
    comps = connected_components(pairs, vertices)
    labels = {r.doc_id: r.component_id for r in comps.collect()}
    assert len(labels) == n
    assert set(labels.values()) == {0}


def test_nonconvergence_raises_not_silent(spark):
    from capital.llm.clusters import connected_components

    n = 64
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    vertices = spark.range(n).select(F.col("id").alias("doc_id"))
    with pytest.raises(RuntimeError, match="did not converge"):
        # depth 63 needs ~log2(63)+1 ≈ 7 doubling rounds; 2 is too few
        # (1 round can't converge and round 2 can't detect fixpoint).
        connected_components(pairs, vertices, max_rounds=2)


def test_connected_components_reliable_checkpoint_matches_local(
    spark, tmp_path
):
    """checkpoint_dir= (reliable-storage truncation) must produce the
    same labels as the localCheckpoint default."""
    from capital.llm.clusters import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 40, 2)] + [(1, 3), (5, 9), (20, 30)],
        "id_a long, id_b long",
    )
    verts = spark.range(45).withColumnRenamed("id", "doc_id")
    a = sorted(
        tuple(r) for r in connected_components(pairs, verts).collect()
    )
    b = sorted(
        tuple(r)
        for r in connected_components(
            pairs, verts, checkpoint_dir=str(tmp_path / "cc_ckpt")
        ).collect()
    )
    assert a == b


def test_duplicate_drop_ids_matches_keeper_semi_join(spark):
    """The round-17 drop-set form must equal the old shape exactly:
    corpus minus component_summary keepers == corpus anti-join
    duplicate_drop_ids, on a graph with chains, a clique, isolated
    vertices, and ids absent from the pair graph."""
    from capital.llm.clusters import (
        component_summary,
        connected_components,
        duplicate_drop_ids,
    )

    pairs = spark.createDataFrame(
        [(0, 7), (7, 14), (3, 4), (4, 5), (3, 5), (21, 22)],
        "id_a long, id_b long",
    )
    corpus = spark.range(30).withColumnRenamed("id", "doc_id")

    comps = connected_components(pairs, corpus)
    keepers = component_summary(comps).select(
        F.col("keep_id").alias("doc_id")
    )
    old = sorted(
        r.doc_id for r in corpus.join(keepers, "doc_id", "left_semi").collect()
    )
    new = sorted(
        r.doc_id
        for r in corpus.join(
            duplicate_drop_ids(pairs), "doc_id", "left_anti"
        ).collect()
    )
    assert old == new
    # and the drop set is pair-graph-sized: only edge vertices appear
    dropped = {r.doc_id for r in duplicate_drop_ids(pairs).collect()}
    assert dropped == {7, 14, 4, 5, 22}


def test_lsh_candidate_ids_matches_pairs(spark):
    """ids-only banding must emit exactly the candidate id set of the
    full (est_jaccard) form."""
    from capital.llm.dedup import (
        lsh_candidate_ids,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    from capital.io import load_table

    docs = load_table(
        spark, "/root/testdata/sf0.001", "documents"
    ).limit(120)
    sigs = minhash_signatures(docs, num_hashes=16, shingle_k=3)
    full = sorted(
        (r.id_a, r.id_b)
        for r in lsh_candidate_pairs(
            sigs, bands=4, rows_per_band=4
        ).collect()
    )
    ids = sorted(
        (r.id_a, r.id_b)
        for r in lsh_candidate_ids(sigs, bands=4, rows_per_band=4).collect()
    )
    assert ids == full


# --- remove_duplicates: driver closure vs the iterative closure ------

_PLANTED = {
    "star": [(0, i) for i in range(1, 12)],
    # a 71-vertex chain: label propagation alone needs ~70 rounds
    # (MAX_ROUNDS is 25), so the iterative side converges only through
    # pointer jumping
    "chain": [(i + 1, i) for i in range(40, 110)],
    "two_components": [(5, 9), (9, 2), (30, 31), (31, 33), (33, 30)],
    "reversed_and_duplicate": [(9, 4), (4, 9), (4, 9), (7, 4), (7, 7), (12, 7)],
}


def _drop_sets(spark, edges):
    """(driver drop set, distributed drop set) for one edge list."""
    from capital.llm.clusters import _min_id_drops, duplicate_drop_ids

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    dist = {r.doc_id for r in duplicate_drop_ids(pairs).collect()}
    return _min_id_drops(edges), dist


@pytest.mark.parametrize("graph", sorted(_PLANTED))
def test_remove_duplicates_driver_matches_iterative(spark, monkeypatch, graph):
    """Both sides of the driver bound give the same survivors: the
    driver union-find + IN filter, and (bound patched to 0) the
    iterative closure + anti-join."""
    import capital.llm.clusters as cl

    edges = _PLANTED[graph]
    driver, dist = _drop_sets(spark, edges)
    assert driver == dist and driver

    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    corpus = spark.createDataFrame(
        [(i,) for i in range(120)] + [(None,)], "doc_id long"
    )
    small = cl.remove_duplicates(corpus, pairs)
    assert "Join" not in small._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    monkeypatch.setattr(cl, "DRIVER_CLOSURE_MAX_PAIRS", 0)
    big = cl.remove_duplicates(corpus, pairs)
    got_small = sorted(map(tuple, small.collect()), key=repr)
    assert got_small == sorted(map(tuple, big.collect()), key=repr)
    assert (None,) in got_small  # NULL ids stay, as the anti-join keeps them


def test_remove_duplicates_without_pairs_is_identity(spark):
    from capital.llm.clusters import remove_duplicates

    corpus = spark.range(5).withColumnRenamed("id", "doc_id")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert remove_duplicates(corpus, pairs) is corpus


@given(
    edges=st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)), max_size=30
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_driver_closure_matches_iterative_on_random_graphs(spark, edges):
    driver, dist = _drop_sets(spark, edges)
    assert driver == dist
