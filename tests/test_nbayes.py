"""Multinomial Naive Bayes: hand-computed posteriors, unseen-token
smoothing, tie-break determinism, model-state shape."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from capital.llm.nbayes import nb_classify, nb_train


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    )


def test_nb_hand_computed_separable(spark):
    """Two clearly-separated classes: resubstitution must be perfect,
    and the winning score must equal the hand-derived formula."""
    train = _docs(spark, [
        (1, "a", "apple apple banana"),
        (2, "a", "apple banana banana"),
        (3, "b", "zebra zebra yak"),
        (4, "b", "zebra yak yak"),
    ])
    model = nb_train(train)
    assert model.n_docs == 4 and model.vocab_size == 4
    out = {r.doc_id: r for r in nb_classify(train, model).collect()}
    assert [out[i].nb_pred for i in (1, 2, 3, 4)] == ["a", "a", "b", "b"]
    # hand-derive doc 1 vs class a: prior 2/4; class-a mass = 6 tokens,
    # V=4 -> denom 10; apple cnt 3, banana cnt 3.
    lp = lambda c: round(math.log((c + 1) / 10.0), 6)
    want = round(
        round(math.log(2 / 4), 6) + round(2 * lp(3) + 1 * lp(3), 6), 6
    )
    assert abs(out[1].score6 - want) < 2e-6


def test_nb_unseen_tokens_use_smoothing(spark):
    """A test doc of entirely-unseen tokens scores every class by
    prior + N·lp0 — the larger-prior class wins, nothing NULLs."""
    train = _docs(spark, [
        (1, "a", "apple banana"),
        (2, "a", "apple cherry"),
        (3, "b", "zebra yak zebra yak"),
    ])
    model = nb_train(train)
    test = _docs(spark, [(9, None, "quux corge grault")])
    r = nb_classify(test, model).collect()[0]
    # equal token masses (4 vs 4) make lp0 identical; the prior
    # (2/3 vs 1/3) decides. (With UNEQUAL masses the smaller class
    # wins unseen tokens — higher smoothed probability — which is
    # correct NB behavior, not a bug.)
    assert r.nb_pred == "a"
    assert r.score6 is not None


def test_nb_tie_breaks_lexicographically(spark):
    """Perfectly symmetric classes give equal scores on a symmetric
    doc: the argmax must pick the lexicographically smallest label on
    BOTH engines (the window (score6 desc, label asc) contract)."""
    train = _docs(spark, [
        (1, "x", "foo bar"),
        (2, "y", "foo bar"),
    ])
    model = nb_train(train)
    test = _docs(spark, [(9, None, "foo bar")])
    assert nb_classify(test, model).collect()[0].nb_pred == "x"


def test_nb_model_state_is_integer_and_bounded(spark):
    """Model frames carry exact integers only (the trainer
    discipline): no doubles in the persisted state."""
    train = _docs(spark, [(1, "a", "w1 w2"), (2, "b", "w2 w3")])
    model = nb_train(train)
    for f in model.token_counts.schema.fields:
        assert f.dataType.typeName() in ("string", "long")
    for f in model.label_stats.schema.fields:
        assert f.dataType.typeName() in ("string", "long")
    assert model.token_counts.count() == 4  # (a,w1) (a,w2) (b,w2) (b,w3)


def test_nb_save_load_roundtrip_identical(spark, tmp_path):
    """Store→load→classify must be bit-identical to in-memory
    classification (integer state is lossless through parquet)."""
    from capital.llm.nbayes import nb_load, nb_save

    train = _docs(spark, [
        (1, "a", "apple apple banana"),
        (2, "a", "apple banana banana cherry"),
        (3, "b", "zebra zebra yak"),
        (4, "b", "zebra yak yak kiwi"),
    ])
    model = nb_train(train)
    nb_save(model, str(tmp_path / "nbm"))
    loaded = nb_load(spark, str(tmp_path / "nbm"))
    assert (loaded.n_docs, loaded.vocab_size) == (
        model.n_docs, model.vocab_size
    )
    a = sorted(map(tuple, nb_classify(train, model).collect()))
    b = sorted(map(tuple, nb_classify(train, loaded).collect()))
    assert a == b


# --- both scoring shapes: narrow kernel vs token-keyed shuffle -------


def _both_shapes(spark, df, model, **kw):
    """``nb_classify`` rows on the narrow kernel (the model fits
    autoBroadcastJoinThreshold) and on the shuffle plan (threshold
    -1), plus each shape's physical plan."""
    conf = "spark.sql.autoBroadcastJoinThreshold"
    out = []
    for thresh in (None, "-1"):
        prev = spark.conf.get(conf)
        if thresh is not None:
            spark.conf.set(conf, thresh)
        try:
            res = nb_classify(df, model, **kw)
            plan = res._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
            out.append((sorted(map(tuple, res.collect())), plan))
        finally:
            spark.conf.set(conf, prev)
    (narrow, narrow_plan), (shuffle, shuffle_plan) = out
    assert "MapInArrow" in narrow_plan and "Window" not in narrow_plan
    assert "MapInArrow" not in shuffle_plan
    return narrow, shuffle


def test_nb_kernel_matches_shuffle_plan_on_corpus(spark, sf_dir):
    """Resubstitution over the test corpus: identical (id, nb_pred,
    score6) rows, bit for bit, from both shapes — and with
    ``keep_input`` the input columns ride through unchanged."""
    from capital.io import load_table

    d = load_table(spark, sf_dir, "documents")
    model = nb_train(d)
    narrow, shuffle = _both_shapes(spark, d, model)
    assert narrow == shuffle and len(narrow) > 0
    narrow, shuffle = _both_shapes(spark, d, model, keep_input=True)
    assert narrow == shuffle
    assert nb_classify(d, model, keep_input=True).columns == (
        d.columns + ["nb_pred", "score6"]
    )


def test_nb_kernel_matches_shuffle_plan_on_edge_docs(spark):
    """Score ties (symmetric classes: the smaller label wins on both
    shapes), a single-empty-token document (blank text tokenizes to
    ``[""]``), an all-unseen document, and a NULL-text document (no
    token, so no row on either shape)."""
    train = _docs(spark, [
        (1, "y", "foo bar"),
        (2, "x", "foo bar"),
        (3, "z", "qux qux qux"),
    ])
    model = nb_train(train)
    test = _docs(spark, [
        (10, None, "foo bar"),
        (11, None, ""),
        (12, None, "   "),
        (13, None, "never seen words"),
        (14, None, None),
        (15, None, "Foo  BAR qux"),
    ])
    narrow, shuffle = _both_shapes(spark, test, model)
    assert narrow == shuffle
    got = {r[0]: r for r in narrow}
    assert set(got) == {10, 11, 12, 13, 15}
    assert got[10][1] == "x"  # tie: (score6 desc, label asc)
    assert got[11] == (11,) + got[12][1:]


def test_nb_kernel_matches_shuffle_plan_on_stored_model(spark, tmp_path):
    """A stored model (``nb_save`` → ``nb_load``) takes the kernel
    too, with the same rows as the shuffle plan and the in-memory
    model."""
    from capital.llm.nbayes import nb_load, nb_save

    train = _docs(spark, [
        (1, "a", "apple apple banana"),
        (2, "a", "apple banana banana cherry"),
        (3, "b", "zebra zebra yak"),
        (4, "b", "zebra yak yak kiwi"),
        (5, "c", "kiwi cherry"),
    ])
    model = nb_train(train)
    nb_save(model, str(tmp_path / "nbm"))
    loaded = nb_load(spark, str(tmp_path / "nbm"))
    narrow, shuffle = _both_shapes(spark, train, loaded)
    assert narrow == shuffle
    assert narrow == sorted(map(tuple, nb_classify(train, model).collect()))
