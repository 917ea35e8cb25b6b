"""Multinomial Naive Bayes text classifier — the engine's trainable
(supervised) member of the curation/lang-ID family, next to the
marker-heuristic ``text.with_lang_id`` and the unsupervised LM
perplexity gates. The GPT-3/FineWeb-style "quality classifier" slot:
train on labeled strata, score the lake, gate on the prediction.

Model state is EXACT INTEGERS (the tokenizer-trainer discipline):

- ``(label, token, cnt)`` — token occurrences per class,
- ``(label, n_docs, total_tf)`` — class priors and token mass,
- ``V`` — global distinct-vocabulary size (Laplace denominator).

Floats appear only at scoring, under the engine's PSI/MI parity
discipline: every log term is ``round(ln(exact_int / exact_int), 6)``
(the integer division is bit-identical on any engine; round-6 absorbs
the ≤1-ulp ``ln`` implementation difference), per-document term sums
go through :func:`~capital.queries.registry.decimal_sum` (order-free
exact decimal reduction), and the final three-term score has a fixed
addition shape. The argmax breaks ties (score6 desc, label asc).

Scoring shape at scale (the unseen-token decomposition): a document's
score against class ``l`` is

    ln(prior_l) + Σ_seen tf·lp_l(cnt) + (N_doc − seen_tf)·lp_l(0)

with ``lp_l(c) = round(ln((c + α) / (total_l + α·V)), 6)``, so nothing
enumerates (doc × vocab) and the model is vocabulary-sized state,
never corpus-sized. Two shapes evaluate it, chosen by the model's
size against ``autoBroadcastJoinThreshold``:

- **Bounded model (the norm):** the lp terms are computed in Spark and
  collected once, then every document is scored in ONE narrow Arrow
  ``mapInArrow`` kernel over Spark's own token arrays — no exchange,
  no join, no window. The kernel sums the round-6 terms as exact
  integers (the value ``decimal_sum`` gives), applies the same
  three-term addition and ``round6_stable``, and takes the argmax
  (score6 desc, label asc): bit-identical to the plan below.
- **Lake-sized model:** the one join is doc-tokens × the class-token
  table on the token (inner; each probe row matches ≤ |labels|
  aggregate rows), followed by a labels-sized broadcast grid and a
  window argmax.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from capital.io import read_parquet

#: Laplace smoothing pseudo-count.
ALPHA = 1


@dataclass(frozen=True)
class NBModel:
    """Trained multinomial NB: exact-integer frames + vocab size."""

    token_counts: DataFrame   # (label, token, cnt)
    label_stats: DataFrame    # (label, n_docs, total_tf)
    n_docs: int
    vocab_size: int
    #: distinct label count — sizes the class-token table
    #: (<= n_labels x vocab_size rows) for the classify-side
    #: broadcast-vs-shuffle decision (the pagerank auto-pick
    #: precedent). 0 = unknown (legacy stored models): never
    #: broadcast.
    n_labels: int = 0


def _doc_tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, token, tf) over normalized tokens (the lang-ID twin) —
    the ONE tokenize definition train and classify share (a private
    classify-side copy would let the two silently diverge; round-16
    review).

    Deliberately UN-barriered (round 15, measured in-session
    min-of-2): the duplicate tokenize passes are narrow and
    concurrency-hidden on local[32] (the r14 rule — attribute, don't
    barrier): plain 3.0 s vs +localCheckpoint 3.9 s at sf0.1. At lake
    scale the duplicate passes are a throughput cost on the scan
    side; a caller chaining several classifications should persist
    its own doc-token frame and pass it through a custom flow."""
    return (
        df.select(
            F.col(id_col), F.explode(_token_array(text_col)).alias("__tok")
        )
        .groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )


def _token_array(text_col: str):
    from capital.llm.text import normalized, tokens

    return tokens(normalized(F.col(text_col)))


def nb_train(
    df: DataFrame,
    label_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> NBModel:
    """Train from a labeled corpus: one explode + two map-side-combined
    aggregates; the two driver collects are label-count and scalar
    metadata (bounded — the IVF/centroid precedent)."""
    dt = _doc_tokens(df, id_col, text_col)
    labels = df.select(F.col(id_col), F.col(label_col).alias("__label"))
    tok = dt.join(labels, id_col)
    token_counts = tok.groupBy("__label", "__tok").agg(
        F.sum("__tf").cast("long").alias("__cnt")
    )
    label_stats = (
        tok.groupBy("__label")
        .agg(
            F.count_distinct(F.col(id_col)).alias("__n_docs"),
            F.sum("__tf").cast("long").alias("__total_tf"),
        )
    )
    # one bounded metadata collect. Round-16 optimization (guide §2.3
    # "shuffle fewer bytes"): V and n are properties of the exploded
    # token frame ALONE — the labels join cannot add or drop (id, tok)
    # rows (inner on the id the tokens came from), so aggregating `dt`
    # instead of `tok` drops the join from the meta job, and moving the
    # label count out drops one branch of the multi-distinct Expand
    # (Spark plans k count_distincts as a k-way Expand of the exploded
    # relation — 3x the token rows through the partial aggregate; now
    # 2x). The label count runs as its own job over the RAW corpus's
    # label column (no tokenize, column-pruned scan — metadata-cheap).
    # The two collects are independent read-only jobs — run the tiny
    # label count on a driver thread concurrent with the token-frame
    # aggregate (guide §2.6: FIFO scheduling back-fills the small job
    # into idle task slots), so train pays one serial job floor, not
    # two. overlapped_job joins the worker on any exit, so a failing
    # metadata aggregate cannot leave the label count running
    # (round 17). The label count is the size of one label set:
    # class labels are few, so the set merges in one exchange where
    # count_distinct plans two (one job fewer; NULL is skipped either
    # way).
    from capital.io import overlapped_job

    with overlapped_job(
        lambda: labels.agg(
            F.size(F.collect_set("__label")).alias("L")
        ).collect()[0]["L"]
    ) as labels_future:
        meta = dt.agg(
            F.count_distinct("__tok").alias("v"),
            F.count_distinct(F.col(id_col)).alias("n"),
        ).collect()[0]
        n_labels = labels_future.result()
    return NBModel(
        token_counts=token_counts,
        label_stats=label_stats,
        n_docs=int(meta["n"]),
        vocab_size=int(meta["v"]),
        n_labels=int(n_labels),
    )


def nb_classify(
    df: DataFrame,
    model: NBModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = ALPHA,
    keep_input: bool = False,
) -> DataFrame:
    """Score every document against every class and emit the argmax:
    ``(id, nb_pred, score6)`` — score6 the winner's rounded
    log-posterior (up to the shared constant −Σ ln tf!).
    ``keep_input=True`` returns every column of ``df`` followed by
    ``nb_pred, score6`` instead (the bounded kernel passes its input
    through, so a caller needs no ``df ⋈ pred`` join). Documents with
    no token (NULL text) get no row either way. Ids are unique
    (the corpus contract)."""
    from capital.io import _parse_bytes

    a = F.lit(float(alpha))
    v = F.lit(float(model.vocab_size))
    total = F.col("__total_tf").cast("double")
    lp_prior = F.round(
        F.log(F.col("__n_docs").cast("double") / F.lit(float(model.n_docs))),
        6,
    ).alias("__lp_prior")
    lp0 = F.round(F.log(a / (total + a * v)), 6).alias("__lp0")
    lp_cnt = F.round(
        F.log((F.col("__cnt").cast("double") + a) / (total + a * v)), 6
    ).alias("__lp")

    # The model-sized decision is priced like pagerank's state
    # broadcast: <= n_labels x vocab_size rows x ~48 B against
    # autoBroadcastJoinThreshold.
    thresh = _parse_bytes(
        df.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10MB"
        )
    )
    ct_bytes = model.n_labels * model.vocab_size * 48
    bcast_ok = model.n_labels > 0 and 0 < ct_bytes < max(thresh, 0)
    if bcast_ok:
        # Every label of label_stats has token rows (both frames
        # aggregate the same labeled tokens), so one null-safe join
        # carries each label's prior and unseen terms to the driver;
        # the kernel drops the NULL label's seen rows, which the
        # equi-join below never matches.
        stats = model.label_stats.select(
            F.col("__label").alias("__slabel"), "__total_tf", "__n_docs"
        )
        terms = model.token_counts.join(
            F.broadcast(stats),
            F.col("__label").eqNullSafe(F.col("__slabel")),
        ).select("__label", "__tok", lp_cnt, lp_prior, lp0)
        return _score_narrow(df, terms, text_col, id_col, keep_input)

    lstats = model.label_stats.select("__label", lp_prior, lp0)
    # per-label token log-likelihoods carry their label's denominator.
    ct = model.token_counts.join(
        model.label_stats.select("__label", "__total_tf"), "__label"
    ).select("__label", "__tok", lp_cnt)

    # Lake-sized model: the token-keyed shuffle join, grid and window.
    # A bounded model never takes this plan: each of its AQE stages is
    # one more job, which the narrow kernel does not pay (with the
    # driver-side duplicate closure, the curation funnel runs 35 jobs
    # instead of 65, rows identical).
    from capital.llm.text import round6_stable
    from capital.queries.registry import decimal_sum

    dt = _doc_tokens(df, id_col, text_col)
    seen = (
        dt.join(ct, "__tok")
        .groupBy(id_col, "__label")
        .agg(
            decimal_sum(
                F.col("__tf").cast("double") * F.col("__lp"), "__seen_sum"
            ),
            F.sum("__tf").cast("long").alias("__seen_tf"),
        )
    )
    ndoc = dt.groupBy(id_col).agg(F.sum("__tf").cast("long").alias("__n"))
    grid = ndoc.crossJoin(F.broadcast(lstats))
    scored = (
        grid.join(seen, [id_col, "__label"], "left")
        .select(
            F.col(id_col),
            "__label",
            # round6_stable, not round(): the pre-round double is
            # bit-identical by construction (decimal-summed round-6
            # terms + integer × round-6), so engine round()
            # half-way divergence (round-7 audit) applies — the
            # four-IEEE-op form is the parity-safe round here.
            round6_stable(
                F.col("__lp_prior")
                + F.coalesce("__seen_sum", F.lit(0.0))
                + (
                    F.col("__n") - F.coalesce("__seen_tf", F.lit(0))
                ).cast("double")
                * F.col("__lp0")
            ).alias("__score6"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("__score6"), F.asc("__label")
    )
    pred = (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(id_col),
            F.col("__label").alias("nb_pred"),
            F.col("__score6").alias("score6"),
        )
    )
    return df.join(pred, id_col) if keep_input else pred


def _score_narrow(
    df: DataFrame,
    terms: DataFrame,
    text_col: str,
    id_col: str,
    keep_input: bool,
) -> DataFrame:
    """The bounded-model shape of :func:`nb_classify`: collect the lp
    terms ``(label, token, lp, lp_prior, lp0)`` in one action and
    score each document in one Arrow kernel over
    ``tokens(normalized(text))`` as Spark computes it. The model ships
    by closure capture, as ``assemble.decontaminate_spans`` ships its
    gram set: the task binary is broadcast once per stage, and nothing
    driver-pinned outlives the plan.

    Bit-identity with the shuffle plan: each ``lp`` is a round-6
    double, so ``q = round(lp·10⁶)`` is its exact integer and
    ``CAST(tf·lp AS DECIMAL(28,6))`` is exactly ``tf·q`` micro-units
    (the product's error is far below half a micro-unit), so the
    decimal sum is the integer ``Σ tf·q`` and its cast to double is
    the correctly rounded ``Σ tf·q / 10⁶``, which Python's int / int
    division gives. The three-term addition, ``round6_stable``
    (``floor(x·10⁶ + 0.5) / 10⁶``) and the argmax order are the
    plan's own IEEE operations."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import DoubleType, StructField, StructType

    from capital.io import parallelize_narrow

    t = terms.toArrow().to_pydict()
    # Spark's ascending order puts NULL first; ties keep the earlier
    # label, so iterating in this order is the (score6 desc, label
    # asc) argmax.
    labels = sorted(
        set(t["__label"]), key=lambda lab: (lab is not None, lab)
    )
    index = {lab: i for i, lab in enumerate(labels)}
    prior = [0.0] * len(labels)
    lp0 = [0.0] * len(labels)
    seen: dict = {}
    for lab, tok, lp, lp_p, lp_0 in zip(
        t["__label"], t["__tok"], t["__lp"], t["__lp_prior"], t["__lp0"]
    ):
        i = index[lab]
        prior[i], lp0[i] = lp_p, lp_0
        if lab is not None:
            seen.setdefault(tok, []).append((i, round(lp * 1e6)))

    cols = df.columns if keep_input else [id_col]
    src = parallelize_narrow(
        df.select(*cols, _token_array(text_col).alias("__toks"))
    )
    label_type = terms.schema["__label"].dataType
    out_schema = StructType(
        [df.schema[c] for c in cols]
        + [
            StructField("nb_pred", label_type),
            StructField("score6", DoubleType()),
        ]
    )
    n_labels, n_cols = len(labels), len(cols)
    pred_type = to_arrow_type(label_type)

    def _score(batches):
        import math
        from collections import Counter

        import pyarrow as pa

        for batch in batches:
            rows, preds, scores = [], [], []
            for row, toks in enumerate(batch.column(n_cols).to_pylist()):
                if not toks or not n_labels:
                    continue  # NULL text or no class: no grid row
                seen_q = [0] * n_labels
                seen_tf = [0] * n_labels
                for tok, tf in Counter(toks).items():
                    for i, q in seen.get(tok, ()):
                        seen_q[i] += tf * q
                        seen_tf[i] += tf
                best, best_s = 0, None
                for i in range(n_labels):
                    x = (
                        prior[i] + seen_q[i] / 1_000_000
                        + float(len(toks) - seen_tf[i]) * lp0[i]
                    )
                    s6 = math.floor(x * 1000000.0 + 0.5) / 1000000.0
                    if best_s is None or s6 > best_s:
                        best, best_s = i, s6
                rows.append(row)
                preds.append(labels[best])
                scores.append(best_s)
            take = pa.array(rows, pa.int64())
            yield pa.RecordBatch.from_arrays(
                [batch.column(j).take(take) for j in range(n_cols)]
                + [
                    pa.array(preds, pred_type),
                    pa.array(scores, pa.float64()),
                ],
                names=out_schema.names,
            )

    return src.mapInArrow(_score, schema=out_schema)


def nb_save(model: NBModel, path: str) -> None:
    """Persist the model: two integer frames + a 1-row meta table —
    the stored-index posture (BM25 postings / IVF lake family). All
    state is exact integers, so store→load→classify is bit-identical
    to in-memory classification (tested)."""
    import os

    model.token_counts.write.mode("overwrite").parquet(
        os.path.join(path, "token_counts")
    )
    model.label_stats.write.mode("overwrite").parquet(
        os.path.join(path, "label_stats")
    )
    spark = model.token_counts.sparkSession
    spark.createDataFrame(
        [(model.n_docs, model.vocab_size, model.n_labels)],
        "n_docs long, vocab_size long, n_labels long",
    ).write.mode("overwrite").parquet(os.path.join(path, "meta"))


def nb_load(spark, path: str) -> NBModel:
    """Read half of :func:`nb_save`."""
    import os

    meta = read_parquet(spark, os.path.join(path, "meta")).collect()[0]
    row = meta.asDict()
    return NBModel(
        token_counts=read_parquet(spark, os.path.join(path, "token_counts")),
        label_stats=read_parquet(spark, os.path.join(path, "label_stats")),
        n_docs=int(row["n_docs"]),
        vocab_size=int(row["vocab_size"]),
        n_labels=int(row.get("n_labels", 0) or 0),
    )
