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

with ``lp_l(c) = round(ln((c + α) / (total_l + α·V)), 6)`` — so the
ONLY join is doc-tokens × the class-token table on the token (inner;
each probe row matches ≤ |labels| aggregate rows), followed by a
labels-sized broadcast grid. Nothing enumerates (doc × vocab), and
the model is vocabulary-sized state, never corpus-sized.
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


def _doc_tokens(
    df: DataFrame,
    id_col: str,
    text_col: str,
    partition_by_id: bool = False,
) -> DataFrame:
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
    its own doc-token frame and pass it through a custom flow.

    ``partition_by_id``: the classify-side partition-reuse shape
    (round 16) — one upfront id exchange that the tf aggregate and
    every downstream id-keyed stage reuse. Only worth it when the
    class-token join broadcasts (otherwise the token-keyed shuffle
    destroys the layout and the plain groupBy exchange is strictly
    cheaper — it ships map-side-combined partials, the repartition
    ships raw token rows)."""
    from capital.llm.text import normalized, tokens

    ex = df.select(
        F.col(id_col),
        F.explode(tokens(normalized(F.col(text_col)))).alias("__tok"),
    )
    if partition_by_id:
        ex = ex.repartition(F.col(id_col))
    return (
        ex.groupBy(id_col, "__tok")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )


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
    # (round 17).
    from capital.io import overlapped_job

    with overlapped_job(
        lambda: labels.agg(
            F.count_distinct("__label").alias("L")
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
) -> DataFrame:
    """Score every document against every class and emit the argmax:
    ``(id, nb_pred, score6)`` — score6 the winner's rounded
    log-posterior (up to the shared constant −Σ ln tf!)."""
    from capital.llm.text import round6_stable
    from capital.queries.registry import decimal_sum

    a = F.lit(float(alpha))
    v = F.lit(float(model.vocab_size))
    denom = F.col("__total_tf").cast("double") + a * v
    lstats = model.label_stats.select(
        "__label",
        F.round(
            F.log(F.col("__n_docs").cast("double") / F.lit(float(model.n_docs))),
            6,
        ).alias("__lp_prior"),
        F.round(F.log(a / denom), 6).alias("__lp0"),
    )
    lp_cnt = F.round(
        F.log(
            (F.col("__cnt").cast("double") + a)
            / (F.col("__total_tf").cast("double") + a * v)
        ),
        6,
    )
    # per-label token log-likelihoods carry their label's denominator.
    ct = model.token_counts.join(
        model.label_stats.select("__label", "__total_tf"), "__label"
    ).select("__label", "__tok", lp_cnt.alias("__lp"))

    # Partitioning-reuse (round 16, the r13 HashPartitioning-superset
    # rule): ONE upfront hash exchange on the doc id serves the
    # (id, tok) tf aggregate, the (id, label) seen aggregate, the
    # per-id total, the grid join AND the argmax window with zero
    # re-exchange — provided the class-token table joins in as a
    # broadcast. The model-sized decision is priced like pagerank's
    # state broadcast: <= n_labels x vocab_size rows x ~48 B against
    # autoBroadcastJoinThreshold; a lake-sized vocab falls back to
    # the token-keyed shuffle join exactly as the old plan did.
    from capital.io import _parse_bytes

    thresh = _parse_bytes(
        df.sparkSession.conf.get(
            "spark.sql.autoBroadcastJoinThreshold", "10MB"
        )
    )
    ct_bytes = model.n_labels * model.vocab_size * 48
    bcast_ok = model.n_labels > 0 and 0 < ct_bytes < max(thresh, 0)
    # partition_by_id only when the model broadcasts: otherwise the
    # token-keyed shuffle join destroys the id layout anyway and the
    # fallback must be the EXACT pre-round-16 plan (round-16 review —
    # an unconditional repartition ships raw un-combined token rows
    # on top of the old exchanges).
    dt = _doc_tokens(df, id_col, text_col, partition_by_id=bcast_ok)
    seen = (
        dt.join(F.broadcast(ct) if bcast_ok else ct, "__tok")
        .groupBy(id_col, "__label")
        .agg(
            decimal_sum(
                F.col("__tf").cast("double") * F.col("__lp"), "__seen_sum"
            ),
            F.sum("__tf").cast("long").alias("__seen_tf"),
        )
    )
    ndoc = dt.groupBy(id_col).agg(F.sum("__tf").cast("long").alias("__n"))
    # Grid + window argmax (kept over the literal-stats projection
    # rewrite, round 16, measured-negative ledger: collecting the
    # labels-sized lstats bakes the argmax into one projection and
    # removes the grid SMJ's two (id, label) exchanges + the window
    # exchange — but for IN-CALL models the collect re-executes the
    # whole corpus-side label_stats pipeline as an extra eager job,
    # 2.20 -> 2.67 s at sf0.1. Net negative until models are stored;
    # a stored-model-only fast path would add a second parity
    # surface for ~0.5 s — not taken).
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
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(id_col),
            F.col("__label").alias("nb_pred"),
            F.col("__score6").alias("score6"),
        )
    )


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
