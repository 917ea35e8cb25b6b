"""The MODERN curation pipeline (``pipe_curation_v2``) — the
FineWeb/C4-shaped funnel composed end-to-end from the engine's
round-13–15 operator tiers:

    raw docs ─ benchmark holdout (eval suite split)
      → HTML render (fixture) → main-content extraction (real kernel)
      → trainable language gate (multinomial NB, resubstitution)
      → Gopher document rules
      → C4 line rules (keep rule-surviving lines; page gate)
      → corpus-wide exact line dedup (first occurrence wins)
      → MinHash→LSH→verify near-dup cluster dedup (min-id survivor)
      → surgical span decontamination vs the benchmark holdout
      → PII scrub (emails / URLs / phones / IPv4)
      → per-document survivors + per-source funnel profile

Every stage is one of the engine's independently-oracled operators;
this module only composes them, so the funnel inherits each stage's
scale posture: the extraction/decontamination stages and the NB
language gate are shuffle-free per-document kernels, the other gates
are narrow projections, the dedup tiers shuffle blocked pair spaces
(never O(n²)), and the NB model / benchmark-gram state is bounded
(vocabulary/eval-suite-sized) by construction. The pair graph is
collected once: empty, it leaves the corpus as is; small, it closes
on the driver into one ``IN`` filter; over the driver bound, it takes
the iterative closure (``clusters.remove_duplicates``). The DuckDB
oracle for the composed pipeline is built from the same SQL fragments
as the per-operator oracles (``capital/queries/pipeline_v2_queries.py``),
so the whole funnel is hash-checked end to end — the proof that the
tiers' fixture and tokenizer conventions compose.

Fixture composition: the driver corpus is single-line synthetic text,
so the pipeline renders each document through BOTH fixture
conventions chained — the C4 ``\\n``-line fixture
(:func:`capital.llm.c4.with_line_fixture`) builds punctuated lines,
and :func:`with_v2_html` renders each line as an HTML paragraph
(every ``V2_LINKY_MOD``-th one an all-anchor "related links" block)
inside nav/footer/script chrome. The REAL extraction kernel then
recovers exactly the non-linky lines — re-derivable in SQL from the
shared constants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: eval-suite holdout: every V2_BENCH_MOD-th document is the
#: "benchmark" the decontamination stage scrubs against; it never
#: enters the training funnel.
V2_BENCH_MOD = 10
#: every paragraph with 0-based index i % V2_LINKY_MOD == V2_LINKY_OFF
#: renders as an all-anchor block (dropped by link-density).
V2_LINKY_MOD = 4
V2_LINKY_OFF = 1
#: span-decontamination shingle width (the asm_decontaminate_spans k).
V2_DECON_K = 5
#: C4 page gate, v2 override: the driver docs are 10–99 tokens, so
#: after the linky drop and the terminal-punct line rule the paper's
#: 5-kept-lines floor would gate out nearly everything.
V2_MIN_KEPT_LINES = 3
#: Gopher overrides for the same short-doc reason (the cur_gopher_rules
#: precedent).
V2_GOPHER_OVERRIDES = {"min_words": 20, "min_required_stopwords": 1}
#: MinHash→LSH→verify knobs (the dedup_minhash_verified constants).
V2_MH = dict(
    num_hashes=16, bands=4, rows_per_band=4, shingle_k=3, threshold=0.5
)


def with_v2_html(df: DataFrame, lined_col: str = "lined_text") -> DataFrame:
    """Render the ``\\n``-line fixture as an HTML page: one ``<p>`` per
    line, every ``V2_LINKY_MOD``-th (offset ``V2_LINKY_OFF``) an
    all-anchor block, wrapped in head/script/nav/footer chrome. Lines
    are ``&<>``-escaped so the parser round-trip is exact; NULL lined
    text → NULL html. Fixture-generation only."""
    esc = (
        "replace(replace(replace(l, '&', '&amp;'), '<', '&lt;'),"
        " '>', '&gt;')"
    )
    paras = (
        f"transform(split({lined_col}, '\\n'),"
        f" (l, i) -> CASE WHEN i % {V2_LINKY_MOD} = {V2_LINKY_OFF}"
        f" THEN concat('<p class=\"rel\"><a href=\"#\">', {esc},"
        f" '</a></p>')"
        f" ELSE concat('<p>', {esc}, '</p>') END)"
    )
    html = (
        "concat('<html><head><title>doc</title>"
        "<script>var x = 1;</script></head><body>',"
        "'<nav><a href=\"/\">home</a> <a href=\"/about\">about</a></nav>',"
        f"array_join({paras}, ''),"
        "'<footer><a href=\"/terms\">terms</a> copyright</footer>',"
        "'</body></html>')"
    )
    return df.withColumn(
        "html",
        F.when(F.col(lined_col).isNotNull(), F.expr(html)),
    )


def v2_work_split(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The ONE holdout rule (``doc_id % V2_BENCH_MOD``): returns
    ``(work, bench_raw)``. Exposed so the stored-model query, tests
    and tools cannot drift from the split the funnel applies
    internally (round-16 review)."""
    key = F.col("doc_id") % V2_BENCH_MOD
    return docs.filter(key != 0), docs.filter(key == 0).select(
        "doc_id", "text"
    )


def extract_corpus(work: DataFrame, barrier=None) -> DataFrame:
    """The extraction stage alone: work docs → barriered
    ``(doc_id, lang, source, text)`` extracted corpus. Split out of
    :func:`gate_flags` so a stored-model caller can train WITHOUT
    running (and discarding) an in-call training pass (round-16
    review: the stored query trained twice per call)."""
    from capital.llm.c4 import with_line_fixture
    from capital.llm.extract import extract_main_content

    if barrier is None:
        # lazy: the first consumer (nb_train's metadata aggregate in
        # the stored-model path) materializes the barrier — one job
        # fewer, blocks persisted for every later consumer (round 16).
        barrier = lambda df: df.localCheckpoint(eager=False)  # noqa: E731
    h = with_v2_html(with_line_fixture(work)).select(
        "doc_id", "lang", "source", "html"
    )
    ex = extract_main_content(h)
    return barrier(
        ex.filter(F.col("main_text").isNotNull()).select(
            "doc_id", "lang", "source", F.col("main_text").alias("text")
        )
    )


def gate_flags(work: DataFrame, nb_model=None, barrier=None):
    """The per-document gate tier shared by the batch funnel AND the
    streaming twin (one implementation, the ``line_dedup_flags``
    no-drift convention): HTML render → REAL extraction → NB language
    gate → Gopher rules → C4 line/page rules, evaluated as ONE flag
    frame (the three gates are independent per-document predicates
    over the extracted text, so filtering on the conjunction is
    identical to sequential gating — and it buys a single checkpoint
    plus a single aggregate for the per-source profile). Returns
    ``(c0, flagged)``: the extracted corpus and the flag frame
    ``(doc_id, lang, source, text, nb_ok, gopher_keep, c4_keep,
    c4_text)``.

    ``nb_model``: a stored model (llm/nbayes.nb_load) — the streaming
    twin and its batch-equality test share one model; None trains
    in-call (resubstitution, the registered query). ``barrier``:
    materialization for the multi-read extracted corpus (the stages
    builder passes its plan checkpointer)."""
    from capital.llm.c4 import c4_quality_filter
    from capital.llm.curation import gopher_quality_flags
    from capital.llm.nbayes import nb_classify, nb_train

    c0 = extract_corpus(work, barrier=barrier)
    model = nb_model or nb_train(c0.select("doc_id", "lang", "text"))
    flagged = nb_classify(c0, model, keep_input=True)
    flagged = gopher_quality_flags(
        flagged, text_col="text", rules=V2_GOPHER_OVERRIDES
    )
    flagged = c4_quality_filter(
        flagged, text_col="text", with_text=True,
        min_kept_lines=V2_MIN_KEPT_LINES,
    )
    return c0, flagged.select(
        "doc_id", "lang", "source", "text",
        (F.col("nb_pred") == F.col("lang")).alias("nb_ok"),
        "gopher_keep", "c4_keep",
        F.col("clean_text").alias("c4_text"),
    )


def curation_v2_stages(
    docs: DataFrame,
    scope=None,
    checkpoint_dir: str | None = None,
    nb_model=None,
) -> dict[str, DataFrame]:
    """Build every funnel stage; returns the named stage frames so the
    per-document query, the profile query, and tests share one
    composition.

    Materialization: the extraction output, the C4-surviving corpus,
    the line-deduped corpus, the pair graph, and (over the driver
    closure bound) the drop id set are each consumed by >=2
    downstream stages (the round-9 multi-reference rule) and are
    BARRIERED via :func:`capital.io.plan_checkpointer`, not
    persist(): a funnel-deep lineage makes every downstream action
    re-canonicalize the whole tree for the cache lookup, which
    measured 60s -> 18s at sf0.01 when the four persists became
    checkpoints (the round-12 barrier family — here the cost was plan
    bookkeeping, not re-execution). On a real cluster pass
    ``checkpoint_dir`` (HDFS/S3) so the barriers survive executor
    loss; output is identical either way."""
    from capital.io import overlapped_job, plan_checkpointer
    from capital.llm.assemble import bench_gram_set, decontaminate_spans
    from capital.llm.c4 import line_dedup_flags
    from capital.llm.clusters import remove_duplicates
    from capital.llm.dedup import verified_neardup_pairs
    from capital.llm.text import with_pii_scrub

    ckpt = plan_checkpointer(docs.sparkSession, checkpoint_dir)
    work, bench_raw = v2_work_split(docs)

    # Overlap the decontamination benchmark-gram collect with the
    # whole gate/dedup funnel (round 16, guide §2.6 "overlap
    # independent jobs"): the gram set depends ONLY on the holdout
    # split, so its tokenize+distinct+collect job runs on a driver
    # thread while the gate stages' barriers materialize; the main
    # thread blocks on the future only at the decon build. FIFO
    # scheduling back-fills the gram job into idle task slots. The
    # context manager joins the worker on ANY exit, so a mid-funnel
    # failure cannot leave a background job running (round 17).
    with overlapped_job(bench_gram_set, bench_raw, V2_DECON_K) as gram_future:
        c0, flagged = gate_flags(work, nb_model=nb_model, barrier=ckpt)
        gated = ckpt(flagged)
        c1 = gated.filter("nb_ok").select(
            "doc_id", "lang", "source", "text"
        )
        c2 = c1.filter("gopher_keep")
        c3 = (
            gated.filter("nb_ok AND gopher_keep AND c4_keep")
            .select("doc_id", "lang", "source",
                    F.col("c4_text").alias("text"))
        )

        ld = line_dedup_flags(
            c3.select("doc_id", "text"), text_col="text", with_text=True
        )
        c4d = ckpt(
            c3.select("doc_id", "lang", "source").join(
                ld.select(
                    "doc_id", "n_lines", "n_removed_lines",
                    F.col("clean_text").alias("text"),
                ),
                "doc_id",
            )
        )

        # Materialize the verified pair graph once; remove_duplicates
        # collects it (up to its driver bound) in one action: an empty
        # graph leaves the corpus as is, a small one closes on the
        # driver into one IN filter, a large one takes the iterative
        # closure with its drop set checkpointed.
        pairs = ckpt(verified_neardup_pairs(c4d, scope=scope, **V2_MH))
        c5 = remove_duplicates(c4d, pairs, barrier=ckpt)

        decon = decontaminate_spans(
            c5, bench_raw, k=V2_DECON_K, with_text=True,
            bench_grams=gram_future.result(),
        )
    final = (
        c5.select(
            "doc_id", "lang", "source", "n_lines", "n_removed_lines"
        )
        .join(decon, "doc_id")
        .select(
            "doc_id", "lang", "source", "n_lines", "n_removed_lines",
            "n_tokens", "n_removed_tokens", "clean_text",
        )
    )
    final = with_pii_scrub(final, text_col="clean_text").select(
        "doc_id", "lang", "source", "n_lines", "n_removed_lines",
        "n_tokens", "n_removed_tokens",
        F.md5("scrubbed_text").alias("scrubbed_md5"),
    )
    return {
        "bench_raw": bench_raw,
        "work": work,
        "c0_extracted": c0,
        "gated": gated,
        "c1_lang": c1,
        "c2_gopher": c2,
        "c3_c4rules": c3,
        "c4_linededup": c4d,
        "c5_dedup": c5,
        "final": final,
    }


def curation_v2(
    docs: DataFrame,
    scope=None,
    nb_model=None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Per-document funnel survivors:
    ``(doc_id, lang, source, n_lines, n_removed_lines, n_tokens,
    n_removed_tokens, scrubbed_md5)``."""
    return curation_v2_stages(
        docs, scope=scope, nb_model=nb_model,
        checkpoint_dir=checkpoint_dir,
    )["final"]


def curation_v2_profile(
    docs: DataFrame,
    scope=None,
    nb_model=None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Per-source funnel report card: stage survivor counts, removed
    line/token mass, final token budget, and an order-canonical
    digest of the survivors' scrubbed texts. ``nb_model``/
    ``checkpoint_dir`` forward to the stages builder (stored-model
    and reliable-barrier postures — round-16 review)."""
    st = curation_v2_stages(
        docs, scope=scope, nb_model=nb_model,
        checkpoint_dir=checkpoint_dir,
    )

    def flag_cnt(cond, name: str):
        return F.sum(cond.cast("long")).alias(name)

    gate_counts = st["gated"].groupBy("source").agg(
        F.count(F.lit(1)).alias("n_extracted"),
        flag_cnt(F.col("nb_ok"), "n_lang_kept"),
        flag_cnt(F.col("nb_ok") & F.col("gopher_keep"), "n_gopher_kept"),
        flag_cnt(
            F.col("nb_ok") & F.col("gopher_keep") & F.col("c4_keep"),
            "n_c4_kept",
        ),
    )
    base = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_input"))
    out = (
        base.join(gate_counts, "source", "left")
        .join(
            st["c4_linededup"]
            .groupBy("source")
            .agg(
                F.sum("n_removed_lines").cast("long").alias(
                    "lines_removed"
                )
            ),
            "source",
            "left",
        )
        .join(
            st["final"]
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).alias("n_survivors"),
                F.sum("n_removed_tokens").cast("long").alias(
                    "tokens_removed_decon"
                ),
                F.sum(
                    F.col("n_tokens") - F.col("n_removed_tokens")
                ).cast("long").alias("tokens_final"),
                F.md5(
                    F.array_join(
                        F.transform(
                            F.array_sort(
                                F.collect_list(
                                    F.struct("doc_id", "scrubbed_md5")
                                )
                            ),
                            lambda s: s["scrubbed_md5"],
                        ),
                        "",
                    )
                ).alias("corpus_md5"),
            ),
            "source",
            "left",
        )
    )
    fill = [
        "n_extracted", "n_lang_kept", "n_gopher_kept", "n_c4_kept",
        "lines_removed", "n_survivors", "tokens_removed_decon",
        "tokens_final",
    ]
    return out.select(
        "source",
        "n_input",
        *[F.coalesce(F.col(c), F.lit(0)).cast("long").alias(c)
          for c in fill],
        "corpus_md5",
    )
