"""Corpus-assembly operators: the stage after cleaning, where a
training corpus is mixed, split, packed, decontaminated, and sharded
for the trainer.

Reference analogy: the reference assembles per-source daily partitions
into warehouse tables on a schedule (`dags/common/constants.py:23-33`
layer/partition conventions); these operators are the same assembly
step for an LLM corpus at 100 TB.

Determinism discipline: every sampling/ordering decision derives from
:func:`hash_fraction` — an md5-based uniform, not ``rand()`` — so runs
are reproducible across engines, retries, and cluster sizes, and every
operator is DuckDB-oracle-checkable. At scale this matters more than in
tests: a resampled retry that disagrees with the first run poisons
incremental downstream state.

Scale posture per operator is documented on the function; none of them
collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from capital.io import read_parquet
from capital.llm.text import normalized, tokens

#: 2^32 — the hash-fraction denominator.
_HASH_SPACE = 4294967296.0


def hash_fraction(key: Column, seed: str) -> Column:
    """Deterministic uniform in [0, 1) from md5(seed:key).

    The first 8 hex chars of the digest, read as an unsigned 32-bit
    int, divided by 2^32 — exactly representable in a double, so Spark
    and any SQL engine compute the identical value (DuckDB twin:
    ``('0x' || substr(md5(k),1,8))::UBIGINT / 4294967296.0``).
    """
    h = F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") / F.lit(
        _HASH_SPACE
    )


def hash_bucket(key: Column, seed: str, n: int) -> Column:
    """Deterministic bucket in [0, n) from the same md5 construction."""
    h = F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string")))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n).alias(
        "bucket"
    )


def epoch_shuffle(
    df: DataFrame,
    epoch: int,
    n_shards: int = 8,
    id_col: str = "doc_id",
    seed: str = "shuffle",
) -> DataFrame:
    """Deterministic per-epoch training order — the shuffle step
    between packing and sharding: every epoch reads the corpus in a
    different pseudorandom order, every rerun of the same epoch reads
    it in the SAME order (job restarts resume mid-epoch; data order
    is part of a training run's reproducibility contract).

    Each row gets a ``shard`` (md5 bucket — which output file/worker
    group serves it) and a 1-based ``position`` within its shard
    (row_number over the md5 digest of ``seed:epoch:id``, ties —
    impossible in practice for distinct ids — broken by id). Both
    derive only from (id, epoch, seed): membership-stable as the
    corpus grows, engine-independent (the md5 twins the oracle), and
    orderable without any stored state.

    Scale: one hash projection (narrow) + per-shard window sorts that
    run in parallel — no global sort. Pick ``n_shards`` so a shard
    sorts within executor memory at the target corpus (or skip the
    position column and ``sortWithinPartitions(shard, hash)`` when
    writing — the order, not the ordinal, is what the loader needs).
    """
    ekey = f"{seed}:{epoch}"
    h = F.md5(F.concat(F.lit(f"{ekey}:"), F.col(id_col).cast("string")))
    out = df.withColumn("__h", h).withColumn(
        "shard", hash_bucket(F.col(id_col), f"{ekey}:shard", n_shards)
    )
    w = Window.partitionBy("shard").orderBy("__h", id_col)
    return (
        out.withColumn("epoch", F.lit(int(epoch)))
        .withColumn("position", F.row_number().over(w).cast("long"))
        .drop("__h")
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "mix",
) -> DataFrame:
    """Per-source weighted sampling — the corpus-mixing primitive
    (upsample/downsample sources to a target mixture, à la the
    Pile/C4-style mixture tables).

    Keeps a row iff ``hash_fraction(id) < rates[source]``; sources
    missing from ``rates`` are dropped (rate 0). Narrow map + filter
    fused into the scan: no shuffle, no RNG state, any executor count.
    """
    rate_map = F.create_map(
        *[F.lit(x) for kv in sorted(rates.items()) for x in kv]
    )
    rate = F.coalesce(rate_map[F.col(source_col)], F.lit(0.0))
    u = hash_fraction(F.col(id_col), seed)
    return df.withColumn("sample_u", F.round(u, 6)).filter(u < rate)


def temperature_rates(
    df: DataFrame,
    alpha: float = 0.5,
    target_docs: int = 600,
    source_col: str = "source",
) -> DataFrame:
    """Per-source sampling rates from temperature-scaled source shares.

    ``q_s ∝ (n_s / N)^alpha`` with ``alpha < 1`` flattens source skew —
    the multilingual/domain sampling rule of mT5 / XLM-R (Xue et al.
    2021 §3.1; Conneau et al. 2020 §3) — then ``rate_s = target_docs ·
    q_s / n_s`` converts the mixture into a per-document rate. Rates
    above 1 mean the source is *upsampled* (documents repeat).

    The frame is one row per source, so the unpartitioned windows are
    dimension-sized by construction; nothing here touches corpus-scale
    data.
    """
    w = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    counts = df.groupBy(source_col).agg(F.count(F.lit(1)).alias("n_docs"))
    share = F.col("n_docs") / F.sum("n_docs").over(w)
    q = counts.withColumn("__q", F.pow(share, F.lit(float(alpha))))
    rate = F.round(
        F.lit(float(target_docs))
        * (F.col("__q") / F.sum("__q").over(w))
        / F.col("n_docs"),
        6,
    )
    return q.select(source_col, "n_docs", rate.alias("rate"))


def temperature_mixture(
    df: DataFrame,
    alpha: float = 0.5,
    target_docs: int = 600,
    source_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "tmix",
) -> DataFrame:
    """Temperature-scaled corpus mixture with deterministic fractional
    up/downsampling.

    Each document yields ``floor(rate)`` guaranteed copies plus one
    Bernoulli copy with probability ``rate - floor(rate)``, decided by
    the md5 hash fraction — so expected output per source is exactly
    ``target_docs · q_s``, runs are reproducible across retries and
    cluster sizes, and low-resource sources genuinely repeat
    (``copy_idx`` distinguishes the repeats for downstream shuffling).

    Scale: rates are one broadcast row per source; the corpus side is
    a map-side join + narrow sequence-explode. No corpus shuffle.
    """
    rates = temperature_rates(df, alpha, target_docs, source_col).drop(
        "n_docs"
    )
    u = hash_fraction(F.col(id_col), seed)
    n_copies = (
        F.floor("rate")
        + F.when(u < F.col("rate") - F.floor("rate"), 1).otherwise(0)
    ).cast("int")
    return (
        df.join(F.broadcast(rates), source_col)
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .withColumn(
            "copy_idx", F.explode(F.sequence(F.lit(1), F.col("n_copies")))
        )
        .select(id_col, source_col, "rate", "n_copies", "copy_idx")
    )


def split_assign(
    df: DataFrame,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    id_col: str = "doc_id",
    seed: str = "split",
) -> DataFrame:
    """Deterministic train/val/test assignment by hash threshold.

    A document's split never changes when the corpus grows (membership
    depends only on its own id) — the property that keeps eval sets
    stable across corpus versions. Narrow projection, no shuffle.
    """
    u = hash_fraction(F.col(id_col), seed)
    split = (
        F.when(u < F.lit(test_frac), F.lit("test"))
        .when(u < F.lit(test_frac + val_frac), F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return df.withColumn("split", split)


def pack_chunks(
    df: DataFrame,
    budget: int,
    cost_col: str = "n_chars",
    partition_col: str = "source",
    order_col: str = "doc_id",
) -> DataFrame:
    """Sequence packing by stream chunking: documents are concatenated
    in deterministic order within each partition and cut into
    fixed-budget chunks; a document belongs to the chunk where it
    starts (exclusive running cost ``div`` budget) — how pretraining
    token streams are actually packed.

    Scale: one window per ``partition_col`` value — sorts are local to
    each source partition and run in parallel; there is no global sort.
    At 100 TB, pre-bucket the corpus by (source, shard) so each window
    is one in-memory partition. Costs are integers, so the running sum
    is exact and oracle-replicable.
    """
    w = (
        Window.partitionBy(partition_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum(cost_col).over(w), F.lit(0))
    # Long `div` long, not floor(double division): the running cost can
    # exceed 2^53 per partition at scale, where double division loses
    # exactness and diverges from the oracle's integer `//`.
    return (
        df.withColumn("__prior", prior.cast("long"))
        .withColumn("chunk_id", F.expr(f"__prior div {int(budget)}"))
        .drop("__prior")
    )


def pack_token_ids(
    df: DataFrame,
    seq_len: int,
    ids_col: str = "token_ids",
    partition_col: str = "source",
    order_col: str = "doc_id",
) -> DataFrame:
    """Pack token-ID sequences into fixed-length training chunks —
    the id-level twin of :func:`pack_chunks` (which only *sizes*
    chunks by a cost column). Documents are concatenated in
    deterministic ``order_col`` order within each ``partition_col``
    stream and cut every ``seq_len`` ids; a document crossing a cut
    contributes a piece to each chunk it spans. Output: one row per
    ``(partition, chunk_id)`` with the packed ``token_ids``
    (``seq_len`` ids except the stream's final chunk), ``n_tokens``,
    ``n_docs`` (how many docs the chunk draws from) and
    ``doc_starts`` — the in-chunk offsets where documents BEGIN
    (empty when the chunk is entirely mid-document), exactly the
    boundary information a pretraining loader needs to reset
    attention masks / position ids at document starts.

    Shape: the window running-sum assigns each doc its exclusive
    global offset (per-partition sort, parallel across partitions —
    pre-bucket by (source, shard) at 100 TB, the pack_chunks note);
    each doc then EXPLODES ONLY over the chunks it spans (≤
    n_ids/seq_len + 1 slices, arrays stay packed — never a per-token
    explode, so the shuffle moves doc-count×~2 array rows, not
    corpus-token rows) and chunks reassemble with a bounded group
    (≤ seq_len ids each). Offsets are exact longs (`div`, the
    pack_chunks 2^53 discipline).
    """
    pieces = token_pieces(
        df, seq_len, ids_col=ids_col, partition_col=partition_col,
        order_col=order_col,
    )
    return packed_chunks_from_pieces(pieces, partition_col=partition_col)


def token_pieces(
    df: DataFrame,
    seq_len: int,
    ids_col: str = "token_ids",
    partition_col: str = "source",
    order_col: str = "doc_id",
    base_offsets: DataFrame | None = None,
) -> DataFrame:
    """The pack's per-document piece rows, ungrouped: one row per
    (doc, chunk it spans) with the chunk-local slice, the doc's
    global stream offset and its chunk-start offset (null when the
    doc continues from the previous chunk). This is the STORABLE
    half of packing: an incremental packer appends each batch's
    pieces and :func:`packed_chunks_from_pieces` reassembles — a
    chunk that straddles a batch boundary merges at read.

    ``base_offsets`` (``partition_col``, ``base``) shifts each
    stream's start — the incremental continuation point (tokens
    already packed for that stream by prior batches).
    """
    L = int(seq_len)
    w = (
        Window.partitionBy(partition_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    n = F.size(F.col(ids_col)).cast("long")
    prior = F.coalesce(
        F.sum(F.size(F.col(ids_col))).over(w), F.lit(0)
    ).cast("long")
    base_df = df
    if base_offsets is not None:
        base_df = df.join(F.broadcast(base_offsets), partition_col, "left")
        prior = prior + F.coalesce(F.col("base"), F.lit(0)).cast("long")
    spans = (
        base_df.withColumn("__prior", prior)
        .withColumn("__n", n)
        .filter(F.col("__n") > 0)
    )
    first = F.expr(f"__prior div {L}")
    last = F.expr(f"(__prior + __n - 1) div {L}")
    ex = spans.select(
        partition_col,
        "__prior",
        "__n",
        F.col(ids_col).alias("__ids"),
        F.explode(F.sequence(first, last)).alias("chunk_id"),
    )
    gs = F.greatest(F.col("__prior"), F.col("chunk_id") * L)
    ge = F.least(F.col("__prior") + F.col("__n"), (F.col("chunk_id") + 1) * L)
    piece = F.slice(
        F.col("__ids"),
        (gs - F.col("__prior") + 1).cast("int"),
        (ge - gs).cast("int"),
    )
    start_off = F.when(
        F.col("__prior") >= F.col("chunk_id") * L,
        (F.col("__prior") - F.col("chunk_id") * L).cast("int"),
    )
    return ex.select(
        partition_col,
        "chunk_id",
        F.col("__prior"),
        piece.alias("__piece"),
        start_off.alias("__start_off"),
    )


def packed_chunks_from_pieces(
    pieces: DataFrame, partition_col: str = "source"
) -> DataFrame:
    """Reassemble piece rows (:func:`token_pieces` — one batch's or
    a whole stored lake's) into final chunks: pieces order by the
    doc's global offset inside each (partition, chunk) group, so
    batch-straddling chunks merge correctly and the result equals
    packing everything at once (tested)."""
    return (
        pieces.groupBy(partition_col, "chunk_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__prior", "__piece"))),
                    lambda s: s["__piece"],
                )
            ).alias("token_ids"),
            F.count(F.lit(1)).alias("n_docs"),
            # collect_list skips nulls: only docs that BEGIN in this
            # chunk contribute an offset
            F.sort_array(F.collect_list("__start_off")).alias("doc_starts"),
        )
        .withColumn("n_tokens", F.size("token_ids").cast("long"))
    )


def pack_chunk_stats(
    df: DataFrame,
    budget: int,
    cost_col: str = "n_chars",
    partition_col: str = "source",
    order_col: str = "doc_id",
) -> DataFrame:
    """Per-chunk packing report: documents per chunk and filled cost."""
    packed = pack_chunks(df, budget, cost_col, partition_col, order_col)
    return packed.groupBy(partition_col, "chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(cost_col).alias("chunk_cost"),
    )


def shingle_set(text_col: Column, k: int = 5) -> Column:
    """Distinct k-token shingles of the normalized text (the
    contamination / fingerprint unit). Delegates to the zip-of-
    shifted-slices builder (round 12): the per-index
    ``transform(sequence(…), i -> slice(…))`` form this used to carry
    ran the interpreted per-element slice path — 1.33 s vs 0.71 s on
    the sf0.1 5-gram build, byte-identical output (short docs degrade
    to one truncated shingle either way)."""
    from capital.llm.dedup import shingles

    return shingles(text_col, k)


def contamination(
    train: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: training documents sharing at least
    one k-token shingle with any benchmark document, with the shared
    count — the n-gram-overlap check run before every serious
    pretraining run (per GPT-3 appx C / PaLM-style decontamination).

    Shape: explode distinct shingles on both sides; the benchmark side
    (eval suites — thousands of docs) deduplicates to a small set and
    **broadcasts**, so the 100 TB training side is a map-side semi-join
    with no shuffle of the big relation; the only shuffle is the final
    per-doc count aggregation (partial-agg combined).
    """
    from capital.io import parallelize_narrow

    t_sh = parallelize_narrow(train).select(
        F.col(id_col), F.explode(shingle_set(F.col(text_col), k)).alias("g")
    )
    b_sh = (
        benchmark.select(
            F.explode(shingle_set(F.col(text_col), k)).alias("g")
        )
        .distinct()
    )
    return (
        t_sh.join(F.broadcast(b_sh), "g")
        .groupBy(id_col)
        .agg(F.count_distinct("g").alias("n_shared"))
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The clean corpus: training docs with zero benchmark overlap."""
    hits = contamination(train, benchmark, k, id_col, text_col)
    return train.join(hits.select(id_col), id_col, "left_anti")


def contamination_by_benchmark(
    train: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The REVERSE attribution of :func:`contamination`: per
    BENCHMARK document, how many training docs share a k-gram with it
    and how many of its distinct k-grams leak — the eval-integrity
    report ("which test items are compromised and should be
    quarantined or re-held-out"), where the forward direction answers
    the training-side question ("which train docs to scrub").

    One row per benchmark doc that leaks at all:
    ``(id, n_leaking_docs, n_shared_grams)`` (distinct train docs
    sharing ≥1 gram; distinct grams of THIS bench doc found anywhere
    in train). Zero-leak bench docs drop out — the report is
    leak-volume-sized.

    Shape: the SAME economics as the forward check — the benchmark
    gram table (now keyed by bench doc, still eval-suite-sized)
    broadcasts, the 100 TB training side is one map-side join, and
    only matched rows reach the aggregate.
    """
    from capital.io import parallelize_narrow

    t_sh = parallelize_narrow(train).select(
        F.col(id_col).alias("__tid"),
        F.explode(shingle_set(F.col(text_col), k)).alias("g"),
    )
    b_sh = benchmark.select(
        F.col(id_col),
        F.explode(shingle_set(F.col(text_col), k)).alias("g"),
    ).distinct()
    return (
        t_sh.join(F.broadcast(b_sh), "g")
        .groupBy(id_col)
        .agg(
            F.count_distinct("__tid").alias("n_leaking_docs"),
            F.count_distinct("g").alias("n_shared_grams"),
        )
    )


def semantic_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    via_ivf: str | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """SEMANTIC benchmark decontamination: training vectors whose
    embedding cosine against ANY benchmark vector reaches
    ``threshold`` — the paraphrase-robust complement to the n-gram
    :func:`contamination` (verbatim overlap misses reworded test
    items; Llama/PaLM-era reports pair both checks).

    One row per training vector: ``(id, is_contaminated,
    n_bench_hits, max_sim, first_bench_id)`` — max_sim round6-stable
    (max over identically-computed doubles is order-free),
    first_bench_id the MIN hitting benchmark id (deterministic
    attribution for audit).

    Shape (the :func:`contamination` economics, dense form): the
    benchmark side (eval suites — thousands of vectors) broadcasts
    with precomputed norms, so the 100 TB training side is ONE narrow
    pass (broadcast nested-loop, cosine per (train, bench) pair,
    filtered at the source) — the corpus never shuffles; the only
    exchange is the per-id aggregation of the FILTERED hit rows.
    ``via_ivf`` (round 13 — previously a documented-only fallback):
    when the benchmark outgrows a broadcast, pass the path of an IVF
    index built OVER THE BENCHMARK with
    :func:`capital.llm.ivf.write_ivf_index`; each training vector
    then probes its ``nprobe`` nearest benchmark cells and compares
    only against those cells' vectors. ``nprobe=None`` (default)
    probes EVERY cell — exhaustive, and since each benchmark vector
    lives in exactly one cell a (train, bench) pair is compared at
    most once, so the result is row-identical to the broadcast form
    (tested at nprobe=n_cells); smaller ``nprobe`` trades recall for
    compute, the standard IVF knob. The join keys on ``cell`` — fine
    while cells stay balanced (k-means cells over bench suites are);
    a pathological hot cell is the chunked_pair_join regime. The
    ``benchmark`` argument is ignored in this mode (the index IS the
    benchmark).
    """
    from capital.io import parallelize_narrow
    from capital.llm.similarity import _norm, cosine_with_norms
    from capital.llm.text import round6_stable

    c = parallelize_narrow(train).select(
        F.col(id_col),
        F.col(vec_col).alias("__cv"),
        _norm(F.col(vec_col)).alias("__cn"),
    )
    sim = cosine_with_norms(
        F.col("__qv"), F.col("__cv"), F.col("__qn"), F.col("__cn")
    )
    if via_ivf is not None:
        from capital.llm.ivf import assign_cells

        spark = train.sparkSession
        cents = read_parquet(spark, f"{via_ivf}/centroids").collect()
        centroids = [
            [float(x) for x in r.centroid]
            for r in sorted(cents, key=lambda r: r.cell)
        ]
        probe_n = len(centroids) if nprobe is None else int(nprobe)
        probed = assign_cells(c, centroids, vec_col="__cv", nprobe=probe_n)
        bench_lists = read_parquet(spark, f"{via_ivf}/lists").select(
            F.col("neighbor_id").alias("__bid"),
            F.col("c_vec").alias("__qv"),
            _norm(F.col("c_vec")).alias("__qn"),
            "cell",
        )
        paired = probed.join(bench_lists, "cell").filter(
            F.col(id_col) != F.col("__bid")
        )
    else:
        q = benchmark.select(
            F.col(id_col).alias("__bid"),
            F.col(vec_col).alias("__qv"),
            _norm(F.col(vec_col)).alias("__qn"),
        )
        paired = c.join(F.broadcast(q), F.col(id_col) != F.col("__bid"))
    # Known trade-off (r12 advice): Catalyst pushes this filter into
    # the join condition AND re-evaluates the cosine fold in the
    # projection for SURVIVING pairs — the round-5 double-evaluation
    # pattern. Deliberate here: hits are sparse by construction
    # (threshold ~0.9), so the doubled work is per-hit, while the
    # explode-barrier workaround would materialize the full
    # (train × bench) pair relation pre-filter — exactly what the
    # filter-at-source shape exists to avoid.
    hits = (
        paired.withColumn("__sim", sim)
        .filter(F.col("__sim") >= threshold)
        .select(F.col(id_col), "__bid", "__sim")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bench_hits"),
            round6_stable(F.max("__sim")).alias("max_sim"),
            F.min("__bid").alias("first_bench_id"),
        )
    )
    return (
        train.select(F.col(id_col))
        .join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_bench_hits").isNotNull().alias("is_contaminated"),
            F.coalesce("n_bench_hits", F.lit(0)).alias("n_bench_hits"),
            "max_sim",
            "first_bench_id",
        )
    )


def bench_gram_set(
    benchmark: DataFrame,
    k: int = 5,
    text_col: str = "text",
    max_bench_grams: int = 5_000_000,
) -> frozenset:
    """Collect the benchmark's distinct k-gram set to the driver —
    the (eval-suite-bounded, contract-asserted) state
    :func:`decontaminate_spans` ships into its kernel. Split out
    (round 16, guide §2.6 "overlap independent jobs") so a composing
    pipeline can run this collect on a driver thread concurrently
    with its earlier stages: the gram set depends only on the
    benchmark split, never on the training funnel."""
    b_sh = (
        benchmark.select(
            F.explode(shingle_set(F.col(text_col), k)).alias("g")
        )
        .distinct()
    )
    # Eval-suite-sized by contract (the IVF-probe literal-collect
    # precedent): the deliberate plan-build collect buys a
    # shuffle-free kernel. The by-contract bound is ASSERTED:
    # limit(max+1) caps the transfer, and a mis-sized benchmark
    # fails loudly at plan time instead of stalling the driver
    # (round-14 advice).
    rows = b_sh.limit(max_bench_grams + 1).collect()
    if len(rows) > max_bench_grams:
        raise ValueError(
            f"decontaminate_spans: benchmark side exceeds "
            f"{max_bench_grams} distinct {k}-grams — this operator's "
            f"kernel regime requires an eval-suite-sized (constant) "
            f"benchmark; raise max_bench_grams only if the driver "
            f"can hold the set, or pre-filter the benchmark."
        )
    return frozenset(r.g for r in rows)


def decontaminate_spans(
    train: DataFrame,
    benchmark: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bench_grams: int = 5_000_000,
    with_text: bool = False,
    bench_grams: frozenset | None = None,
) -> DataFrame:
    """SURGICAL decontamination: instead of dropping every document
    that overlaps the benchmark (:func:`decontaminate` — which throws
    away a whole book for one quoted test question), remove only the
    token spans covered by a benchmark k-gram and keep the rest — the
    span-removal posture of FLAN/Llama-style decontamination.

    A token position is contaminated iff some stride-1 k-gram window
    containing it (over the NORMALIZED tokens, the contamination
    convention) appears in the benchmark's k-gram set. Output: one
    row per training doc — ``n_tokens``, ``n_removed_tokens``, and
    ``clean_md5`` (digest of the surviving tokens joined by single
    spaces, the span_dedup_stats atomic-surrogate convention;
    ``with_text=True`` additionally emits that joined string as
    ``clean_text`` for composing pipelines).

    Shape at scale (round 14, the ``self_repetition_trim`` treatment):
    benchmark grams deduplicate to an eval-suite-sized set IN SPARK,
    collect to the driver (constant-bounded by contract — the
    centroid/codebook precedent), and ship as a broadcast variable
    into ONE shuffle-free Arrow ``mapInPandas`` kernel that does the
    O(doc_len) window walk + rebuild per training document. Every
    per-token decision here is PER-DOCUMENT once the gram set is in
    hand — the previous all-DataFrame form expressed that through
    three corpus-sized exchanges (token explode × 2 consumers, marked
    positions distinct, anti-join + two groupBys) that at 100 TB are
    pure waste; measured 1.83 s → 0.5 s at sf0.1 with byte-identical
    output (the SQL oracle is unchanged). Tokenization uses
    :func:`capital.llm.text.py_tokens`, the asserted driver/kernel
    twin of ``tokens(normalized(.))``.
    """
    from capital.io import parallelize_narrow
    from capital.llm.text import py_tokens

    # Gram set shipped by CLOSURE capture, not sc.broadcast — the
    # task binary is torrent-broadcast once per stage anyway, and a
    # bare broadcast variable built at plan time is never safely
    # unpersistable (round-14 review: repeated plan construction
    # leaked one driver-pinned broadcast per call). ``bench_grams``:
    # a precomputed :func:`bench_gram_set` (round 16 — lets composing
    # pipelines overlap the collect with earlier stages, guide §2.6).
    if bench_grams is None:
        bench_grams = bench_gram_set(
            benchmark, k=k, text_col=text_col,
            max_bench_grams=max_bench_grams,
        )
    kk = int(k)
    emit_text = bool(with_text)

    def _scrub(batches):
        import hashlib

        import pandas as pd

        grams = bench_grams
        for pdf in batches:
            out = {
                "__id": [], "n_tokens": [], "n_removed_tokens": [],
                "clean_md5": [],
            }
            if emit_text:
                out["clean_text"] = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                out["__id"].append(did)
                if text is None:
                    # NULL text mirrors the SQL oracle's NULL token
                    # array: NULL counts, md5('') digest (round-14
                    # review — `text or ""` silently mapped NULL to
                    # the [""] row and broke oracle parity).
                    out["n_tokens"].append(None)
                    out["n_removed_tokens"].append(None)
                    out["clean_md5"].append(
                        hashlib.md5(b"").hexdigest()
                    )
                    if emit_text:
                        out["clean_text"].append(None)
                    continue
                toks = py_tokens(text)
                n = len(toks)
                covered: set[int] = set()
                for p in range(n - kk + 1):
                    if " ".join(toks[p : p + kk]) in grams:
                        covered.update(range(p, p + kk))
                kept = [t for i, t in enumerate(toks) if i not in covered]
                clean = " ".join(kept)
                out["n_tokens"].append(n)
                out["n_removed_tokens"].append(n - len(kept))
                out["clean_md5"].append(
                    hashlib.md5(clean.encode("utf-8")).hexdigest()
                )
                if emit_text:
                    out["clean_text"].append(clean)
            yield pd.DataFrame(out).astype(
                {"n_tokens": "Int64", "n_removed_tokens": "Int64"}
            ).rename(columns={"__id": id_col})

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    # The id column keeps its INPUT type (generic over string keys —
    # round-14 review).
    out_schema = StructType(
        [train.schema[id_col]]
        + [
            StructField("n_tokens", LongType()),
            StructField("n_removed_tokens", LongType()),
            StructField("clean_md5", StringType()),
        ]
        + ([StructField("clean_text", StringType())] if emit_text else [])
    )
    return parallelize_narrow(train.select(id_col, text_col)).mapInPandas(
        _scrub, schema=out_schema
    )


def select_within_budget(
    df: DataFrame,
    budget: int,
    cost_col: str = "n_tokens",
    quality_col: str = "quality_score",
    partition_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-ranked data selection under a per-source token budget.

    The corpus-curation step after scoring: within each source, take
    documents best-first (quality desc, id asc as the deterministic
    tie-break) until the budget is spent. A document is kept iff the
    budget *before* it is unexhausted (exclusive running cost <
    ``budget``) — the same greedy-prefix convention as
    :func:`pack_chunks`: every source keeps at least its best document
    and overshoots by at most one.

    Adds ``budget_used`` (exclusive running cost, exact long
    arithmetic). Scale: one window per source — local sorts after a
    hash exchange, no global sort; same posture as ``pack_chunks``.
    ``quality_col`` must be the *rounded* score both engines emit
    (text.with_quality_score rounds to 6) so the sort order is
    engine-portable.
    """
    w = (
        Window.partitionBy(partition_col)
        .orderBy(F.desc(quality_col), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prior = F.coalesce(F.sum(cost_col).over(w), F.lit(0)).cast("long")
    return df.withColumn("budget_used", prior).filter(
        F.col("budget_used") < int(budget)
    )


def unimax_allocation(
    per_source: DataFrame,
    budget_fraction: float | None = None,
    budget_tokens: float | None = None,
    epoch_cap: float = 4.0,
    source_col: str = "source",
    token_col: str = "n_tokens",
) -> DataFrame:
    """UniMax token-budget allocation across sources (Chung et al.
    2023): spread a total training budget as uniformly as possible,
    subject to a per-source epoch cap — the closed-form water-filling
    answer to "how many tokens do I take from each domain/language".

    Input is the per-source rollup ``(source, n_tokens)`` (exact
    integer token counts; build it with one map-side-combined
    aggregate over the corpus). Each source's capacity is
    ``epoch_cap · n_tokens``; the budget is either absolute
    (``budget_tokens``) or a fraction of total capacity
    (``budget_fraction``). Water-filling: every source receives
    ``min(capacity, L)`` where the water level ``L`` solves
    ``Σ min(capacityₛ, L) = budget``; sources below the level are
    saturated (fully repeated ``epoch_cap`` times), the rest are cut
    at the common level — maximal uniformity under the cap.

    Closed form via one pass over the capacity-ascending order: with
    exclusive prefix token sums ``P_i`` and remaining-source counts
    ``r_i``, the candidate level ``L_i = (B − e·P_i)/r_i`` is valid at
    the FIRST row where ``L_i ≤ capacity_i``; rows before it are
    saturated (property-tested against bisection). Determinism: all
    window sums run over exact integer tokens (a windowed DOUBLE sum
    may reduce pairwise — segment trees — and diverge across engines);
    every float enters once, as a scalar expression of exact integers
    with literal constants, so Spark and the SQL twin compute
    bit-identical doubles.

    Scale: the corpus is touched only by the caller's rollup; this
    operator runs windows over the S-row source table in ONE unsorted
    partition (S ≈ languages/domains — hundreds to low millions — the
    paper's regime; an S-row frame after a corpus-sized
    map-side-combined aggregate is driver-trivial at any corpus
    size).

    Returns one row per source: ``n_tokens``, ``capacity``,
    ``alloc_tokens`` (stable-rounded), ``epochs_alloc`` =
    alloc / n_tokens, and ``saturated``.
    """
    if (budget_fraction is None) == (budget_tokens is None):
        raise ValueError(
            "unimax_allocation: pass exactly one of budget_fraction /"
            " budget_tokens"
        )
    from capital.llm.text import round6_stable

    e = float(epoch_cap)
    t = F.col(token_col).cast("long")
    # Order by the RENAMED "source" column — `src` below renames
    # source_col, so a non-default source_col would not resolve here.
    order = Window.orderBy(F.asc("capacity"), F.asc("source"))
    full = order.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    src = per_source.select(
        F.col(source_col).alias("source"),
        t.alias("n_tokens"),
        (F.lit(e) * t).alias("capacity"),
    )
    total_t = F.sum("n_tokens").over(full)
    budget = (
        F.lit(float(budget_tokens))
        if budget_tokens is not None
        else F.lit(float(budget_fraction)) * (F.lit(e) * total_t)
    )
    prefix_t = F.coalesce(
        F.sum("n_tokens").over(order.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    rn = F.row_number().over(order)
    n_src = F.count(F.lit(1)).over(full)
    remaining = (n_src - rn + F.lit(1)).cast("double")
    cand = (budget - F.lit(e) * prefix_t) / remaining
    staged = src.select(
        "source",
        "n_tokens",
        "capacity",
        rn.alias("__rn"),
        cand.alias("__cand"),
        F.min(
            F.when(cand <= F.col("capacity"), rn)
        ).over(full).alias("__pivot"),
    )
    refull = Window.orderBy(F.asc("__rn")).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    level = F.max(
        F.when(F.col("__rn") == F.col("__pivot"), F.col("__cand"))
    ).over(refull)
    capped = F.col("__pivot").isNull() | (
        F.col("__rn") < F.col("__pivot")
    )
    alloc = F.when(capped, F.col("capacity")).otherwise(level)
    # "saturated" = received its full capacity — includes the pivot
    # row when the level lands exactly on its cap (budget == total
    # capacity is the common exact case).
    saturated = alloc >= F.col("capacity")
    return staged.select(
        "source",
        "n_tokens",
        round6_stable(F.col("capacity")).alias("capacity"),
        round6_stable(alloc).alias("alloc_tokens"),
        round6_stable(alloc / F.col("n_tokens")).alias("epochs_alloc"),
        saturated.alias("saturated"),
    )


def with_shard(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "shard",
) -> DataFrame:
    """Deterministic shard id + within-shard shuffle key.

    ``shard_id`` = md5 bucket (uniform, reproducible); ``shuffle_key``
    = the full digest, giving a deterministic *global* shuffle of
    training order without a global sort: ordering by (shard_id,
    shuffle_key) is a per-shard local sort after a hash exchange.
    """
    key = F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))
    return df.withColumn(
        "shard_id", hash_bucket(F.col(id_col), seed, n_shards)
    ).withColumn("shuffle_key", F.md5(key))


def write_shards(
    df: DataFrame,
    path: str,
    n_shards: int,
    id_col: str = "doc_id",
    seed: str = "shard",
) -> None:
    """Sharded, shuffled corpus export: ``shard_id=N`` parquet
    directories, rows within each shard in shuffle-key order — the
    layout a data loader streams sequentially. One hash exchange on
    shard_id, local sorts only.
    """
    sharded = with_shard(df, n_shards, id_col, seed)
    (
        sharded.repartition(n_shards, "shard_id")
        .sortWithinPartitions("shard_id", "shuffle_key")
        .write.mode("overwrite")
        .partitionBy("shard_id")
        .parquet(path)
    )


def leakage_safe_split(
    components: DataFrame,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
    id_col: str = "doc_id",
    component_col: str = "component_id",
    seed: str = "split",
) -> DataFrame:
    """Train/val/test assignment that cannot leak near-duplicates
    across splits: the hash threshold is applied to the *duplicate
    cluster id*, so every member of a component follows its canonical
    id into the same split. Per-doc hashing (plain :func:`split_assign`)
    puts two near-identical docs on opposite sides of the train/test
    boundary with probability ≈ 2·test_frac — silent eval
    contamination at corpus scale.

    ``components`` is the (id, component_id) output of
    :func:`capital.llm.clusters.connected_components`. Narrow
    projection on top of it — no additional shuffle.
    """
    u = hash_fraction(F.col(component_col), seed)
    split = (
        F.when(u < F.lit(test_frac), F.lit("test"))
        .when(u < F.lit(test_frac + val_frac), F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return components.select(
        F.col(id_col), F.col(component_col), split.alias("split")
    )
