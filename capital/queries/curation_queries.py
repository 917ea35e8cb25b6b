"""Round-7 curation / drift / CDC queries.

Oracle strategy follows the repo convention: every stochastic choice
is the md5 hash-fraction/bucket (bit-identical in DuckDB), thresholds
and rates are module constants interpolated into BOTH the Spark call
and the generated SQL, and cross-engine float sums ride the
decimal/round-6 discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from capital.io import load_table, read_parquet
from capital.queries.assemble_queries import _bucket_sql, _u_sql
from capital.queries.registry import query

# --- perplexity gate (CCNet head/middle/tail) ---------------------------

#: Fixed gate thresholds on avg -log2 p(token): calibrated once on a
#: reference slice (the production posture — constants, not per-batch
#: quantiles, so batches gate consistently). On the synthetic corpus
#: the median sits near 4.907 and the q75 near 4.913.
_PPL_HEAD_MAX = 4.905
_PPL_TAIL_MIN = 4.92
_PPL_RATES = {"head": 1.0, "middle": 0.5, "tail": 0.0}
_PPL_SEED = "pplgate"

#: Unigram-LM scoring CTEs (the text_unigram_logprob oracle, reused).
_UNIGRAM_SCORE_CTES = r"""
    tok AS (
      SELECT doc_id,
             unnest(string_split_regex(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
               '\s+')) AS token
      FROM documents),
    c AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
    p AS (SELECT token,
                 CAST(round(log2(CAST(n AS DOUBLE)
                                 / (SELECT SUM(n) FROM c)), 6)
                   AS DECIMAL(28,6)) AS logp
          FROM c),
    scored AS (
      SELECT doc_id,
             COUNT(*) AS n_tokens,
             floor(CAST(-SUM(logp) AS DOUBLE) / COUNT(*)
                   * 1000000.0 + 0.5) / 1000000.0
               AS avg_neg_logprob
      FROM tok JOIN p USING (token)
      GROUP BY doc_id)
"""


def _ppl_gate_oracle() -> str:
    rate_cases = " ".join(
        f"WHEN '{b}' THEN {r}" for b, r in sorted(_PPL_RATES.items())
    )
    return f"""
    WITH {_UNIGRAM_SCORE_CTES},
    bucketed AS (
      SELECT doc_id, n_tokens, avg_neg_logprob,
             CASE WHEN avg_neg_logprob < {_PPL_HEAD_MAX} THEN 'head'
                  WHEN avg_neg_logprob >= {_PPL_TAIL_MIN} THEN 'tail'
                  ELSE 'middle' END AS ppl_bucket
      FROM scored)
    SELECT doc_id, n_tokens, avg_neg_logprob, ppl_bucket
    FROM bucketed
    WHERE {_u_sql(_PPL_SEED)} < CASE ppl_bucket {rate_cases} ELSE 0.0 END
    """


@query("cur_perplexity_gate", oracle=_ppl_gate_oracle())
def cur_perplexity_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-shaped perplexity gate (llm/curation.perplexity_gate):
    corpus-as-its-own-LM unigram score → FIXED head/middle/tail
    thresholds → per-bucket deterministic keep rates (head 1.0,
    middle 0.5, tail 0.0). Fixed thresholds make the gate a narrow
    map — no global ranking shuffle, consistent across batches."""
    from capital.llm.curation import perplexity_gate

    d = load_table(spark, sf_dir, "documents")
    return perplexity_gate(
        d,
        head_max=_PPL_HEAD_MAX,
        tail_min=_PPL_TAIL_MIN,
        rates=_PPL_RATES,
        seed=_PPL_SEED,
    )


# --- per-source document caps -------------------------------------------

_CAP = 10
_CAP_SEED = "cap7"


@query(
    "cur_capped_sources",
    oracle=f"""
    WITH u AS (
      SELECT source, doc_id, {_u_sql(_CAP_SEED)} AS uu FROM documents),
    ranked AS (
      SELECT source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY uu, doc_id) AS cap_rank
      FROM u)
    SELECT source, doc_id, CAST(cap_rank AS INTEGER) AS cap_rank
    FROM ranked WHERE cap_rank <= {_CAP}
    """,
)
def cur_capped_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (llm/curation.capped_per_source): at
    most {cap} docs per source, the smallest md5 fractions win —
    the anti-dominance rule rate-based mixing can't express. The
    oracle ranks ALL rows; the engine pre-filters to ~2·cap
    candidates per source with a losslessness guard, so the outputs
    are identical while the billion-row hot domain never sorts."""
    from capital.llm.curation import capped_per_source

    d = load_table(spark, sf_dir, "documents")
    return capped_per_source(d, cap=_CAP, seed=_CAP_SEED).withColumn(
        "cap_rank", F.col("cap_rank").cast("int")
    )


# --- content-defined chunking dedup -------------------------------------

_CDC_AVG = 8
_CDC_SEED = "cdc"


def _cdc_oracle() -> str:
    return rf"""
    WITH base AS (
      SELECT doc_id,
             string_split_regex(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
               '\s+') AS toks
      FROM documents),
    tok AS (
      SELECT doc_id, toks[i] AS token, i
      FROM base, unnest(range(1, len(toks) + 1)) AS t(i)),
    b AS (
      SELECT doc_id, token, i,
             CASE WHEN i = 1
                       OR {_bucket_sql(_CDC_SEED, _CDC_AVG, "token")} = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM tok),
    chunked AS (
      SELECT doc_id, token, i,
             SUM(boundary) OVER (PARTITION BY doc_id ORDER BY i
                                 ROWS UNBOUNDED PRECEDING) AS chunk_idx
      FROM b),
    chunks AS (
      SELECT doc_id, chunk_idx,
             md5(string_agg(token, ' ' ORDER BY i)) AS digest,
             COUNT(*) AS n_tokens
      FROM chunked GROUP BY doc_id, chunk_idx),
    d AS (
      SELECT digest, COUNT(DISTINCT doc_id) AS n_docs
      FROM chunks GROUP BY digest)
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(CASE WHEN d.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_chunks,
           CAST(SUM(CASE WHEN d.n_docs > 1 THEN c.n_tokens ELSE 0 END)
             AS BIGINT) AS dup_tokens
    FROM chunks c JOIN d USING (digest)
    GROUP BY c.doc_id
    """


@query("dedup_cdc_stats", oracle=_cdc_oracle())
def dedup_cdc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup profile (llm/cdc.py): md5-
    boundary chunks (shift-robust — an inserted token only changes
    the chunk containing it), per-doc count of chunks shared with
    OTHER documents. Complements fixed-stride span dedup, which a
    one-token shift defeats."""
    from capital.llm.cdc import cdc_dup_stats

    d = load_table(spark, sf_dir, "documents")
    return cdc_dup_stats(d, avg_size=_CDC_AVG, seed=_CDC_SEED)


# --- drift monitoring (PSI) ---------------------------------------------

_PSI_SPLIT = "2024-01-15"


@query(
    "drift_event_type_psi",
    oracle=f"""
    WITH counts AS (
      SELECT event_type AS bin,
             CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                < TIMESTAMP '{_PSI_SPLIT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                >= TIMESTAMP '{_PSI_SPLIT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      FROM events GROUP BY event_type),
    t AS (
      SELECT bin, n_ref, n_cur,
             SUM(n_ref) OVER () AS tr, SUM(n_cur) OVER () AS tc,
             COUNT(*) OVER () AS k
      FROM counts)
    SELECT bin, n_ref, n_cur,
           round((n_ref + 0.5) / (tr + 0.5 * k), 6) AS p_ref,
           round((n_cur + 0.5) / (tc + 0.5 * k), 6) AS p_cur,
           round((round((n_cur + 0.5) / (tc + 0.5 * k), 6)
                  - round((n_ref + 0.5) / (tr + 0.5 * k), 6))
                 * ln(round((n_cur + 0.5) / (tc + 0.5 * k), 6)
                      / round((n_ref + 0.5) / (tr + 0.5 * k), 6)), 6)
             AS psi_term
    FROM t
    """,
)
def drift_event_type_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index terms between the month's first and
    second half of the events stream (operators/drift.psi_drift):
    the standing did-the-data-change-shape monitor. Per-bin terms are
    the actionable output; one tiny grouped aggregation, the corpus
    never shuffles."""
    from capital.operators.drift import psi_drift

    e = load_table(spark, sf_dir, "events")
    period = F.when(
        F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"), "ref"
    ).otherwise("cur")
    return psi_drift(e, "event_type", period, "ref", "cur")


# --- incremental CDC probe (growing lake) -------------------------------

_CDC_INC_MOD = 3  # doc_id % MOD == 0 -> today's batch; else history


def _cdc_incremental_oracle() -> str:
    return rf"""
    WITH base AS (
      SELECT doc_id,
             string_split_regex(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')),
               '\s+') AS toks
      FROM documents),
    tok AS (
      SELECT doc_id, toks[i] AS token, i
      FROM base, unnest(range(1, len(toks) + 1)) AS t(i)),
    b AS (
      SELECT doc_id, token, i,
             CASE WHEN i = 1
                       OR {_bucket_sql(_CDC_SEED, _CDC_AVG, "token")} = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM tok),
    chunked AS (
      SELECT doc_id, token, i,
             SUM(boundary) OVER (PARTITION BY doc_id ORDER BY i
                                 ROWS UNBOUNDED PRECEDING) AS chunk_idx
      FROM b),
    chunks AS (
      SELECT doc_id, chunk_idx,
             md5(string_agg(token, ' ' ORDER BY i)) AS digest,
             COUNT(*) AS n_tokens
      FROM chunked GROUP BY doc_id, chunk_idx),
    hist AS (
      SELECT DISTINCT digest FROM chunks
      WHERE doc_id % {_CDC_INC_MOD} <> 0),
    probe AS (
      SELECT c.doc_id, c.n_tokens,
             CASE WHEN h.digest IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM chunks c LEFT JOIN hist h USING (digest)
      WHERE c.doc_id % {_CDC_INC_MOD} = 0)
    SELECT doc_id,
           COUNT(*) AS n_chunks,
           CAST(SUM(hit) AS BIGINT) AS n_known_chunks,
           CAST(SUM(CASE WHEN hit = 1 THEN n_tokens ELSE 0 END)
             AS BIGINT) AS known_tokens
    FROM probe GROUP BY doc_id
    """


@query("dedup_cdc_incremental", oracle=_cdc_incremental_oracle())
def dedup_cdc_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC probe (llm/cdc.cdc_incremental_flags): today's
    batch (doc_id % 3 == 0) chunked and probed against the STORED
    digest index of the history (doc_id % 3 != 0) — the growing-lake
    shape of the LSH incremental probe, made shift-robust: history
    text is never re-chunked, the index is 16-byte digests + ids."""
    from capital.llm.cdc import cdc_incremental_flags, cdc_index_rows

    d = load_table(spark, sf_dir, "documents")
    batch = d.filter(F.col("doc_id") % _CDC_INC_MOD == 0)
    history = d.filter(F.col("doc_id") % _CDC_INC_MOD != 0)
    index = cdc_index_rows(history, avg_size=_CDC_AVG, seed=_CDC_SEED)
    return cdc_incremental_flags(
        batch, index, avg_size=_CDC_AVG, seed=_CDC_SEED
    )


# --- numeric-feature drift (binned PSI) ---------------------------------

#: Fixed bin edges on events.value (constants = consistent monitoring
#: across batches; data quartiles sit near 15/35/69).
_PSI_VALUE_EDGES = [10.0, 25.0, 50.0, 100.0]


def _value_bin_sql() -> str:
    cases = " ".join(
        f"WHEN value < {e} THEN 'b{i}'"
        for i, e in enumerate(_PSI_VALUE_EDGES)
    )
    return f"CASE {cases} ELSE 'b{len(_PSI_VALUE_EDGES)}' END"


@query(
    "drift_value_psi",
    oracle=f"""
    WITH counts AS (
      SELECT {_value_bin_sql()} AS bin,
             CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                < TIMESTAMP '{_PSI_SPLIT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                >= TIMESTAMP '{_PSI_SPLIT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      FROM events GROUP BY 1),
    t AS (
      SELECT bin, n_ref, n_cur,
             SUM(n_ref) OVER () AS tr, SUM(n_cur) OVER () AS tc,
             COUNT(*) OVER () AS k
      FROM counts)
    SELECT bin, n_ref, n_cur,
           round((n_ref + 0.5) / (tr + 0.5 * k), 6) AS p_ref,
           round((n_cur + 0.5) / (tc + 0.5 * k), 6) AS p_cur,
           round((round((n_cur + 0.5) / (tc + 0.5 * k), 6)
                  - round((n_ref + 0.5) / (tr + 0.5 * k), 6))
                 * ln(round((n_cur + 0.5) / (tc + 0.5 * k), 6)
                      / round((n_ref + 0.5) / (tr + 0.5 * k), 6)), 6)
             AS psi_term
    FROM t
    """,
)
def drift_value_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-feature drift: events.value pre-bucketed against FIXED
    edges (the monitoring posture — edges calibrated once, batches
    comparable over time), then the same per-bin PSI terms. Shows
    psi_drift generalizes beyond categoricals with a one-expression
    bin column."""
    from capital.operators.drift import psi_drift

    e = load_table(spark, sf_dir, "events")
    bin_expr = F.lit(None).cast("string")
    # Build the CASE ladder from the shared edges (lowest edge wins).
    for i, edge in reversed(list(enumerate(_PSI_VALUE_EDGES))):
        bin_expr = F.when(F.col("value") < edge, f"b{i}").otherwise(
            bin_expr if i < len(_PSI_VALUE_EDGES) - 1
            else f"b{len(_PSI_VALUE_EDGES)}"
        )
    period = F.when(
        F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"), "ref"
    ).otherwise("cur")
    return psi_drift(e, bin_expr, period, "ref", "cur")


# --- Kolmogorov-Smirnov drift (the PSI family's second statistic) -------


@query(
    "drift_value_ks",
    oracle=f"""
    WITH counts AS (
      SELECT {_value_bin_sql()} AS bin,
             CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                < TIMESTAMP '{_PSI_SPLIT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                >= TIMESTAMP '{_PSI_SPLIT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      FROM events GROUP BY 1),
    t AS (
      SELECT bin, n_ref, n_cur,
             CAST(SUM(n_ref) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE)
               / CAST(SUM(n_ref) OVER () AS DOUBLE) AS cr,
             CAST(SUM(n_cur) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS DOUBLE)
               / CAST(SUM(n_cur) OVER () AS DOUBLE) AS cc
      FROM counts)
    SELECT bin, n_ref, n_cur,
           floor(cr * 1e6 + 0.5e0) / 1e6 AS cdf_ref,
           floor(cc * 1e6 + 0.5e0) / 1e6 AS cdf_cur,
           floor(abs(cc - cr) * 1e6 + 0.5e0) / 1e6 AS cdf_gap,
           MAX(floor(abs(cc - cr) * 1e6 + 0.5e0) / 1e6) OVER ()
             AS ks_stat
    FROM t
    """,
)
def drift_value_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift (operators/drift.ks_drift)
    over the same fixed-edge value bins as drift_value_psi: the
    largest CUMULATIVE displacement between the two periods' ECDFs.
    Complements PSI - a location shift spread thinly over many bins
    tripping no single PSI term still accumulates in the CDF gap.
    Exact integer cumulative counts; one corpus scan, K-bin windows."""
    from capital.operators.drift import ks_drift

    e = load_table(spark, sf_dir, "events")
    bin_expr = F.lit(None).cast("string")
    for i, edge in reversed(list(enumerate(_PSI_VALUE_EDGES))):
        bin_expr = F.when(F.col("value") < edge, f"b{i}").otherwise(
            bin_expr if i < len(_PSI_VALUE_EDGES) - 1
            else f"b{len(_PSI_VALUE_EDGES)}"
        )
    period = F.when(
        F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"), "ref"
    ).otherwise("cur")
    return ks_drift(e, bin_expr, period, "ref", "cur")


# --- count-min sketch token-frequency estimation ------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 256
_CMS_SEED = "cms"
#: Probe keys: the en marker vocab + a token that never occurs (the
#: zero-estimate path must be exercised).
_CMS_PROBES: tuple[str, ...] = ("the", "a", "of", "and", "to", "zz_absent")

_NTOKS_SQL = (
    r"string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', "
    r"'g')), '\s+')"
)


def _cms_oracle() -> str:
    def bucket_case(key: str) -> str:
        whens = " ".join(
            f"WHEN {j} THEN {_bucket_sql(f'{_CMS_SEED}{j}', _CMS_WIDTH, key)}"
            for j in range(_CMS_DEPTH)
        )
        return f"CASE row {whens} END"

    rows_values = ", ".join(f"({j})" for j in range(_CMS_DEPTH))
    probe_list = ", ".join(f"('{w}')" for w in _CMS_PROBES)
    return f"""
    WITH tok AS (
      SELECT unnest({_NTOKS_SQL}) AS token FROM documents),
    keyed AS (
      SELECT token, j.row AS row FROM tok, (VALUES {rows_values}) j(row)),
    sk AS (
      SELECT row, {bucket_case("token")} AS bucket, COUNT(*) AS n
      FROM keyed GROUP BY 1, 2),
    probes AS (SELECT * FROM (VALUES {probe_list}) p(token)),
    pb AS (
      SELECT token, j.row AS row, {bucket_case("token")} AS bucket
      FROM probes, (VALUES {rows_values}) j(row))
    SELECT token,
           CAST(MIN(COALESCE(n, 0)) AS BIGINT) AS est_count
    FROM pb LEFT JOIN sk USING (row, bucket)
    GROUP BY token
    """


@query("sk_cms_token_counts", oracle=_cms_oracle())
def sk_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation
    (operators/sketches.cms_build/cms_estimate): the corpus collapses
    to a depth×width count table (1024 rows here, any corpus size) via
    map-side-combined partials; probes read min-of-depth buckets from
    the broadcast table without touching the corpus. md5 bucketing
    makes the sketch — and therefore the estimates — deterministic and
    bit-reproducible in the DuckDB oracle; the never-seen probe pins
    the zero path."""
    from capital.operators.sketches import cms_build, cms_estimate

    d = load_table(spark, sf_dir, "documents")
    from capital.llm.text import normalized, tokens

    tok = d.select(
        F.explode(tokens(normalized(F.col("text")))).alias("token")
    )
    sketch = cms_build(
        tok, depth=_CMS_DEPTH, width=_CMS_WIDTH, seed=_CMS_SEED
    )
    probes = spark.createDataFrame(
        [(w,) for w in _CMS_PROBES], "token string"
    )
    return cms_estimate(
        sketch, probes, depth=_CMS_DEPTH, width=_CMS_WIDTH, seed=_CMS_SEED
    )


# --- ordered funnel conversion ------------------------------------------

_FUNNEL_STEPS = ["view", "click", "purchase"]


def _funnel_oracle() -> str:
    steps = _FUNNEL_STEPS
    ctes = [
        f"""t1 AS (
      SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
      FROM events WHERE event_type = '{steps[0]}' GROUP BY user_id)"""
    ]
    for i, step in enumerate(steps[1:], start=2):
        ctes.append(f"""t{i} AS (
      SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t{i}
      FROM events e JOIN t{i - 1} USING (user_id)
      WHERE e.event_type = '{step}'
        AND CAST(e.ts AS TIMESTAMP) >= t{i - 1}.t{i - 1}
      GROUP BY e.user_id)""")
    ctes.append(
        "c AS (SELECT "
        + ", ".join(
            f"(SELECT COUNT(*) FROM t{i}) AS n{i}"
            for i in range(1, len(steps) + 1)
        )
        + ")"
    )
    selects = []
    for i, step in enumerate(steps, start=1):
        prev = max(i - 1, 1)
        selects.append(f"""SELECT CAST({i} AS INTEGER) AS step_idx,
           '{step}' AS step, n{i} AS n_users,
           round(n{i} / n1, 6) AS conv_from_first,
           round(n{i} / n{prev}, 6) AS conv_from_prev
    FROM c""")
    return (
        "\n    WITH " + ",\n    ".join(ctes) + "\n    "
        + "\n    UNION ALL\n    ".join(selects) + "\n    "
    )


@query("st_funnel_conversion", oracle=_funnel_oracle())
def st_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel (operators/funnel.py): per
    step, users whose EARLIEST qualifying event respects the order,
    plus drop-off rates — K filtered aggregations and user-sized
    joins, no raw-stream windows. The product-analytics staple the
    two-step attribution join doesn't cover."""
    from capital.operators.funnel import funnel_conversion

    e = load_table(spark, sf_dir, "events")
    return funnel_conversion(e, _FUNNEL_STEPS)


# --- full-recall set-similarity join (prefix filtering) -----------------

_PFX_K = 3
_PFX_THRESHOLD = 0.5
_PFX_NTOKS = (
    r"string_split_regex(trim(regexp_replace(lower(text), '\s+', ' ', "
    r"'g')), '\s+')"
)


@query(
    "dedup_jaccard_fullrecall",
    memoize=False,
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             list_distinct([array_to_string(t[i:i+{_PFX_K - 1}], ' ')
                            FOR i IN range(1, greatest(len(t) - {_PFX_K - 1},
                                                       1) + 1)]) AS s
      FROM (SELECT doc_id, {_PFX_NTOKS} AS t FROM documents))
    SELECT * FROM (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             round(len(list_intersect(a.s, b.s))
                   / greatest(len(a.s) + len(b.s)
                              - len(list_intersect(a.s, b.s)), 1), 6)
               AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    WHERE jaccard >= {_PFX_THRESHOLD}
    """,
)
def dedup_jaccard_fullrecall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard join over the FULL corpus
    (llm/dedup.jaccard_fullrecall_pairs): the oracle is the naive
    all-pairs join, so the hash match IS the zero-false-negative
    proof — the engine only ever enumerates prefix-token collisions
    (rare-first global order, skew-bounded), never n²/2 pairs. The
    set-similarity member of the full-recall tier (FastSS: edit
    distance; pigeonhole: hamming)."""
    from capital.llm.dedup import jaccard_fullrecall_pairs

    d = load_table(spark, sf_dir, "documents")
    return jaccard_fullrecall_pairs(
        d, shingle_k=_PFX_K, threshold=_PFX_THRESHOLD
    )


# --- incremental drift monitor (stored baseline + batch fold) -----------


@query(
    "drift_incremental_psi",
    memoize=False,
    oracle=f"""
    WITH counts AS (
      SELECT CAST(hour(CAST(ts AS TIMESTAMP)) AS VARCHAR) AS bin,
             CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                < TIMESTAMP '{_PSI_SPLIT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_ref,
             CAST(SUM(CASE WHEN CAST(ts AS TIMESTAMP)
                                >= TIMESTAMP '{_PSI_SPLIT}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      FROM events GROUP BY 1),
    t AS (
      SELECT bin, n_ref, n_cur,
             SUM(n_ref) OVER () AS tr, SUM(n_cur) OVER () AS tc,
             COUNT(*) OVER () AS k
      FROM counts)
    SELECT bin, n_ref, n_cur,
           round((n_ref + 0.5) / (tr + 0.5 * k), 6) AS p_ref,
           round((n_cur + 0.5) / (tc + 0.5 * k), 6) AS p_cur,
           round((round((n_cur + 0.5) / (tc + 0.5 * k), 6)
                  - round((n_ref + 0.5) / (tr + 0.5 * k), 6))
                 * ln(round((n_cur + 0.5) / (tc + 0.5 * k), 6)
                      / round((n_ref + 0.5) / (tr + 0.5 * k), 6)), 6)
             AS psi_term
    FROM t
    """,
)
def drift_incremental_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental PSI drift (round-9 streaming member of the drift
    family): hour-of-day histogram of the reference period persisted
    ONCE as a stored baseline (operators/drift.baseline_histogram —
    the stored-index posture of llm/cdc.py), then the current period
    folded as per-day micro-batch partial histograms exactly the way
    ``streaming/incremental.psi_state_terms`` folds the streaming
    state, and scored against the stored baseline. Real micro-batch
    execution (foreachBatch, batch_id-partitioned convergent state,
    replay idempotence) runs in tests/test_streaming.py; per-bin
    terms are identical to batch psi_drift by the shared psi_terms
    tail. The corpus is scanned once per period; everything after the
    map-side-combined counts is K≈24 dimension rows."""
    import os
    import tempfile

    from capital.operators.drift import (
        baseline_histogram,
        psi_counts_against_baseline,
    )

    e = load_table(spark, sf_dir, "events")
    hour_bin = F.hour("ts").cast("string")
    split = F.lit(_PSI_SPLIT).cast("timestamp")
    # Stored baseline: fixed per-sf path + overwrite (the
    # sim_ivf_stored_fullprobe convention — reruns reuse one dir).
    path = os.path.join(
        tempfile.gettempdir(),
        f"capital_psi_baseline_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    baseline_histogram(e.filter(F.col("ts") < split), hour_bin).write.mode(
        "overwrite"
    ).parquet(path)
    baseline = read_parquet(spark, path)
    # Current period as per-day micro-batch partials, folded like the
    # streaming state table (groupBy bin over per-batch histograms).
    partials = (
        e.filter(F.col("ts") >= split)
        .select(hour_bin.alias("bin"), F.dayofmonth("ts").alias("batch_id"))
        .groupBy("batch_id", "bin")
        .agg(F.count(F.lit(1)).alias("n_cur"))
    )
    cur_counts = partials.groupBy("bin").agg(F.sum("n_cur").alias("n_cur"))
    return psi_counts_against_baseline(cur_counts, baseline)


# --- Gopher document-quality rules (Rae et al. 2021, A1.1) --------------


#: Corpus-calibrated overrides (the production posture: rule
#: constants are calibrated per corpus once, then applied as
#: constants). The paper defaults reject 100% of the synthetic
#: corpus (docs run 10–99 words and its vocabulary contains only
#: 'the' from the required-stopword set) — a vacuous gate pins no
#: real branch coverage, so the QUERY gates at the calibrated
#: values while the operator keeps the paper defaults.
_GOPHER_OVERRIDES = {"min_words": 30, "min_required_stopwords": 1}


def gopher_rules_sql(
    rel: str = "documents", overrides: dict | None = None
) -> str:
    """Parameterized DuckDB twin of ``curation.gopher_quality_flags``
    over any relation with (doc_id, text) — generated from the same
    rule constants; spliced by cur_gopher_rules (documents) and the
    composed pipe_curation_v2 funnel."""
    from capital.llm.curation import GOPHER_RULES
    from capital.llm.curation import GOPHER_STOPWORDS

    R = dict(GOPHER_RULES)
    R.update(overrides or {})
    stoplist = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return rf"""
    WITH base AS (
      SELECT doc_id,
             string_split_regex(trim(text), '\s+') AS toks,
             length(regexp_replace(text, '\s+', '', 'g')) AS char_sum,
             len(string_split(text, '#')) - 1
               + len(string_split_regex(text, '\.\.\.')) - 1 AS n_symbols,
             text
      FROM {rel}),
    sig AS (
      SELECT doc_id,
             len(toks) AS n_words,
             char_sum / greatest(len(toks), 1) AS mean_wl,
             n_symbols / greatest(len(toks), 1) AS symbol_ratio,
             len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
               / greatest(len(toks), 1) AS alpha_ratio,
             len(list_filter([{stoplist}],
                             w -> list_contains(toks, w))) AS n_stop
      FROM base)
    SELECT doc_id,
           CAST(n_words AS INTEGER) AS n_words,
           floor(mean_wl * 1000000.0 + 0.5) / 1000000.0
             AS mean_word_len,
           floor(symbol_ratio * 1000000.0 + 0.5) / 1000000.0
             AS symbol_ratio,
           floor(alpha_ratio * 1000000.0 + 0.5) / 1000000.0
             AS alpha_word_ratio,
           CAST(n_stop AS INTEGER) AS n_required_stopwords,
           (n_words >= {R["min_words"]} AND n_words <= {R["max_words"]}
            AND mean_wl >= {R["min_mean_word_len"]!r}
            AND mean_wl <= {R["max_mean_word_len"]!r}
            AND symbol_ratio <= {R["max_symbol_ratio"]!r}
            AND alpha_ratio >= {R["min_alpha_word_ratio"]!r}
            AND n_stop >= {R["min_required_stopwords"]}) AS gopher_keep
    FROM sig
    """


def _gopher_oracle() -> str:
    return gopher_rules_sql("documents", _GOPHER_OVERRIDES)


@query("cur_gopher_rules", oracle=_gopher_oracle())
def cur_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher document-quality rules (Rae et al. 2021, A1.1) as one
    narrow single-pass gate (llm/curation.gopher_quality_flags):
    word-count bounds, mean-word-length bounds, symbol-to-word ratio,
    alphabetic-word ratio, required-stopword presence, and the
    composed keep flag. The cheapest funnel stage — fuse ahead of
    the dedup tiers so quadratic stages never see rejected docs."""
    from capital.io import right_size_narrow
    from capital.llm.curation import gopher_quality_flags

    # right_size_narrow: a single-file parquet corpus is ONE input
    # split, so the tokenize/regex work ran on one core — measured
    # 0.32 → 0.06 s at sf0.1 (round-10 verdict ask #8; the signals
    # themselves were already within noise of their best variants).
    d = right_size_narrow(load_table(spark, sf_dir, "documents"))
    return gopher_quality_flags(d, rules=_GOPHER_OVERRIDES).select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        "mean_word_len",
        "symbol_ratio",
        "alpha_word_ratio",
        F.col("n_required_stopwords").cast("int").alias(
            "n_required_stopwords"
        ),
        "gopher_keep",
    )


# --- prototype-distance pruning (Sorscher et al. 2022) ------------------

_PROTO_DIM = 64
_PROTO_K = 5


def _proto_cos_sql(qv: str, cv: str) -> str:
    """Cosine of a FLOAT[] row vector against a DOUBLE[] centroid —
    the sim-family `_COS` fragment shape (sequential list_sum, CAST
    placement mirroring the Spark fold's per-element double casts)."""
    rng = f"range(1, {_PROTO_DIM} + 1)"
    return (
        f"list_sum([CAST({qv}[i] AS DOUBLE) * CAST({cv}[i] AS DOUBLE)"
        f" FOR i IN {rng}])"
        f" / (sqrt(list_sum([CAST({qv}[i] AS DOUBLE) * CAST({qv}[i] AS DOUBLE)"
        f" FOR i IN {rng}]))"
        f" * sqrt(list_sum([CAST({cv}[i] AS DOUBLE) * CAST({cv}[i] AS DOUBLE)"
        f" FOR i IN {rng}])))"
    )


@query(
    "cur_prototype_prune",
    oracle=f"""
    WITH comp AS (
      SELECT label, i AS pos,
             CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(28,6)))
                  AS DOUBLE)
               / COUNT(CAST(embedding[i] AS DOUBLE)) AS c
      FROM embeddings, unnest(range(1, {_PROTO_DIM} + 1)) AS t(i)
      GROUP BY label, i),
    cen AS (SELECT label, list(c ORDER BY pos) AS cv FROM comp GROUP BY label),
    scored AS (
      SELECT e.vec_id, e.label,
             round({_proto_cos_sql('e.embedding', 'cen.cv')}, 6) AS proto_cos
      FROM embeddings e JOIN cen USING (label)),
    ranked AS (
      SELECT label, vec_id, proto_cos,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY proto_cos, vec_id) AS rn
      FROM scored)
    SELECT label, vec_id, proto_cos, CAST(rn AS INTEGER) AS rank
    FROM ranked WHERE rn <= {_PROTO_K}
    """,
)
def cur_prototype_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prototype-distance prune candidates (Sorscher et al. 2022):
    the bottom-5 most-atypical embeddings per label by cosine to the
    exact per-label centroid. See capital/llm/centroids.py — centroid
    fit is a labels×dim partial aggregate, scoring is a broadcast
    join + narrow fold, zero corpus-sized shuffles."""
    from capital.llm.centroids import prototype_prune

    emb = load_table(spark, sf_dir, "embeddings")
    return prototype_prune(emb, _PROTO_K)


# --- per-row robust outliers (median/MAD) --------------------------------

_MAD_K = 3.5
_MAD_C = 1.4826


@query(
    "mon_mad_outliers",
    oracle=f"""
    WITH med_t AS (
      SELECT event_type AS g, quantile_cont(value, 0.5) AS gmed
      FROM events GROUP BY 1),
    dev AS (
      SELECT e.event_id, e.event_type, e.value, m.gmed,
             abs(e.value - m.gmed) AS ad
      FROM events e JOIN med_t m ON e.event_type = m.g),
    mad_t AS (
      SELECT event_type AS g2, quantile_cont(ad, 0.5) AS gmad
      FROM dev GROUP BY 1)
    SELECT d.event_id, d.event_type, d.value,
           d.gmed AS group_median,
           floor(CASE WHEN t.gmad > 0e0
                      THEN d.ad / ({_MAD_C!r}e0 * t.gmad) END
                 * 1e6 + 0.5e0) / 1e6 AS robust_z,
           COALESCE(floor(CASE WHEN t.gmad > 0e0
                               THEN d.ad / ({_MAD_C!r}e0 * t.gmad) END
                          * 1e6 + 0.5e0) / 1e6 > {_MAD_K!r}e0,
                    FALSE) AS is_outlier
    FROM dev d JOIN mad_t t ON d.event_type = t.g2
    """,
)
def mon_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row robust outlier flags (operators/outliers.mad_outliers):
    each event scored |value - group median| / (1.4826 * MAD) within
    its event_type - the record-granularity member of the monitoring
    family next to the distribution-level PSI/KS drift. Median/MAD
    resist the masking that defeats mean/stddev z-scores; exact
    percentile parity rides the a9-pinned
    percentile == quantile_cont equivalence."""
    from capital.operators.outliers import mad_outliers

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return mad_outliers(e, "event_type", "value", k=_MAD_K).select(
        "event_id", "event_type", "value", "group_median",
        "robust_z", "is_outlier",
    )


# --- mutual information between corpus axes ------------------------------


@query(
    "cur_mi_source_lang",
    oracle="""
    WITH c AS (
      SELECT source, lang, COUNT(*) AS n_xy
      FROM documents GROUP BY 1, 2),
    m AS (
      SELECT source, lang, n_xy,
             SUM(n_xy) OVER (PARTITION BY source) AS nx,
             SUM(n_xy) OVER (PARTITION BY lang) AS ny,
             SUM(n_xy) OVER () AS n
      FROM c)
    SELECT source, lang,
           CAST(n_xy AS BIGINT) AS n_xy,
           floor((n_xy / CAST(n AS DOUBLE)) * 1e6 + 0.5e0) / 1e6
             AS p_xy,
           floor(((n_xy / CAST(n AS DOUBLE))
                  * ln((n_xy * n) / CAST(nx * ny AS DOUBLE)))
                 * 1e6 + 0.5e0) / 1e6 AS mi_term
    FROM m
    """,
)
def cur_mi_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell mutual information between source and language
    (operators/stats.mutual_information): is the corpus's language
    mix confounded with its source mix - the question a mixture
    rebalance must answer before touching either axis (rebalancing
    sources silently reshapes languages exactly when MI > 0). Exact
    integer counts, window marginals over the dimension-sized cell
    table, PSI-style ln parity."""
    from capital.operators.stats import mutual_information

    d = load_table(spark, sf_dir, "documents")
    return mutual_information(d, "source", "lang")


# --- cluster-balanced UniMax budgets (round 10) ----------------------------

_CU_FRACTION = 0.9
_CU_EPOCHS = 4.0


def _cluster_unimax_oracle() -> str:
    from capital.queries.llm_queries import (
        _KM_ITERS,
        _KM_K,
        _NTOKS,
        _km_dist,
        _kmeans_cte_chain,
    )

    e = f"{_CU_EPOCHS!r}e0"
    f_ = f"{_CU_FRACTION!r}e0"
    last = f"c{_KM_ITERS}"
    return rf"""
    WITH {_kmeans_cte_chain(_KM_K, _KM_ITERS)},
    sF AS MATERIALIZED (
      SELECT emb.vec_id, {last}.cell, {_km_dist(f"{last}.c")} AS d
      FROM emb CROSS JOIN {last}),
    mF AS (SELECT vec_id, MIN(d) AS md FROM sF GROUP BY vec_id),
    aF AS MATERIALIZED (
      SELECT s.vec_id, MIN(s.cell) AS cell
      FROM sF s JOIN mF m ON s.vec_id = m.vec_id AND s.d = m.md
      GROUP BY s.vec_id),
    per_cell AS (
      SELECT a.cell, SUM(len({_NTOKS})) AS n_tokens
      FROM documents JOIN aF a ON documents.doc_id = a.vec_id
      GROUP BY a.cell),
    st AS (
      SELECT cell, n_tokens,
             {e} * n_tokens AS capacity,
             row_number() OVER w AS rn,
             COALESCE(SUM(n_tokens) OVER (
               w ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS prefix_t,
             COUNT(*) OVER () AS n_src,
             SUM(n_tokens) OVER () AS total_t
      FROM per_cell
      WINDOW w AS (ORDER BY {e} * n_tokens ASC, cell ASC)),
    cand_t AS (
      SELECT *,
             ({f_} * ({e} * total_t) - {e} * prefix_t)
               / CAST(n_src - rn + 1 AS DOUBLE) AS cand
      FROM st),
    pv AS (
      SELECT *, MIN(CASE WHEN cand <= capacity THEN rn END) OVER ()
                  AS pivot_rn
      FROM cand_t),
    lv AS (
      SELECT *,
             CASE WHEN pivot_rn IS NULL OR rn < pivot_rn
                  THEN capacity
                  ELSE MAX(CASE WHEN rn = pivot_rn THEN cand END)
                       OVER () END AS alloc
      FROM pv)
    SELECT CAST(cell AS INTEGER) AS cell,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           floor(capacity * 1e6 + 0.5e0) / 1e6 AS capacity,
           floor(alloc * 1e6 + 0.5e0) / 1e6 AS alloc_tokens,
           floor(alloc / n_tokens * 1e6 + 0.5e0) / 1e6 AS epochs_alloc,
           alloc >= capacity AS saturated
    FROM lv
    """


@query("cur_cluster_unimax", memoize=False, oracle=_cluster_unimax_oracle())
def cur_cluster_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced UniMax: the water-filling budget allocation
    run over SEMANTIC k-means cells instead of source labels — the
    topic-rebalancing a source-agnostic crawl needs (a dominant topic
    cluster is capped exactly like a dominant source). Composes the
    deterministic Lloyd's clustering (sim_kmeans_cells) with
    unimax_allocation through its non-default source_col path (the
    round-10 advice fix, now oracle-covered)."""
    from capital.llm.assemble import unimax_allocation
    from capital.llm.kmeans import lloyd_kmeans
    from capital.llm.text import tokens
    from capital.queries.llm_queries import _KM_ITERS, _KM_K

    d = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    assignments, _ = lloyd_kmeans(emb, k=_KM_K, iterations=_KM_ITERS)
    per_cell = (
        d.join(
            assignments.select(F.col("vec_id").alias("doc_id"), "cell"),
            "doc_id",
        )
        .groupBy("cell")
        .agg(F.sum(F.size(tokens(F.col("text")))).alias("n_tokens"))
    )
    out = unimax_allocation(
        per_cell,
        budget_fraction=_CU_FRACTION,
        epoch_cap=_CU_EPOCHS,
        source_col="cell",
    )
    return out.select(
        F.col("source").cast("int").alias("cell"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "capacity",
        "alloc_tokens",
        "epochs_alloc",
        "saturated",
    )


# --- C4 line-granular curation (round 15) --------------------------------


def _c4_fixture_sql() -> str:
    """DuckDB twin of capital.llm.c4.with_line_fixture, generated from
    the same constants: FIXTURE_LINE_TOKENS-token lines with the
    punct/javascript/brace/lorem injections."""
    from capital.llm.c4 import (
        FIXTURE_BRACE_MOD,
        FIXTURE_JS_MOD,
        FIXTURE_LINE_TOKENS,
        FIXTURE_LOREM_MOD,
        FIXTURE_PUNCT_MOD,
    )
    from capital.queries.llm_queries import _NTOKS

    k, pm, jm = FIXTURE_LINE_TOKENS, FIXTURE_PUNCT_MOD, FIXTURE_JS_MOD
    return f"""
    fx AS (
      SELECT doc_id, text,
        list_concat(list_concat(
          [array_to_string(t[i*{k}+1 : i*{k}+{k}], ' ')
             || (CASE WHEN (doc_id + i) % {jm} = 3
                 THEN ' javascript' ELSE '' END)
             || (CASE WHEN i % {pm} != {pm - 1} THEN '.' ELSE '' END)
           FOR i IN range(0, (len(t) - 1) // {k} + 1)],
          CASE WHEN doc_id % {FIXTURE_BRACE_MOD} = 5
               THEN ['var cfg = {{ }}'] ELSE [] END),
          CASE WHEN doc_id % {FIXTURE_LOREM_MOD} = 7
               THEN ['lorem ipsum dolor sit amet.'] ELSE [] END)
          AS lines
      FROM (SELECT doc_id, text, {_NTOKS} AS t FROM documents))"""


def _c4_rules_oracle() -> str:
    from capital.llm.c4 import MIN_KEPT_LINES, MIN_LINE_WORDS

    keep_line = (
        "l -> regexp_matches(l, '[.!?\"]$')"
        f" AND len(string_split_regex(trim(l), '\\s+')) >= {MIN_LINE_WORDS}"
        " AND NOT contains(lower(l), 'javascript')"
    )
    return f"""
    WITH {_c4_fixture_sql()},
    sig AS (
      SELECT doc_id, text,
             lines,
             list_filter(lines, {keep_line}) AS kept,
             array_to_string(lines, chr(10)) AS lined
      FROM fx)
    SELECT doc_id,
      CASE WHEN text IS NULL THEN NULL
           ELSE CAST(len(lines) AS INTEGER) END AS n_lines,
      CASE WHEN text IS NULL THEN NULL
           ELSE CAST(len(kept) AS INTEGER) END AS n_kept_lines,
      CASE WHEN text IS NULL THEN NULL
           ELSE contains(lined, '{{') END AS has_brace,
      CASE WHEN text IS NULL THEN NULL
           ELSE contains(lower(lined), 'lorem ipsum') END AS has_lorem,
      CASE WHEN text IS NULL THEN NULL
           ELSE md5(coalesce(array_to_string(kept, chr(10)), ''))
           END AS clean_md5,
      CASE WHEN text IS NULL THEN NULL
           ELSE len(kept) >= {MIN_KEPT_LINES}
                AND NOT contains(lined, '{{')
                AND NOT contains(lower(lined), 'lorem ipsum')
           END AS c4_keep
    FROM sig
    """


@query("cur_c4_rules", oracle=_c4_rules_oracle())
def cur_c4_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line-granular quality battery (Raffel et al. 2020
    §2.2), complementing the document-level Gopher rules: line rule =
    terminal punctuation + >=3 words + no 'javascript'; page rule =
    >=5 kept lines, no curly brace, no 'lorem ipsum'. The driver
    corpus is single-line, so the query rebuilds a deterministic
    '\\n'-structured fixture from the tokens (the html_fixture
    convention); the oracle re-derives it from the same constants.
    Narrow single-pass column expressions — no shuffle
    (capital/llm/c4.py)."""
    from capital.llm.c4 import c4_quality_filter, with_line_fixture

    d = load_table(spark, sf_dir, "documents")
    return c4_quality_filter(with_line_fixture(d)).select(
        "doc_id", "n_lines", "n_kept_lines", "has_brace", "has_lorem",
        "clean_md5", "c4_keep",
    )


def _dedup_lines_oracle() -> str:
    return f"""
    WITH {_c4_fixture_sql()},
    ln AS (
      SELECT doc_id, u.i AS idx, lines[u.i] AS line
      FROM fx, unnest(range(1, len(lines) + 1)) AS u(i)
      WHERE text IS NOT NULL),
    rnk AS (
      SELECT doc_id, idx, line,
             row_number() OVER (PARTITION BY line
                                ORDER BY doc_id, idx) AS rn
      FROM ln),
    agg AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed_lines,
             md5(coalesce(string_agg(CASE WHEN rn = 1 THEN line END,
                                     chr(10) ORDER BY idx), ''))
               AS clean_md5
      FROM rnk GROUP BY doc_id)
    SELECT d.doc_id AS doc_id,
           agg.n_lines, agg.n_removed_lines, agg.clean_md5
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    """


@query("dedup_corpus_lines", oracle=_dedup_lines_oracle())
def dedup_corpus_lines_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORPUS-WIDE exact line dedup, global first occurrence wins —
    C4's one-copy-survives span dedup at line granularity (the
    boilerplate-line removal member of the dedup family, between
    exact-doc and token-window tiers). Shape: posexplode → one
    map-side-combined min(doc,idx) aggregate per distinct line →
    fan-out-proof equi-join back (aggregate side is one row per
    line) → per-doc rebuild (capital/llm/c4.py dedup_corpus_lines)."""
    from capital.llm.c4 import dedup_corpus_lines, with_line_fixture

    d = load_table(spark, sf_dir, "documents")
    return dedup_corpus_lines(with_line_fixture(d)).select(
        "doc_id", "n_lines", "n_removed_lines", "clean_md5"
    )


# --- Multinomial Naive Bayes classifier (round 15) -----------------------


def nb_pred_sql(rel: str = "documents") -> str:
    """Standalone ``WITH … SELECT`` producing ``(doc_id, nb_pred,
    score6)`` — resubstitution train+classify over relation ``rel``
    with columns (doc_id, lang, text). Parameterized so composing
    pipelines (pipe_curation_v2) splice it as a nested-WITH CTE body
    (the _clusters_oracle convention); full SQL replication of the
    exact-integer model, PSI-discipline log terms, decimal-sum seen
    mass, (score6 desc, label asc) argmax. Multi-referenced CTEs
    MATERIALIZED."""
    from capital.queries.llm_queries import _NTOKS
    from capital.queries.registry import ora_sum

    seen_sum = ora_sum("CAST(tf AS DOUBLE) * lp", "seen_sum")
    return f"""
    WITH dt AS MATERIALIZED (
      SELECT doc_id, t AS tok, COUNT(*) AS tf FROM (
        SELECT doc_id, unnest({_NTOKS}) AS t FROM {rel})
      GROUP BY 1, 2),
    tok AS MATERIALIZED (
      SELECT dt.doc_id AS doc_id, d.lang AS cls, tok, tf
      FROM dt JOIN {rel} d ON dt.doc_id = d.doc_id),
    ct AS MATERIALIZED (
      SELECT cls, tok, CAST(SUM(tf) AS BIGINT) AS cnt
      FROM tok GROUP BY 1, 2),
    ls AS MATERIALIZED (
      SELECT cls, COUNT(DISTINCT doc_id) AS nd_cls,
             CAST(SUM(tf) AS BIGINT) AS total_tf
      FROM tok GROUP BY 1),
    meta AS MATERIALIZED (
      SELECT COUNT(DISTINCT tok) AS v, COUNT(DISTINCT doc_id) AS n
      FROM dt),
    lstats AS MATERIALIZED (
      SELECT cls,
             round(ln(nd_cls / CAST((SELECT n FROM meta) AS DOUBLE)), 6)
               AS lp_prior,
             round(ln(1e0 / (CAST(total_tf AS DOUBLE)
                             + 1e0 * (SELECT v FROM meta))), 6) AS lp0
      FROM ls),
    ctl AS MATERIALIZED (
      SELECT ct.cls AS cls, tok,
             round(ln((CAST(cnt AS DOUBLE) + 1e0)
                      / (CAST(ls.total_tf AS DOUBLE)
                         + 1e0 * (SELECT v FROM meta))), 6) AS lp
      FROM ct JOIN ls ON ct.cls = ls.cls),
    seen AS MATERIALIZED (
      SELECT dt.doc_id AS doc_id, ctl.cls AS cls,
             {seen_sum},
             CAST(SUM(tf) AS BIGINT) AS seen_tf
      FROM dt JOIN ctl USING (tok) GROUP BY 1, 2),
    nd AS MATERIALIZED (
      SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS ntf
      FROM dt GROUP BY 1),
    grid AS MATERIALIZED (
      SELECT nd.doc_id AS doc_id, lstats.cls AS cls,
             floor((lp_prior + coalesce(seen_sum, 0e0)
                    + CAST(nd.ntf - coalesce(seen_tf, 0) AS DOUBLE)
                      * lp0) * 1e6 + 0.5e0) / 1e6 AS score6
      FROM nd CROSS JOIN lstats
      LEFT JOIN seen ON seen.doc_id = nd.doc_id
                    AND seen.cls = lstats.cls),
    pick AS (
      SELECT doc_id, cls, score6,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY score6 DESC, cls ASC) AS rn
      FROM grid)
    SELECT doc_id, cls AS nb_pred, score6 FROM pick WHERE rn = 1
    """


def _nb_oracle() -> str:
    return f"""
    SELECT d.doc_id AS doc_id, d.lang AS lang,
           p.nb_pred AS nb_pred, p.score6 AS score6,
           (p.nb_pred = d.lang) AS correct
    FROM documents d JOIN ({nb_pred_sql()}) p ON p.doc_id = d.doc_id
    """


@query("cur_nb_lang_classify", memoize=False, oracle=_nb_oracle())
def cur_nb_lang_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes, trained on the corpus's language
    labels and resubstituted (capital/llm/nbayes.py) — the engine's
    TRAINABLE classifier slot (the GPT-3/FineWeb quality-classifier
    posture) next to the marker-heuristic lang ID. Exact-integer
    model state; scoring under the PSI/MI parity discipline
    (round(ln(int/int), 6) terms, decimal-sum seen mass, fixed-shape
    final add, (score6 desc, label asc) argmax). memoize=False:
    training collects bounded metadata eagerly."""
    from capital.llm.nbayes import nb_classify, nb_train

    d = load_table(spark, sf_dir, "documents")
    model = nb_train(d)
    return (
        nb_classify(d, model)
        .join(d.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id", "lang", "nb_pred", "score6",
            (F.col("nb_pred") == F.col("lang")).alias("correct"),
        )
    )


@query("cur_nb_stored_classify", memoize=False, oracle=_nb_oracle())
def cur_nb_stored_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive Bayes against a STORED model (llm/nbayes.nb_save /
    nb_load) — the classifier member of the stored-index family (BM25
    postings, LSH band table, IVF/PQ lakes): train once, persist the
    exact-integer state, score any corpus without retraining. The
    whole train→write→load→classify path must hash-match the SAME
    oracle as the in-call cur_nb_lang_classify (integer state is
    lossless through parquet). memoize=False: writes the model
    eagerly per call."""
    import os
    import tempfile

    from capital.llm.nbayes import nb_classify, nb_load, nb_save, nb_train

    d = load_table(spark, sf_dir, "documents")
    path = os.path.join(
        tempfile.gettempdir(),
        f"capital_nb_model_v1_{os.path.basename(sf_dir.rstrip('/'))}",
    )
    nb_save(nb_train(d), path)
    model = nb_load(spark, path)
    return (
        nb_classify(d, model)
        .join(d.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id", "lang", "nb_pred", "score6",
            (F.col("nb_pred") == F.col("lang")).alias("correct"),
        )
    )
