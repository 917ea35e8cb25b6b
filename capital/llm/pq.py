"""Product quantization (PQ) approximate nearest neighbor search.

The memory-compression ANN tier (Jégou, Douze, Schmid — "Product
quantization for nearest neighbor search", TPAMI 2011): split the
D-dim vector into ``m`` subspaces, vector-quantize each subspace with
its own ``ks``-centroid codebook, and store only the m code ids —
here packed into ONE long (m=8 × 4-bit codes = 32 bits), an **8-byte
column replacing the 256-byte float array (32×)**. At 100 TB that is
the difference between a codes table that fits executor memory /
broadcast and one that does not.

Search uses the classic **asymmetric distance computation (ADC)**:

- per query, ONE Arrow-batched numpy kernel computes its distance
  table — the m×ks squared sub-distances to every codebook centroid
  (the expression form's ~1000 literal terms exceed janino's method
  limit, fail codegen, and run interpreted — see
  :func:`query_adc_tables`);
- per (query, code) pair, the score is ``Σ_j table[j*ks + code_j]``
  — m ``element_at`` lookups + adds on a packed long, pure
  whole-stage codegen, no per-pair float-vector math at all (the
  corpus' float vectors are never read at scoring time). The
  *pair-scoring* hot path never leaves the JVM.

Vectors are L2-normalized before encoding and querying, so squared-L2
ADC order is exactly cosine order (``||a−b||² = 2 − 2cos`` on unit
vectors) — comparable with the engine's other ANN tiers.

Determinism: per-subspace KMeans with fixed seeds is reproducible but
not SQL-expressible, so the trained-codebook query registers
rows-only; correctness is held by recall-vs-brute-force tests plus an
exactness property (a vector sitting ON a centroid grid reconstructs
losslessly, making ADC equal true distance — tests/test_pq.py).
**The hash-anchored twin** fixes the codebooks with
:func:`fixed_codebooks` (no training), which makes every stage —
encode argmin, ADC tables, shortlist, rerank — SQL-expressible; the
numpy kernels below accumulate **sequentially in array order** so
their doubles are bit-identical to a DuckDB left-fold ``list_sum``
over the same literals (the engine's float-parity convention).
"""

from __future__ import annotations

import functools
import operator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from capital.io import read_parquet

#: Defaults: 64-dim vectors → 8 subspaces × 8 dims, 16 centroids each
#: (4-bit codes; 8 codes pack into 32 bits of one long).
PQ_M = 8
PQ_KS = 16


def fixed_codebooks(
    dim: int,
    m: int = PQ_M,
    ks: int = PQ_KS,
    seed: int = 7,
    scale: float = 0.35,
) -> list[list[list[float]]]:
    """Deterministic pseudo-random codebooks (no training) — the PQ
    analogue of :func:`capital.llm.similarity.hyperplanes`: components
    derive from a splitmix-style integer mix of (seed, subspace,
    centroid, dim index), rounded to 6 decimals so the literals are
    short and parse to the identical double in Spark and DuckDB.

    ``scale`` ≈ the sub-vector component range of unit-normalized
    vectors (|u_i| ~ 1/√dim · √(dim/m)), so the fixed grid still
    discriminates. Any codebooks exercise the full encode/ADC/rerank
    machinery — fixing them is what makes a hash oracle possible."""
    out = []
    for j in range(m):
        sub = []
        for c in range(ks):
            row = []
            for t in range(dim // m):
                x = (seed * 1_000_003 + j * 97_001 + c * 10_007 + t) & 0xFFFFFFFF
                x = (x ^ (x >> 16)) * 0x45D9F3B & 0xFFFFFFFF
                x = (x ^ (x >> 16)) * 0x45D9F3B & 0xFFFFFFFF
                x = x ^ (x >> 16)
                row.append(round(((x / 0xFFFFFFFF) * 2.0 - 1.0) * scale, 6))
            sub.append(row)
        out.append(sub)
    return out


def _unit(vec: Column) -> Column:
    """L2-normalize (zero vectors pass through unchanged)."""
    nrm = F.sqrt(
        F.aggregate(
            vec,
            F.lit(0.0),
            lambda acc, x: acc + x.cast("double") * x.cast("double"),
        )
    )
    return F.when(nrm > 0, F.transform(vec, lambda x: x.cast("double") / nrm)).otherwise(
        F.transform(vec, lambda x: x.cast("double"))
    )


def train_codebooks(
    corpus: DataFrame,
    dim: int,
    m: int = PQ_M,
    ks: int = PQ_KS,
    vec_col: str = "embedding",
    seed: int = 11,
) -> list[list[list[float]]]:
    """Fit one ``ks``-centroid KMeans per subspace over the L2-
    normalized corpus; returns ``m × ks × (dim/m)`` floats — a few KB,
    embedded as literals everywhere downstream (no model object at
    encode/search time). At 100 TB, train on a sample: the codebooks
    are an index artifact like IVF centroids."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim % m:
        raise ValueError(f"dim={dim} must divide into m={m} subspaces")
    d = dim // m
    from capital.io import right_size_narrow

    # Persist the normalized training frame for the fit's scope:
    # every Lloyd iteration of every sub-fit re-reads it, and the
    # interpreted-HOF normalization would otherwise re-run
    # m × maxIter × 2 times from the parquet scan.
    unit = right_size_narrow(corpus.select(_unit(F.col(vec_col)).alias("__u")))
    unit = unit.persist()

    def _fit(j: int) -> list[list[float]]:
        sub = unit.select(
            array_to_vector(F.slice(F.col("__u"), j * d + 1, d)).alias("__s")
        )
        # maxIter=8: sub-codebooks converge in a few Lloyd rounds and
        # a fixed iteration cap keeps the fit deterministic AND cheap
        # (default 20 iters × m sequential fits measured 37 s at
        # sf0.1 — pure per-iteration job overhead on tiny data).
        model = KMeans(
            k=ks,
            seed=seed + j,
            maxIter=8,
            featuresCol="__s",
            predictionCol="__c",
        ).fit(sub)
        return [[float(x) for x in c] for c in model.clusterCenters()]

    # The m sub-fits are independent Spark jobs — submit them from
    # threads so the scheduler interleaves their (tiny) stages.
    try:
        with ThreadPoolExecutor(max_workers=m) as pool:
            return list(pool.map(_fit, range(m)))
    finally:
        unit.unpersist()


def _unit_subvectors(s: pd.Series, m: int) -> np.ndarray:
    """Batch → L2-normalized (n, m, d) float64 sub-vectors.

    The norm's sum of squares accumulates **sequentially over dims**
    (not ``np.linalg.norm``, whose pairwise/SIMD reduction reorders
    the adds): each elementary op then maps one-to-one onto a DuckDB
    ``sqrt(list_sum([e[i]*e[i] …]))`` left fold, keeping the doubles
    bit-identical between the Arrow kernel and the SQL oracle."""
    x = np.stack(s.to_numpy()).astype("float64")  # (n, D)
    acc = np.zeros(len(x))
    for t in range(x.shape[1]):
        acc += x[:, t] * x[:, t]
    nrm = np.sqrt(acc)[:, None]
    nrm[nrm == 0] = 1.0
    return (x / nrm).reshape(len(x), m, -1)


def _seq_sq_dist(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Squared L2 distance over the LAST axis, accumulated
    sequentially in index order (the DuckDB ``list_sum`` fold order —
    see :func:`_unit_subvectors`)."""
    diff = a - b
    d2 = np.zeros(diff.shape[:-1])
    for t in range(diff.shape[-1]):
        d2 += diff[..., t] * diff[..., t]
    return d2


def encode_pq(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "pq_code",
) -> DataFrame:
    """Attach the packed PQ code: per subspace, the argmin centroid id
    (numpy argmin takes the first minimum — ties to the lower id),
    packed as 4-bit fields of one long.

    Arrow-batched ``pandas_udf`` kernel: the expression form (m·ks
    literal sub-distance terms + struct sorts) exceeds janino's method
    limit — codegen compilation *fails* and the whole projection falls
    back to interpreted evaluation (measured 9.8 s for 2000 rows; the
    numpy batch kernel is milliseconds). Same trade as the GEMM
    top-k kernel, and the scoring side stays pure codegen."""
    m = len(codebooks)
    ks = len(codebooks[0])
    if ks > 16:
        raise ValueError("packed 4-bit codes hold ks <= 16 centroids")
    cb = np.asarray(codebooks, dtype="float64")  # (m, ks, d)
    shifts = 4 * np.arange(m, dtype="int64")

    @F.pandas_udf("long")
    def _encode(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype="int64")
        sub = _unit_subvectors(s, m)  # (n, m, d)
        d2 = _seq_sq_dist(sub[:, :, None, :], cb[None])  # (n, m, ks)
        codes = d2.argmin(-1).astype("int64")  # first-min tie rule
        return pd.Series((codes << shifts).sum(-1))

    return df.withColumn(out_col, _encode(F.col(vec_col)))


def query_adc_tables(
    queries: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    out_col: str = "qtab",
) -> DataFrame:
    """Attach each query's ADC distance table: ``m*ks`` doubles laid
    out as ``[j*ks + c]`` — computed ONCE per query row; every
    corpus-pair score afterwards is lookups into this array. Arrow
    numpy kernel for the same janino-limit reason as
    :func:`encode_pq` (1024 literal terms never compile)."""
    m = len(codebooks)
    ks = len(codebooks[0])
    cb = np.asarray(codebooks, dtype="float64")  # (m, ks, d)

    @F.pandas_udf("array<double>")
    def _tables(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype="object")
        sub = _unit_subvectors(s, m)[:, :, None, :]  # (n, m, 1, d)
        tab = _seq_sq_dist(sub, cb[None]).reshape(len(s), m * ks)
        return pd.Series(list(tab))

    return queries.withColumn(out_col, _tables(F.col(vec_col)))


def adc_score(code: Column, qtab: Column, m: int = PQ_M, ks: int = PQ_KS) -> Column:
    """ADC squared distance: ``Σ_j qtab[j*ks + code_j]`` — m
    element_at lookups + shifts on the packed long, all codegen."""
    parts = [
        F.element_at(
            qtab,
            (F.shiftright(code, 4 * j).bitwiseAND(F.lit(15)) + F.lit(j * ks + 1)).cast(
                "int"
            ),
        )
        for j in range(m)
    ]
    return functools.reduce(operator.add, parts)


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = PQ_M,
    ks: int = PQ_KS,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
    codebooks: list[list[list[float]]] | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """PQ top-k with exact reranking (cosine order via unit-vector L2).

    The production two-phase shape (how Faiss-style IVF-PQ deployments
    actually answer queries): the 8-byte codes produce an ADC
    **shortlist** of ``rerank`` candidates per query (default
    ``8·k``), then ONLY those candidates' float vectors are read for
    an exact cosine rerank — 4-bit quantization decides who is in the
    race, full precision decides the order. Scale shape: the scoring
    join is map-side (codes × broadcast query tables, m lookup-adds
    per pair — the float vectors are untouched), and the rerank
    touches ``queries × rerank`` vectors via a broadcast semi-join,
    independent of corpus size. Pass ``codebooks`` to reuse a trained
    index (build once, search many)."""
    from capital.io import right_size_narrow

    if codebooks is None:
        codebooks = train_codebooks(corpus, dim, m, ks, vec_col, seed)
    rerank = rerank or 8 * k
    sized = right_size_narrow(corpus)
    codes = encode_pq(sized, codebooks, vec_col).select(
        F.col(id_col).alias("neighbor_id"), "pq_code"
    )
    q = query_adc_tables(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        codebooks,
        vec_col,
    ).select("query_id", F.col(vec_col).alias("q_vec"), "qtab")
    scored = (
        codes.crossJoin(F.broadcast(q.select("query_id", "qtab")))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "adc_dist2", adc_score(F.col("pq_code"), F.col("qtab"), m, ks)
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist2"), F.asc("neighbor_id")
    )
    shortlist = (
        scored.withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= rerank)
        .select("query_id", "neighbor_id")
    )
    from capital.llm.similarity import cosine

    cand = sized.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")
    ).join(F.broadcast(shortlist), "neighbor_id")
    reranked = cand.join(
        F.broadcast(q.select("query_id", "q_vec")), "query_id"
    ).withColumn("cosine_sim", cosine(F.col("q_vec"), F.col("c_vec")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.round("cosine_sim", 6).alias("cosine_sim"),
        )
    )


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    n_cells: int = 16,
    m: int = PQ_M,
    ks: int = PQ_KS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 11,
) -> None:
    """Persist a production-shape ANN index on the parquet lake —
    IVF-PQ the way the storage layer wants it expressed:

    - **coarse cells → Hive partitions** (``cell=`` directories): a
      probe's list selection is partition pruning, as in
      :func:`capital.llm.ivf.write_ivf_index`;
    - **PQ codes → a column** next to the float vector: parquet is
      columnar, so the ADC scoring scan reads ONLY ``pq_code``
      (8 bytes/row — the 32× compression realized as column pruning,
      no separate codes table to keep in sync);
    - float vectors stay in the same rows but are only materialized
      for the reranked shortlist.

    Sidecars: IVF centroids and PQ codebooks as tiny tables.
    """
    from capital.llm.ivf import assign_cells, train_centroids

    centroids = train_centroids(corpus, n_cells, vec_col, seed)
    codebooks = train_codebooks(corpus, dim, m, ks, vec_col, seed)
    rows = encode_pq(
        assign_cells(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("c_vec"),
            ),
            centroids,
            vec_col="c_vec",
            nprobe=1,
        ),
        codebooks,
        vec_col="c_vec",
    )
    # STATIC partition overwrite: a full rebuild must delete cells the
    # new assignment doesn't produce (see ivf.write_ivf_index — the
    # session-default dynamic mode would leave stale cell= dirs).
    rows.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("cell").parquet(f"{path}/lists")
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [
            (j, c, codebooks[j][c])
            for j in range(m)
            for c in range(ks)
        ],
        "subspace int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")


def probe_ivfpq_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    rerank: int | None = None,
    m: int = PQ_M,
    ks: int = PQ_KS,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Two-phase search over a stored IVF-PQ index, never touching the
    corpus table:

    1. **ADC phase**: partition-pruned scan of the ``nprobe`` probed
       cells reading ONLY ``(neighbor_id, pq_code)`` (column pruning —
       the vectors' bytes are not read), scored by codegen table
       lookups against the broadcast query tables, top-``rerank``
       shortlist per query.
    2. **Rerank phase**: the shortlist's float vectors are fetched
       from the same pruned partitions by a broadcast semi-join and
       reranked with exact cosine — full precision for the final
       order, paid only for ``queries × rerank`` rows.
    """
    from capital.llm.ivf import assign_cells
    from capital.llm.similarity import cosine

    rerank = rerank or 8 * k
    cents = read_parquet(spark, f"{path}/centroids").collect()
    centroids = [
        [float(x) for x in r.centroid]
        for r in sorted(cents, key=lambda r: r.cell)
    ]
    cb_rows = read_parquet(spark, f"{path}/codebooks").collect()
    mm = 1 + max(r.subspace for r in cb_rows)
    kk = 1 + max(r.code for r in cb_rows)
    if (m, ks) != (mm, kk):
        # The stored sidecar is the truth: scoring with the caller's
        # m/ks against codes packed under mm/kk mis-indexes every ADC
        # lookup (silently wrong shortlists). Fail loudly instead.
        raise ValueError(
            f"probe_ivfpq_index: index at {path!r} was written with "
            f"m={mm}, ks={kk} but probe was called with m={m}, ks={ks}"
        )
    codebooks: list[list[list[float]]] = [
        [None] * kk for _ in range(mm)  # type: ignore[list-item]
    ]
    for r in cb_rows:
        codebooks[r.subspace][r.code] = [float(x) for x in r.centroid]

    q = query_adc_tables(
        assign_cells(
            queries.select(
                F.col(id_col).alias("query_id"), F.col(vec_col)
            ),
            centroids,
            vec_col=vec_col,
            nprobe=nprobe,
        ),
        codebooks,
        vec_col,
    ).select("query_id", "cell", F.col(vec_col).alias("q_vec"), "qtab")
    probed = sorted(r.cell for r in q.select("cell").distinct().collect())
    lists = read_parquet(spark, f"{path}/lists").filter(
        F.col("cell").isin(probed)
    )
    scored = (
        lists.select("cell", "neighbor_id", "pq_code")  # no c_vec read
        .join(F.broadcast(q.select("query_id", "cell", "qtab")), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "adc_dist2", adc_score(F.col("pq_code"), F.col("qtab"), m, ks)
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist2"), F.asc("neighbor_id")
    )
    shortlist = (
        scored.withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= rerank)
        .select("query_id", "neighbor_id")
    )
    cand = lists.select("neighbor_id", "c_vec").join(
        F.broadcast(shortlist), "neighbor_id"
    )
    reranked = cand.join(
        # q carries nprobe rows per query (cell explode); one vector
        # per query id suffices for the rerank.
        F.broadcast(q.select("query_id", "q_vec").dropDuplicates(["query_id"])),
        "query_id",
    ).withColumn("cosine_sim", cosine(F.col("q_vec"), F.col("c_vec")))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        reranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.round("cosine_sim", 6).alias("cosine_sim"),
        )
    )
