"""IVF (inverted-file) approximate nearest neighbor search.

The third ANN tier after brute force and sign-LSH
(:mod:`capital.llm.similarity`): a *learned* coarse quantizer. KMeans
centroids partition the corpus into cells ("inverted lists"); a query
scores only the vectors in its ``nprobe`` nearest cells. This is the
IVF-Flat layout of Faiss/Milvus (Jégou et al., "Product quantization
for nearest neighbor search", TPAMI 2011 — coarse-quantizer stage,
without the PQ compression), expressed on Spark:

- **train**: ``pyspark.ml.clustering.KMeans`` (distributed Lloyd's,
  fixed seed) over the corpus — at 100 TB, train on a sample; the fit
  is one-time index-build cost;
- **assign**: one narrow pass scoring each vector against the k
  centroids (broadcast as literals — k×dim doubles);
- **search**: queries explode to their ``nprobe`` nearest cells, then
  an ordinary equi-join on cell id + exact cosine + windowed top-k.
  Comparisons drop by ~k/nprobe vs brute force.

Determinism: KMeans with a fixed seed on fixed input is reproducible,
but the *model* is not SQL-expressible, so the IVF query is registered
rows-only; correctness is held by recall tests against the exact
brute-force baseline (the standard way ANN indexes are validated).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from capital.io import read_parquet
from capital.llm.similarity import cosine


def _dist2_to_center(vec: Column, center: list[float]) -> Column:
    """Squared L2 distance to one centroid, as a fold expression.

    Deliberately NOT unrolled (contrast similarity._dot_literal): here
    16 centroid distances sit inside one struct array fed to
    sort_array, and unrolling all of them exploded generated-code size
    — measured 27 s vs ~1 s and a driver-heap OOM at default memory.
    The interpreted fold is the cheaper side of the trade at this
    expression multiplicity.
    """
    c = F.array(*[F.lit(float(w)) for w in center])
    return F.aggregate(
        F.zip_with(
            vec, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def train_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    vec_col: str = "embedding",
    seed: int = 7,
) -> list[list[float]]:
    """Fit the coarse quantizer; returns centroids as plain lists
    (small: n_cells × dim doubles — broadcastable as literals)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = corpus.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("__v")
    )
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="__v", predictionCol="__cell"
    ).fit(vecs)
    return [list(map(float, c)) for c in model.clusterCenters()]


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    nprobe: int = 1,
    cell_col: str = "cell",
) -> DataFrame:
    """Attach the ``nprobe`` nearest cell ids to each row.

    ``nprobe=1`` (corpus side) adds one int column; ``nprobe>1``
    (query side) explodes to one row per probed cell. All distance
    math is inline expressions — no UDF, no model object at runtime.
    """
    dists = F.array(
        *[
            F.struct(
                _dist2_to_center(F.col(vec_col), c).alias("d"),
                F.lit(i).alias("i"),
            )
            for i, c in enumerate(centroids)
        ]
    )
    # sort_array on (d, i) structs orders by distance, ties by cell id.
    nearest = F.slice(F.sort_array(dists), 1, nprobe)
    probed = df.withColumn(
        "__probe", F.explode(F.transform(nearest, lambda s: s["i"]))
    )
    return probed.withColumn(cell_col, F.col("__probe")).drop("__probe")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-Flat approximate top-k cosine neighbors.

    Pass precomputed ``centroids`` to reuse an index across queries
    (the production shape: build once, search many).
    """
    from capital.io import parallelize_narrow

    if centroids is None:
        centroids = train_centroids(corpus, n_cells, vec_col, seed)
    c = assign_cells(
        parallelize_narrow(corpus).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
        ),
        centroids,
        vec_col="c_vec",
        nprobe=1,
    )
    q = assign_cells(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        centroids,
        vec_col="q_vec",
        nprobe=nprobe,
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.round("cosine_sim", 6).alias("cosine_sim"),
        )
    )


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 7,
    centroids: list[list[float]] | None = None,
) -> list[list[float]]:
    """Persist the IVF index as a **cell-partitioned parquet lake**:
    the Hive ``cell=`` directory layout IS the inverted-list
    structure — a probe that touches ``nprobe`` cells scans only those
    partitions (partition pruning = list selection, the same storage
    trick the reference's ``ymd=`` layout used for dates). Centroids
    land in a tiny sidecar table (``n_cells × dim`` doubles).

    The growing-lake twin of the stored LSH band index
    (``dedup.incremental_neardup_flags``): build once, append new
    vectors per batch with the SAME stored centroids (pass
    ``centroids=``), probe forever without re-reading the corpus.
    """
    if centroids is None:
        centroids = train_centroids(corpus, n_cells, vec_col, seed)
    assigned = assign_cells(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
        ),
        centroids,
        vec_col="c_vec",
        nprobe=1,
    )
    # Full rebuild ⇒ STATIC partition overwrite for this write only:
    # the engine session default is dynamic (right for the documented
    # append path), but a rebuild over new centroids/corpus must also
    # DELETE cells the new data doesn't hit — dynamic mode would leave
    # stale cell= directories that probes then scan under the new
    # centroids (silently wrong neighbors).
    assigned.write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("cell").parquet(f"{path}/lists")
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cell int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    return centroids


def probe_ivf_index(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Search a stored IVF index without touching the corpus table.

    Loads the centroid sidecar (bounded: ``n_cells`` rows — a loud,
    tiny driver collect), assigns each query its ``nprobe`` cells, and
    scans ONLY those ``cell=`` partitions via a static ``isin``
    partition filter (visible as ``PartitionFilters`` in the plan —
    asserted in tests/test_ivf.py). The probed-cell set is another
    ≤ ``n_cells`` driver collect, traded deliberately for *static*
    pruning: the cell list must be literal before the scan plans.
    """
    cents = read_parquet(spark, f"{path}/centroids").collect()
    centroids = [
        [float(x) for x in r.centroid]
        for r in sorted(cents, key=lambda r: r.cell)
    ]
    q = assign_cells(
        queries.select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
        ),
        centroids,
        vec_col="q_vec",
        nprobe=nprobe,
    )
    probed = sorted(
        r.cell for r in q.select("cell").distinct().collect()
    )  # ≤ n_cells values
    lists = read_parquet(spark, f"{path}/lists").filter(
        F.col("cell").isin(probed)
    )
    scored = (
        lists.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine_sim", cosine(F.col("q_vec"), F.col("c_vec")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "rank",
            "neighbor_id",
            F.round("cosine_sim", 6).alias("cosine_sim"),
        )
    )
