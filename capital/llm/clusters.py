"""Duplicate-cluster resolution: near-dup *pairs* → duplicate *groups*.

Blocking (LSH/SimHash) emits pairs; production dedup needs the
transitive closure — if A~B and B~C, all three are one duplicate group
and exactly one survives. That closure is connected components over the
pair graph, computed here with iterative min-label propagation:

    label(v) ← min(label(v), min over neighbors u of label(u))

repeated to fixpoint. Every vertex converges to the smallest doc id in
its component, which doubles as the canonical-survivor id.

Scale notes. A pair graph of at most ``DRIVER_CLOSURE_MAX_PAIRS``
edges (blocked near-dup graphs after the gates: tens of edges per
thousand documents) closes on the driver: :func:`remove_duplicates`
collects it in one action, runs a min-id union-find, and filters the
corpus with one ``IN`` predicate. Larger graphs close with the
iterative DataFrame joins below, so a lake-sized graph never reaches
the driver:

- Each round is one shuffle join (edges ⋈ labels on the edge source)
  plus one groupBy — both on the pair graph, which is orders of
  magnitude smaller than the corpus after blocking.
- Rounds needed = graph diameter. Near-dup graphs are dense clumps
  (diameter 2–4), so convergence is a handful of rounds. For
  adversarially deep graphs the alternating large-star/small-star
  contraction (Kiveris et al., "Connected Components in MapReduce and
  Beyond", SoCC 2014) bounds rounds at O(log² n); the per-round
  dataflow below is unchanged, only the message rule differs.
- Checkpointing truncates the plan each round: without it the
  lineage doubles per iteration and Catalyst re-optimizes an
  exponentially growing tree. Default is ``localCheckpoint``
  (single-node fast path); pass ``checkpoint_dir=`` (HDFS/S3) for
  reliable-storage truncation that survives executor loss
  (``io.plan_checkpointer``).
- Convergence is detected from ``sum(label)``: labels only ever
  decrease, so the sum is strictly monotone until fixpoint and one
  cheap scalar aggregate per round replaces a full old-vs-new diff.

Reference parity: the reference's dedup is single-key first-wins
(dags/brz_bonds_meta_monthly/extractors.py:44-49); transitive grouping
is engine-extension surface for the LLM training-data north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MAX_ROUNDS = 25
#: Pair graphs with at most this many edges close on the driver
#: (:func:`remove_duplicates`); one collect of K+1 rows decides.
DRIVER_CLOSURE_MAX_PAIRS = 10_000


def _edge_vertex_labels(
    pairs: DataFrame,
    max_rounds: int = MAX_ROUNDS,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Converged min-label closure over the EDGE-TOUCHING vertices
    only: ``(id, label)`` with ``label`` = min id reachable. The
    shared core of :func:`connected_components` (which joins the full
    vertex set afterwards) and :func:`duplicate_drop_ids` (which
    never needs the corpus join)."""
    from capital.io import plan_checkpointer

    # Round-16 optimization (guide §1.2 "the distributed algorithm" /
    # the r13 job-floor model): plan_checkpointer's localCheckpoint
    # path is LAZY, so each round's checkpoint is materialized by the
    # convergence-signature aggregate itself — ONE job per round
    # instead of two (init+3 rounds went 7 jobs -> 3 on the funnel's
    # pair graph, labels bit-identical).
    ckpt = plan_checkpointer(pairs.sparkSession, checkpoint_dir)
    fwd = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    rev = pairs.select(
        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
    )
    edges = fwd.union(rev).distinct().persist()

    # Iterate ONLY over vertices that touch an edge: an isolated vertex
    # is its own component and can never change label, so carrying the
    # full corpus through every round would re-shuffle and re-checkpoint
    # corpus-sized labels per iteration. Blocked near-dup graphs touch
    # a small fraction of the corpus; the loop below is pair-graph-sized
    # end to end, and the corpus is joined exactly once afterwards.
    labels = ckpt(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id").cast("long"))
    )

    prev_sig = None
    converged = False
    for rnd in range(max_rounds):
        nbr_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy("dst")
            .agg(F.min("label").alias("nbr_label"))
        )
        hooked = labels.join(
            nbr_min, labels.id == nbr_min.dst, "left"
        ).select(
            "id",
            F.least(
                F.col("label"), F.coalesce("nbr_label", "label")
            ).alias("label"),
        )
        # Pointer jumping (path compression): label(v) ← label(label(v)).
        # Labels are always vertex ids within the same component, so
        # shortcutting is safe, and it halves the remaining label-chain
        # depth per round — convergence in O(log diameter) rounds
        # instead of O(diameter). Without it, a chain-shaped component
        # longer than max_rounds silently received WRONG (unconverged)
        # labels; near-dup clumps (diameter 2-4) never noticed, but
        # the operator is general API. The jump starts at round 2:
        # shallow graphs (the dedup norm) converge before ever paying
        # its extra label-table join, deep chains still finish in
        # ~2 + log2(diameter) rounds.
        if rnd >= 2:
            parent = hooked.select(
                F.col("id").alias("__pid"), F.col("label").alias("__plabel")
            )
            hooked = hooked.join(
                parent, hooked.label == F.col("__pid"), "left"
            ).select(
                "id",
                F.least(
                    F.col("label"), F.coalesce("__plabel", "label")
                ).alias("label"),
            )
        labels = ckpt(hooked)
        sig = labels.agg(F.sum("label")).first()[0]
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig
    edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} "
            "rounds — with pointer jumping that needs a component of "
            "diameter > ~2^rounds; raise max_rounds"
        )
    return labels


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = MAX_ROUNDS,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Components of the undirected pair graph over all ``vertices``.

    ``pairs`` carries columns ``id_a``/``id_b``; ``vertices`` carries
    ``id_col`` (isolated vertices become singleton components). Returns
    ``(id_col, component_id)`` with ``component_id`` = min member id.

    ``checkpoint_dir``: reliable-storage checkpoint path for the
    per-round label state (``io.plan_checkpointer``) — on a real
    cluster, pass an HDFS/S3 job dir so an executor loss mid-closure
    resumes from the last round instead of killing the job; the
    default ``localCheckpoint`` is the single-node fast path. Labels
    are identical either way.
    """
    labels = _edge_vertex_labels(
        pairs, max_rounds=max_rounds, checkpoint_dir=checkpoint_dir
    )
    resolved = labels.select(
        F.col("id").alias(id_col), F.col("label").alias("component_id")
    )
    return vertices.select(id_col).join(resolved, id_col, "left").select(
        F.col(id_col),
        F.coalesce(
            F.col("component_id"), F.col(id_col).cast("long")
        ).alias("component_id"),
    )


def duplicate_drop_ids(
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_rounds: int = MAX_ROUNDS,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Ids to REMOVE from a corpus under min-id survivorship: members
    of the pair graph whose converged label differs from their own id
    (round 17).

    The min-label closure's ``component_id`` IS the component's min
    member id, so the survivor set is exactly ``{v : label(v) = v}``
    plus every isolated vertex — the previous shape
    (``component_summary`` groupBy over the CORPUS-sized components
    frame, then a keeper semi-join of corpus against corpus-sized
    keepers) re-derived ``keep_id = component_id`` through a full
    corpus exchange. The drop set here is PAIR-GRAPH-sized (only
    edge-touching vertices can be dropped), so the caller's anti-join
    broadcasts at lake scale instead of shuffling the corpus.
    Callers must anti-join on non-null ids (the corpus contract): a
    NULL id never matches either join form's key.
    """
    labels = _edge_vertex_labels(
        pairs, max_rounds=max_rounds, checkpoint_dir=checkpoint_dir
    )
    return labels.filter(F.col("id") != F.col("label")).select(
        F.col("id").alias(id_col)
    )


def component_summary(
    components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Per-component survivor choice: keep the min id, count members.

    ``n_members - 1`` rows per component are the removable duplicates;
    one groupBy shuffle on the (small) component table.
    """
    return components.groupBy("component_id").agg(
        F.min(id_col).alias("keep_id"),
        F.count(F.lit(1)).alias("n_members"),
    )


def deduplicated_corpus(
    df: DataFrame, components: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """The surviving corpus: one representative document per component.

    A component's survivor is its min member id, which IS the
    ``component_id`` label — so survivors are the rows whose id equals
    their label, and the corpus anti-joins the (small) drop set
    ``{v : component_id != v}`` instead of semi-joining a corpus-sized
    keeper relation (round 17; broadcastable at lake scale).

    Rows with a NULL id are dropped explicitly, as the keeper
    semi-join did (a NULL key never matches either join form, so the
    anti-join alone would keep them). ``components`` must cover every
    non-null id of ``df`` (the ``connected_components(pairs,
    df.select(id_col))`` shape callers build): an uncovered id is kept
    here, where the semi-join dropped it.
    """
    dropped = components.filter(
        F.col(id_col) != F.col("component_id")
    ).select(id_col)
    return df.filter(F.col(id_col).isNotNull()).join(
        dropped, id_col, "left_anti"
    )


def _min_id_drops(edges) -> set:
    """Driver-side min-id closure: the vertices of ``edges`` whose
    component's min id is not their own — the same set
    :func:`duplicate_drop_ids` derives. An edge with a NULL endpoint
    joins nothing there, so it is skipped here."""
    parent: dict = {}

    def find(v):
        root = v
        while parent[root] != root:
            root = parent[root]
        while parent[v] != root:
            parent[v], v = root, parent[v]
        return root

    for a, b in edges:
        if a is None or b is None:
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v for v in parent if find(v) != v}


def remove_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    barrier=None,
) -> DataFrame:
    """``df`` without the non-survivors of the pair graph's min-id
    closure: the anti-join of ``df`` against
    :func:`duplicate_drop_ids`, with NULL ids kept as that anti-join
    keeps them.

    One action collects at most ``DRIVER_CLOSURE_MAX_PAIRS + 1``
    pairs. No pair: ``df`` unchanged. Up to the bound: the closure
    runs on the driver and the drop set becomes ONE ``IN`` predicate
    built as a single SQL expression (Spark plans it as an InSet;
    ``Column.isin(list)`` pays one py4j call per id). Over the bound,
    or for non-integer ids: the iterative closure, its drop set
    passed through ``barrier`` (the caller's materialization, e.g. a
    plan checkpointer) and anti-joined. ``pairs`` is read twice on
    that path, so a caller should pass it materialized."""
    # toArrow, not collect(): collect() runs a limit as incremental
    # take jobs (1, 4, 16... partitions, and then one more to fill a
    # lazy checkpoint); toArrow reads every partition, each limited
    # locally, in one job.
    t = pairs.select("id_a", "id_b").limit(
        DRIVER_CLOSURE_MAX_PAIRS + 1
    ).toArrow()
    edges = list(zip(t["id_a"].to_pylist(), t["id_b"].to_pylist()))
    if not edges:
        return df
    if len(edges) <= DRIVER_CLOSURE_MAX_PAIRS and all(
        type(v) is int for e in edges for v in e if v is not None
    ):
        drops = sorted(_min_id_drops(edges))
        if not drops:
            return df
        in_drop = F.expr(f"`{id_col}` IN ({', '.join(map(str, drops))})")
        return df.filter(~F.coalesce(in_drop, F.lit(False)))
    dropped = duplicate_drop_ids(pairs, id_col=id_col)
    if barrier is not None:
        dropped = barrier(dropped)
    return df.join(dropped, id_col, "left_anti")
