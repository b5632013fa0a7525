"""E3: connected components as an iterative hash-join min-label propagation.

Canonicalization must be order-independent (the reference's greedy resolver
is not — /root/reference/extraction/entity_resolver.py:39-54, SURVEY.md Q5):
the transitive closure of the similarity relation is exactly connected
components. No GraphX/GraphFrames: a pure DataFrame loop —

    label(v) := min(label(v), min over neighbors u of label(u))

iterated to fixpoint over the symmetrized edge list. Each round is ONE
eager checkpoint job (a join + aggregation; the convergence check is a
scan of the cached result with the previous label carried alongside, not a
separate join job); lineage is truncated per round with localCheckpoint so
plans stay O(1) deep. Diameter of linking components is tiny (name-variant
clusters), so rounds ≈ 2-3; the loop is still correct for arbitrary graphs
and bounded by max_iter.

Semantics for ids appearing only in ``edges`` (not in ``vertices``): they
PROPAGATE labels (two vertices joined through an edge-only intermediate
land in one component, and an edge-only id can be the component minimum)
but emit no output row — output rows are exactly the vertex set. Both the
driver-local and distributed paths implement this identically (asserted in
tests/test_cc.py); the pipeline itself always passes edges ⊆ vertices.
"""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphrag_litex_spark.operators.iterutils import (
    hard_checkpoint,
    loop_shuffle_partitions,
    probe_local_graph,
    release,
)


def _cc_union_find_df(spark, ids: list, pairs: list, id_col: str) -> DataFrame:
    """Small-graph physical strategy: union-find over the probed local
    graph, result broadcast back as a local frame.

    Same adaptive stance as Catalyst's broadcast-vs-shuffle join choice: the
    label graph is ALREADY reduced (distinct names, not mentions), so when it
    fits on the driver a union-find beats dozens of tiny shuffle jobs by ~3x
    wall. Produces byte-identical output to the distributed loop (label =
    minimum over the component's full id set, rows = vertices) — asserted in
    tests/test_cc.py."""
    parent: dict = {v: v for v in ids}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    # Component minimum over ALL member ids (vertices AND edge-only ids) —
    # the same label the distributed min-label loop converges to.
    comp_min: dict = {}
    for x in list(parent):
        r = find(x)
        if r not in comp_min or x < comp_min[r]:
            comp_min[r] = x
    rows = [(v, comp_min[find(v)]) for v in ids]
    # pandas/Arrow path: a list-backed createDataFrame is a pickled-rows RDD
    # that round-trips Python workers on every downstream scan (see
    # communities._local_df).
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame(rows, columns=[id_col, "label"]),
        schema=f"{id_col} string, label string",
    )


def connected_components(
    vertices: DataFrame,
    edges: DataFrame,
    id_col: str = "norm_name",
    src_col: str = "src",
    dst_col: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = 100_000,
    algorithm: str = "minlabel",
) -> DataFrame:
    """-> (id_col, label) where label = component minimum (over vertices and
    edge endpoints); one output row per vertex.

    ``vertices``: one column ``id_col`` (distinct ids).
    ``edges``: (src_col, dst_col) pairs; symmetrized internally.

    Adaptive: a graph that `iterutils.probe_local_graph` finds under
    ``driver_threshold`` runs the driver-local union-find (identical
    output); larger graphs, and NULL or non-string ids, run a distributed
    loop chosen by ``algorithm``:

    * ``"minlabel"`` — neighbor-min propagation, one checkpoint job per
      round, rounds = component diameter. The right default for entity
      linking, where components are name-variant clusters of diameter 2-3.
    * ``"alternating"`` — large-star/small-star edge rewriting (Kiveris et
      al. 2014, "Connected Components in MapReduce and Beyond"): rounds =
      O(log n) REGARDLESS of diameter, so a 10^6-hop chain (adversarial
      near-dup corpora produce exactly these — each doc similar only to its
      neighbor) finishes in ~20 rounds instead of 10^6. Costs ~2x the
      shuffles per round, so it loses on tiny-diameter graphs and wins
      unboundedly on long ones.

    Both produce byte-identical output (asserted in tests/test_cc.py).
    """
    local = probe_local_graph(
        edges, src_col, dst_col, driver_threshold, vertices=vertices, vertex_col=id_col
    )
    if local is not None:
        return _cc_union_find_df(vertices.sparkSession, local.vertices, local.und, id_col)
    sym = hard_checkpoint(
        edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
        .union(edges.select(F.col(dst_col).alias("u"), F.col(src_col).alias("v")))
        .distinct()
    )
    verts = hard_checkpoint(vertices.select(F.col(id_col).alias("u")))
    n_state = verts.count() + sym.count()
    if algorithm == "alternating":
        return _cc_alternating(verts, sym, id_col, max_iter, n_state)
    if algorithm != "minlabel":
        raise ValueError(f"unknown CC algorithm: {algorithm!r}")
    # with-block + finally: a mid-loop Spark exception must not leave the
    # session's shuffle-partition count overridden or leak checkpoint RDDs.
    try:
        with loop_shuffle_partitions(vertices.sparkSession, n_state):
            # Seed labels over vertices ∪ edge endpoints so propagation runs
            # THROUGH edge-only intermediates; output is restricted to the
            # vertex set at the end. One extra distinct at loop start — a
            # no-op shuffle when edges ⊆ vertices (the pipeline's case).
            labels = hard_checkpoint(
                verts.select("u")
                .union(sym.select("u"))
                .distinct()
                .select("u", F.col("u").alias("label"))
            )
            for _ in range(max_iter):
                # Min neighbor label per vertex: for edge (u,v), v receives
                # u's label; merged with the own label via least().
                msg = (
                    sym.join(labels, "u")
                    .groupBy("v")
                    .agg(F.min("label").alias("_msg"))
                    .withColumnRenamed("v", "u")
                )
                ck = hard_checkpoint(
                    labels.select("u", F.col("label").alias("_old"))
                    .join(msg, "u", "left")
                    .select(
                        "u",
                        F.least(
                            F.col("_old"), F.coalesce(F.col("_msg"), F.col("_old"))
                        ).alias("label"),
                        "_old",
                    )
                )
                changed = ck.where(F.col("label") != F.col("_old")).limit(1).count()
                new_labels = ck.select("u", "label")
                new_labels._graft_ckpt = ck._graft_ckpt  # type: ignore[attr-defined]
                # Release the superseded checkpoint immediately — waiting for
                # Python GC + ContextCleaner lets cached RDDs pile up.
                release(labels)
                labels = new_labels
                if changed == 0:
                    break
            else:
                # Exhausting max_iter without a zero-change round means the
                # returned labels are NOT guaranteed to be component minima
                # (propagation stopped mid-graph). Silent wrong labels at
                # scale are undebuggable — make the exit loud.
                warnings.warn(
                    f"connected_components(minlabel) hit max_iter={max_iter} "
                    "before convergence; labels may not be component minima. "
                    "Raise max_iter or use algorithm='alternating' "
                    "(O(log n) rounds on any diameter).",
                    RuntimeWarning,
                    stacklevel=2,
                )
    finally:
        release(sym)
    # verts stays cached until the returned plan is consumed (lineage is
    # truncated, so an early unpersist would make the semi-join unreadable).
    return labels.join(verts, "u", "left_semi").select(
        F.col("u").alias(id_col), "label"
    )


def _canon_edges(e: DataFrame) -> DataFrame:
    """Undirected edge set in canonical (a<b) form, self-loops dropped."""
    return (
        e.select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )


def _edge_stats(e: DataFrame) -> tuple:
    """(count, xxhash64 sum) — an order-independent edge-set checksum; one
    aggregate job, no join, so the convergence check costs a scan instead
    of a set-difference shuffle."""
    row = e.agg(
        F.count("*").alias("n"),
        # decimal sum: ANSI mode (Spark 4 default) would raise on bigint
        # overflow, and hash sums overflow by design.
        F.coalesce(
            F.sum(F.xxhash64("a", "b").cast("decimal(20,0)")), F.lit(0)
        ).alias("h"),
    ).first()
    return (row["n"], row["h"])


def _large_star(e: DataFrame) -> DataFrame:
    """Connect every neighbor LARGER than u to min(N(u) ∪ {u})."""
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    mins = (
        sym.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("_mn", "u").alias("m"))
    )
    return _canon_edges(
        sym.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges large→small; connect each small endpoint (and the hub)
    to min(N(hub) ∪ {hub})."""
    dird = e.select(F.col("b").alias("u"), F.col("a").alias("v"))  # u > v
    mins = (
        dird.groupBy("u")
        .agg(F.min("v").alias("_mn"))
        .select("u", F.least("_mn", "u").alias("m"))
    )
    linked = dird.join(mins, "u").select(F.col("v").alias("a"), F.col("m").alias("b"))
    hubs = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
    return _canon_edges(linked.union(hubs))


def _cc_alternating(
    verts: DataFrame, sym: DataFrame, id_col: str, max_iter: int, n_state: int
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al. 2014, §3): each
    round rewrites the edge set toward a forest of depth-1 stars rooted at
    the component minimum; O(log n) rounds on ANY topology vs. the
    min-label loop's O(diameter). Per round: two groupBy+join jobs plus a
    checksum scan, lineage truncated per star with ``hard_checkpoint``.

    ``verts``/``sym`` arrive checkpointed from ``connected_components``
    (sym is symmetrized + distinct). Output contract is identical to the
    min-label loop: rows = vertex set, label = component min over vertices
    AND edge-only endpoints.
    """
    spark = verts.sparkSession
    try:
        with loop_shuffle_partitions(spark, n_state):
            e = hard_checkpoint(
                _canon_edges(
                    sym.select(F.col("u").alias("a"), F.col("v").alias("b"))
                )
            )
            prev = _edge_stats(e)
            rounds = 0
            for _ in range(max_iter):
                if prev[0] == 0:
                    break  # no edges left: every vertex is its own star
                e1 = hard_checkpoint(_large_star(e))
                e2 = hard_checkpoint(_small_star(e1))
                release(e1)
                rounds += 1
                cur = _edge_stats(e2)
                release(e)
                e = e2
                if cur == prev:
                    break
                prev = cur
            else:
                # max_iter exhausted with the checksum still moving: the
                # star contraction did not reach fixpoint, so the groupBy-
                # min below collapses a NON-star residue — deterministic
                # but possibly non-minimum labels. The "byte-identical to
                # minlabel" guarantee is convergence-conditional; warn so
                # an under-iterated run at scale is detectable instead of
                # silently mislabeled. (The checksum is also probabilistic
                # — a 64-bit-sum collision would end a round early — but at
                # count+sum granularity that is a ~2^-64 event per round.)
                warnings.warn(
                    f"connected_components(alternating) hit max_iter="
                    f"{max_iter} before the edge-set checksum converged; "
                    "labels may not be component minima. Raise max_iter.",
                    RuntimeWarning,
                    stacklevel=2,
                )
            # Converged edge set is (root=a, child=b) stars; roots label
            # themselves. groupBy-min collapses the (rare) pre-max_iter
            # non-star residue to a deterministic label anyway.
            lbl = (
                e.select(F.col("b").alias("u"), F.col("a").alias("label"))
                .union(e.select(F.col("a").alias("u"), F.col("a").alias("label")))
                .groupBy("u")
                .agg(F.min("label").alias("label"))
            )
            out = hard_checkpoint(
                verts.join(lbl, "u", "left").select(
                    F.col("u").alias(id_col),
                    F.coalesce("label", "u").alias("label"),
                )
            )
            out._graft_cc_rounds = rounds  # type: ignore[attr-defined]
            release(e)
    finally:
        release(sym)
        release(verts)
    return out
