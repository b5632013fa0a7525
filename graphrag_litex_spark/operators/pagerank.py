"""Entity salience via PageRank over the merged KG edges — implemented as
the north-rule style iterative hash-join loop (no GraphX/GraphFrames), the
same execution shape as CC canonicalization (operators/cc.py) and LPA
(operators/communities.py).

Semantics: classic damped PageRank on the UNDIRECTED simple graph of the
edge table (multi-edges collapse, self-loops drop — the same graph the
community stages use, `oracle_graph._und_edges`). Symmetrizing removes
dangling vertices by construction (every vertex has degree >= 1), so the
update is the pure two-term form

    r'(v) = (1 - d) / N  +  d * sum_{u ~ v} r(u) / deg(u)

Scale shape: the adjacency is materialized once (hash-partitioned by src
and checkpointed); each iteration is ONE shuffle — join ranks (one row per
vertex, deg rides along) into the adjacency on src, then re-aggregate on
dst. Rank state is vertex-proportional, never edge-proportional. Each round
goes through `hard_checkpoint` so the plan/lineage (and the optimizer's
sizeInBytes estimate) stays O(1) across iterations — see iterutils.py for
why plain localCheckpoint is not enough.

Differential oracle: `oracle_graph.pagerank_golden` replicates this
bit-for-bit-modulo-FP-order in pure Python; the driver value-compares the
rounded ranks (golden parquet, `kg_entity_rank`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphrag_litex_spark.operators.iterutils import (
    hard_checkpoint,
    probe_local_graph,
    release,
)


def _pagerank_driver_local(
    spark,
    adj: dict[str, list[str]],
    damping: float,
    iters: int,
    seed_set: set | None,
) -> DataFrame:
    """Driver-local power iteration over the probed local graph
    (`iterutils.probe_local_graph`): below the threshold, 10 distributed
    rounds are pure scheduler overhead, so run the identical arithmetic
    locally. The loop mirrors `oracle_graph.pagerank_golden` term for term
    IN THE SAME SUMMATION ORDER (sorted vertices, sorted neighbors), so
    driver-local output is bit-identical to the golden and agrees with the
    distributed loop far inside the 1e-6 rounding both publish (asserted in
    tests/test_pagerank.py)."""
    verts = sorted(adj)
    n = len(verts)
    schema = "vertex string, rank double"
    if n == 0:
        return spark.createDataFrame([], schema)
    if seed_set is None:
        base = dict.fromkeys(verts, (1.0 - damping) / n)
        r = dict.fromkeys(verts, 1.0 / n)
    else:
        present = sorted(seed_set & set(verts))
        if not present:
            return spark.createDataFrame([], schema)
        base = {
            v: ((1.0 - damping) / len(present) if v in present else 0.0)
            for v in verts
        }
        r = {v: (1.0 / len(present) if v in present else 0.0) for v in verts}
    for _ in range(iters):
        acc = dict.fromkeys(verts, 0.0)
        for v in verts:
            share = r[v] / len(adj[v])
            for u in adj[v]:
                acc[u] += share
        r = {v: base[v] + damping * acc[v] for v in verts}
    return spark.createDataFrame([(v, r[v]) for v in verts], schema)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 10,
    seeds: list | DataFrame | None = None,
    driver_threshold: int = 100_000,
) -> DataFrame:
    """-> (vertex, rank) over the undirected simple graph of ``edges``.

    Fixed ``iters`` power iterations (deterministic runtime and output —
    parity with the pure-Python golden needs an iteration count, not an
    epsilon race).

    ``seeds``: PERSONALIZED PageRank — the teleport mass (1-d) returns to a
    uniform distribution over the seed vertices instead of all vertices
    (seeds not present in the graph contribute nothing). This is GraphRAG
    "local search" ranking: entities reachable from the question's entities
    score by graph proximity. Same plan shape; the reset vector is a
    broadcast-sized column. Seeds may be a Python list (question-sized, a
    handful of strings) OR a single-column DataFrame (community-sized seed
    sets — e.g. DRIFT search — stay distributed: marked via a hash join,
    nothing vertex-proportional ever reaches the driver).

    Adaptive: when `iterutils.probe_local_graph` finds the graph under
    ``driver_threshold``, the 10 checkpointed distributed rounds are pure
    scheduler overhead, so the power iteration runs driver-local in the
    golden's exact summation order (bit-identical to
    `oracle_graph.pagerank_golden`; rounded-1e-6 identical to the
    distributed loop, asserted in tests). Larger graphs take the
    one-shuffle-per-round hash-join loop unchanged."""
    spark = edges.sparkSession
    local = probe_local_graph(edges, src, dst, driver_threshold)
    if local is not None:
        if seeds is None:
            seed_set = None
        elif isinstance(seeds, DataFrame):
            # Graph-bounded collect: semi-join the seed column against the
            # (tiny, driver-local-regime) vertex set BEFORE collecting, so
            # an oversized seed frame never ships to the driver.
            vdf = spark.createDataFrame([(v,) for v in local.vertices], "u string")
            seed_set = {
                r["u"]
                for r in seeds.select(F.col(seeds.columns[0]).alias("u"))
                .distinct()
                .join(F.broadcast(vdf), "u", "left_semi")
                .collect()
            }
        else:
            seed_set = set(seeds)
        return _pagerank_driver_local(spark, local.adj, damping, iters, seed_set)
    a, b = F.least(F.col(src), F.col(dst)), F.greatest(F.col(src), F.col(dst))
    und = hard_checkpoint(
        edges.select(a.alias("a"), b.alias("b"))
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    # Both directions, partitioned by the join side once and pinned; the
    # per-iteration join then shuffles only the vertex-sized rank state.
    n_part = max(edges.sparkSession.sparkContext.defaultParallelism, 8)
    adj = hard_checkpoint(
        und.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(und.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .repartition(n_part, "u")
    )
    release(und)

    deg = adj.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))
    n = deg.count()  # one job; N is needed as a literal in the update
    if n == 0:
        return edges.sparkSession.createDataFrame([], "vertex string, rank double")

    if seeds is None:
        base_col = F.lit((1.0 - damping) / n)
        init_col = F.lit(1.0 / n)
        deg = deg.select("u", "deg", base_col.alias("__base"), init_col.alias("__init"))
    else:
        # Personalized reset: uniform over the seeds that exist in the
        # graph. List seeds -> tiny broadcast in-list; DataFrame seeds ->
        # hash join (AQE broadcasts when small).
        if isinstance(seeds, DataFrame):
            sdf = (
                seeds.select(F.col(seeds.columns[0]).alias("u"))
                .distinct()
                .withColumn("__s", F.lit(1))
            )
            marked = deg.join(sdf, "u", "left").withColumn(
                "__s", F.coalesce("__s", F.lit(0))
            )
        else:
            seed_set = sorted(set(seeds))
            is_seed = F.col("u").isin(seed_set) if seed_set else F.lit(False)
            marked = deg.withColumn("__s", is_seed.cast("int"))
        n_seed = marked.agg(F.sum("__s")).first()[0] or 0
        if n_seed == 0:
            return edges.sparkSession.createDataFrame(
                [], "vertex string, rank double"
            )
        deg = marked.select(
            "u",
            "deg",
            (F.col("__s") * F.lit((1.0 - damping) / n_seed)).alias("__base"),
            (F.col("__s") * F.lit(1.0 / n_seed)).alias("__init"),
        )

    ranks = hard_checkpoint(deg.select("u", "deg", F.col("__init").alias("rank")))
    for _ in range(iters):
        contrib = (
            adj.join(ranks, "u")
            .select(F.col("v"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("in_sum"))
        )
        new_ranks = hard_checkpoint(
            deg.join(contrib, deg["u"] == contrib["v"], "left")
            .select(
                "u",
                "deg",
                (F.col("__base") + F.lit(damping) * F.coalesce("in_sum", F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
        release(ranks)
        ranks = new_ranks
    out = ranks.select(F.col("u").alias("vertex"), "rank")
    return out
