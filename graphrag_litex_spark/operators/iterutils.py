"""Iteration-safe checkpointing for DataFrame loops (CC, LPA), and the one
small-graph valve every graph operator's driver-local regime goes through
(:func:`probe_local_graph`).

Iterative DataFrame algorithms (connected components, label propagation)
re-join each iteration's output with itself. Two failure modes on stock
Spark 4.x, both observed and diagnosed here (jstack showed the driver
burning minutes in ``SizeInBytesOnlyStatsPlanVisitor`` doing Toom-Cook
BigInteger multiplication):

  1. ``cache()`` does not truncate the logical plan, so the plan tree (and
     analysis/cache-lookup cost) doubles per iteration.
  2. ``localCheckpoint()`` truncates the plan BUT preserves the origin
     plan's *estimated* statistics on the resulting ``LogicalRDD``
     (stats rewrite in ExistingRDD.scala). A self-join squares the
     sizeInBytes estimate, so after n iterations the estimate is a
     ~2^n-bit BigInteger — at iteration ~20 the optimizer spends minutes
     multiplying million-digit numbers and the job appears hung.

``hard_checkpoint`` fixes both: localCheckpoint for plan/lineage
truncation, then re-wrap the checkpointed RDD[InternalRow] in a FRESH
LogicalRDD via ``SparkSession.internalCreateDataFrame`` — which carries no
origin stats, so estimates reset to a constant every iteration. Falls back
to plain localCheckpoint if the (package-private, but py4j-visible) API is
unavailable.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame


def hard_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint + strip preserved origin statistics.

    Returns a DataFrame whose logical plan is a bare LogicalRDD over the
    checkpointed data. The underlying checkpoint RDD is kept on the
    returned object as ``_graft_ckpt`` so callers may ``release()`` it.
    """
    ck = df.localCheckpoint(eager=eager)
    try:
        jdf = ck._jdf
        jrdd = jdf.queryExecution().toRdd()
        jspark = df.sparkSession._jsparkSession
        new_jdf = jspark.internalCreateDataFrame(jrdd, jdf.schema(), False)
        out = DataFrame(new_jdf, df.sparkSession)
    except Exception:
        # Private API unavailable (e.g. Spark Connect): keep the plain
        # checkpoint — correct, but subject to failure mode (2) above for
        # very long loops.
        out = ck
    out._graft_ckpt = ck  # type: ignore[attr-defined]
    return out


class loop_shuffle_partitions:
    """Context manager: size shuffle partitions to the loop's state size.

    Iterative algorithms (CC, LPA) run dozens of tiny shuffles over state
    that is usually orders of magnitude smaller than the corpus (distinct
    names / entities). With corpus-sized shuffle-partition counts every
    iteration pays per-task scheduling overhead times partitions — measured
    ~2.5x slowdown of the whole linking stage at local[32] vs local[8] on
    a 61-vertex graph. One partition per ~50k state rows, capped at the
    session default, floors at 1.
    """

    def __init__(self, spark, n_rows: int, rows_per_partition: int = 50_000) -> None:
        self.spark = spark
        self.target = max(1, min(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            n_rows // rows_per_partition + 1,
        ))

    def __enter__(self):
        self._saved = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.target))
        return self

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self._saved)
        return False


def scale_out(df: DataFrame, key_col: str | None = None, factor: int = 2) -> DataFrame:
    """Fan a narrow input out to cluster parallelism before expensive
    per-row work.

    A small parquet table arrives as ONE input split (one file, one row
    group => one task), which serializes every downstream per-row
    expression onto a single core until the first exchange — the "input
    skew" case of the optimization playbook (guide §2.5). This helper
    repartitions ONLY when the scan under-parallelizes (same valve as the
    pipeline's chunk stage): a well-partitioned warehouse table passes
    through untouched, so at cluster scale this is a no-op, while the
    one-file case fans out for the cost of shuffling the (tiny, by
    premise) input once.

    ``key_col`` hash-partitions on a real key (deterministic under task
    retry); omitted, round-robin with its sort-before-repartition guard.

    Applies ONLY to scan-rooted frames (optionally under Filter/Project
    wrappers): a derived frame has had its parallelism shaped by upstream
    exchanges already, and merely ASKING for its partition count
    (``df.rdd``) forces a full physical planning pass — measured ~0.7s on
    a window+agg input, more than the fan-out could save.
    """
    sc = df.sparkSession.sparkContext
    target = max(sc.defaultParallelism * factor, 8)
    try:
        node = df._jdf.queryExecution().analyzed()
        for _ in range(8):
            name = node.getClass().getSimpleName()
            if name in ("Filter", "Project", "SubqueryAlias", "GlobalLimit", "LocalLimit"):
                node = node.children().head()
            else:
                break
        if not node.children().isEmpty():
            return df  # derived frame (join/agg/window/exchange upstream)
    except Exception:
        pass  # private API unavailable: fall through to the partition probe
    if df.rdd.getNumPartitions() >= max(target // 2, 2):
        return df
    if key_col is not None:
        from pyspark.sql import functions as F

        return df.repartition(target, F.col(key_col))
    return df.repartition(target)


def release(df: DataFrame) -> None:
    """Unpersist the checkpoint backing a ``hard_checkpoint`` result."""
    ck = getattr(df, "_graft_ckpt", None)
    if ck is not None:
        try:
            ck.unpersist(blocking=False)
        except Exception:
            pass


class LocalGraph(NamedTuple):
    """A small graph collected to the driver by :func:`probe_local_graph`."""

    und: list  # simple undirected edges (a, b), a < b, sorted; no self-loops
    adj: dict  # vertex -> sorted neighbours over ``und`` (symmetric)
    vertices: list  # vertex rows, first occurrence order; else sorted(adj)


def probe_local_graph(
    edges: DataFrame,
    src: str,
    dst: str,
    driver_threshold: int,
    vertices: DataFrame | None = None,
    vertex_col: str | None = None,
) -> LocalGraph | None:
    """The small-graph valve: the graph as a :class:`LocalGraph` when it
    fits on the driver, else None (run the distributed loop).

    Regime rule: ``2 x raw edge rows + vertex rows <= driver_threshold``
    (raw rows bound the symmetrized state, so this bounds what a
    distributed loop would carry). Decided by bounded ``limit().collect()``
    probes over the RAW edge rows, then the vertex rows: no shuffle, no
    checkpoint, no count job, and an over-threshold graph pays only a
    capped scan before its loop. ``driver_threshold <= 0`` always returns
    None.

    Id policy: string ids only. The local bodies order ids with Python
    string comparison (== UTF8String byte order, since UTF-8 preserves
    code-point order) and build string-schema frames, so any NULL or
    non-``str`` id returns None and that input takes the distributed loop.
    """
    if driver_threshold <= 0:
        return None
    edge_cap = driver_threshold // 2
    rows = edges.select(src, dst).limit(edge_cap + 1).collect()
    if len(rows) > edge_cap:
        return None
    ids = [x for r in rows for x in r]
    if vertices is not None:
        budget = driver_threshold - 2 * len(rows)
        vids = [r[0] for r in vertices.select(vertex_col).limit(budget + 1).collect()]
        if len(vids) > budget:
            return None
        ids += vids
    if not all(isinstance(x, str) for x in ids):
        return None
    und = sorted({(a, b) if a < b else (b, a) for a, b in rows if a != b})
    adj: dict = {}
    for a, b in und:
        adj.setdefault(a, []).append(b)
        adj.setdefault(b, []).append(a)
    for ns in adj.values():
        ns.sort()
    return LocalGraph(
        und, adj, list(dict.fromkeys(vids)) if vertices is not None else sorted(adj)
    )
