"""PageRank over a weighted edge list — link-based quality ranking.

Web-corpus pipelines rank hosts/pages by link centrality (Common Crawl
publishes harmonic-centrality rankings; quality-filter stacks use them
as a trust prior). This is the standard damped PageRank with uniform
teleport and uniform dangling-mass redistribution (Brin & Page 1998),
as an iterative DataFrame computation:

* per iteration: one equi-join of ranks onto edges (hash-partitioned on
  the node key) + one map-side-combined sum by destination — shuffle
  volume is O(|E|) per round, never quadratic;
* the dangling mass is a scalar aggregate per round (a driver-side
  float, not a data motion);
* iteration state checkpoints to parquet each round — the same
  plan-growth guard as ``operators.components.connected_components``
  (see there for why ``localCheckpoint`` is avoided).

Determinism: results are float64 sums whose addition order Spark does
not fix; callers comparing across engines should round (the registry
query emits ``round(rank, 6)``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tempdirs import scratch_dir


def pagerank(edges: DataFrame, iterations: int = 10,
             damping: float = 0.85,
             src: str = "src", dst: str = "dst",
             weight: str | None = None,
             work_dir: str | None = None) -> DataFrame:
    """(node, rank) after ``iterations`` damped-PageRank rounds.

    ``edges`` is a directed edge list; ``weight`` (optional column)
    multi-counts an edge. Nodes = every distinct src or dst. ``work_dir``
    backs the per-round checkpoints AND the returned DataFrame (same
    lifecycle contract as ``connected_components``)."""
    spark = edges.sparkSession
    if work_dir is None:
        work_dir = scratch_dir("dte_pr_")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                     w.alias("w"))
    nodes = (e.select(F.col("src").alias("node"))
             .unionAll(e.select(F.col("dst").alias("node")))
             .distinct()).persist()
    n = nodes.count()
    if n == 0:
        nodes.unpersist()
        return spark.createDataFrame([], "node string, rank double")
    # normalized transition weight per edge: w / total out-weight(src)
    outw = e.groupBy("src").agg(F.sum("w").alias("outw"))
    trans = (e.join(outw, "src")
             .select("src", "dst", (F.col("w") / F.col("outw"))
                     .alias("p"))).persist()
    dangling = nodes.join(trans.select(F.col("src").alias("node"))
                          .distinct(), "node", "left_anti").persist()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))
    teleport = (1.0 - damping) / n
    for r in range(iterations):
        dmass = (dangling.join(ranks, "node")
                 .agg(F.sum("rank")).collect()[0][0]) or 0.0
        contrib = (
            trans.join(ranks.select(F.col("node").alias("src"), "rank"),
                       "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") * F.col("p")).alias("inflow"))
        )
        stepped = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (F.lit(teleport)
                 + F.lit(damping)
                 * (F.coalesce(F.col("inflow"), F.lit(0.0))
                    + F.lit(dmass / n))).alias("rank"),
            )
        )
        path = f"{work_dir}/ranks_{r % 2}"
        stepped.write.mode("overwrite").parquet(path)
        ranks = spark.read.parquet(path)
    trans.unpersist()
    dangling.unpersist()
    nodes.unpersist()
    return ranks


def hits(edges: DataFrame, iterations: int = 5,
         src: str = "src", dst: str = "dst",
         weight: str | None = None,
         work_dir: str | None = None) -> DataFrame:
    """(node, hub, authority) after ``iterations`` HITS rounds
    (Kleinberg 1999): authority[d] = Σ w·hub[s] over in-edges, then
    hub[s] = Σ w·authority[d] over out-edges, each half-step
    L2-normalized. The complement of :func:`pagerank` for crawl
    seeding — hubs are the directory/list pages whose OUTLINKS are
    worth frontier priority, authorities the pages worth keeping.

    Same scale contract as :func:`pagerank`: per half-step one
    node-keyed equi-join + one map-side-combined sum (shuffle O(|E|)),
    the L2 norm is a driver-side scalar aggregate, and state
    checkpoints to parquet each round to cap plan growth."""
    spark = edges.sparkSession
    if work_dir is None:
        work_dir = scratch_dir("dte_hits_")
    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                      w.alias("w"))).persist()
    nodes = (e.select(F.col("src").alias("node"))
             .unionAll(e.select(F.col("dst").alias("node")))
             .distinct()).persist()
    if nodes.count() == 0:
        e.unpersist()
        nodes.unpersist()
        return spark.createDataFrame(
            [], "node string, hub double, authority double")
    scores = nodes.select("node", F.lit(1.0).alias("hub"),
                          F.lit(1.0).alias("authority"))

    def _normalized(raw: DataFrame, col: str) -> DataFrame:
        norm = (raw.agg(F.sqrt(F.sum(F.col(col) * F.col(col))))
                .collect()[0][0]) or 1.0
        return raw.withColumn(col, F.col(col) / F.lit(norm))

    for r in range(iterations):
        araw = (e.join(scores.select(F.col("node").alias("src"),
                                     "hub"), "src")
                .groupBy(F.col("dst").alias("node"))
                .agg(F.sum(F.col("w") * F.col("hub"))
                     .alias("authority")))
        araw = nodes.join(araw, "node", "left").select(
            "node", F.coalesce("authority", F.lit(0.0))
            .alias("authority"))
        auth = _normalized(araw, "authority")
        hraw = (e.join(auth.select(F.col("node").alias("dst"),
                                   "authority"), "dst")
                .groupBy(F.col("src").alias("node"))
                .agg(F.sum(F.col("w") * F.col("authority"))
                     .alias("hub")))
        hraw = nodes.join(hraw, "node", "left").select(
            "node", F.coalesce("hub", F.lit(0.0)).alias("hub"))
        hub = _normalized(hraw, "hub")
        stepped = (nodes.join(hub, "node").join(auth, "node")
                   .select("node", "hub", "authority"))
        path = f"{work_dir}/hits_{r % 2}"
        stepped.write.mode("overwrite").parquet(path)
        scores = spark.read.parquet(path)
    e.unpersist()
    nodes.unpersist()
    return scores
