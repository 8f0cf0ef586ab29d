"""Connected components over a duplicate-pair graph — cluster-aware
deduplication.

Pairwise near-dup removal ("drop the higher id of every pair") is not
transitive-safe: with A~B and B~C but not A~C, the pair policy drops B
and C while cluster semantics keep exactly one representative of
{A,B,C}. Production web-corpus dedup (MinHashLSH at crawl scale)
therefore groups pairs into connected components and keeps one doc per
component.

Algorithm: iterative **min-label propagation with pointer jumping** —
each round takes the min label over the 1-hop neighborhood, then
compresses ``label ← label(label)`` (path halving), giving O(log d)
rounds for diameter-d components instead of O(d). Labels only ever
decrease, so ``sum(labels)`` is a strictly-decreasing convergence
measure — one cheap aggregate per round, no join-based change check.

Scale shape (100 TB corpus):

* the vertex set is only the documents that appear in some duplicate
  pair — tiny relative to the corpus (the clean majority never enters
  the graph);
* each round is two hash-partitioned equi-joins + one map-side-combined
  min aggregation on that small vertex/edge set;
* lineage is truncated every round by materializing the label table to
  parquet and reading it back — the iterative-job checkpoint pattern.
  ``localCheckpoint`` is NOT used on purpose: Spark's checkpoint carries
  the pre-checkpoint plan's *size estimates* onto the new leaf
  (``LogicalRDD.rewriteStatsAndConstraints``), and a self-joining loop
  compounds those estimates multiplicatively per round until Catalyst
  spends minutes multiplying million-bit integers in
  ``SizeInBytesOnlyStatsPlanVisitor`` (observed in this repo's test
  rig). A parquet leaf restarts from its real file size every round.

Reference analogue: none (single-machine scripts); training-pipeline
layer, same family as ``operators.dedup``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..tempdirs import scratch_dir


def connected_components(pairs: DataFrame, id_a: str = "id_a",
                         id_b: str = "id_b",
                         max_rounds: int = 25,
                         work_dir: str | None = None) -> DataFrame:
    """(doc_id, cluster_id) for every node of ``pairs``; ``cluster_id``
    is the smallest doc_id reachable through the pair graph (a
    deterministic, SQL-replicable representative).

    ``work_dir`` holds the per-round label checkpoints (two alternating
    subdirs) and backs the RETURNED DataFrame — it must outlive any use
    of the result. Defaults to a fresh temp dir removed at interpreter
    exit (fine in local mode; on a cluster pass a path every executor
    can read)."""
    spark = pairs.sparkSession
    if work_dir is None:
        work_dir = scratch_dir("dte_cc_")
    sym = (
        pairs.select(F.col(id_a).alias("node"), F.col(id_b).alias("nbr"))
        .unionAll(
            pairs.select(F.col(id_b).alias("node"),
                         F.col(id_a).alias("nbr")))
    ).persist()
    labels = sym.select("node").distinct().withColumn("label",
                                                      F.col("node"))
    prev_sum = None
    converged = False
    for r in range(max_rounds):
        nbr_min = (
            sym.join(labels.select(F.col("node").alias("nbr"),
                                   F.col("label").alias("nbr_label")),
                     "nbr")
            .groupBy("node").agg(F.min("nbr_label").alias("nbr_label"))
        )
        stepped = (
            labels.join(nbr_min, "node", "left")
            .select("node",
                    F.least("label", F.coalesce("nbr_label", "label"))
                    .alias("label"))
        )
        # pointer jumping: label ← label's current label (path halving)
        jump = stepped.select(F.col("node").alias("label"),
                              F.col("label").alias("jump_label"))
        stepped = (
            stepped.join(jump, "label", "left")
            .select("node",
                    F.coalesce("jump_label", "label").alias("label"))
        )
        # alternate two paths: write round r while round r-1 backs the
        # plan being executed
        path = f"{work_dir}/labels_{r % 2}"
        stepped.write.mode("overwrite").parquet(path)
        labels = spark.read.parquet(path)
        # labels only ever decrease, so an unchanged sum == fixpoint —
        # one footer-level aggregate, no join-based change detection
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        # None == None after round 0 means an empty graph — converged
        if r > 0 and cur_sum == prev_sum:
            converged = True
            break
        prev_sum = cur_sum
    sym.unpersist()
    if not converged and max_rounds > 1:
        # exhausting max_rounds without reaching the sum fixpoint would
        # hand the caller silently-wrong cluster ids — fail loudly; with
        # pointer jumping 25 rounds cover components of diameter ~2^25
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} "
            "rounds; raise max_rounds (labels were still decreasing)"
        )
    return labels.select(F.col("node").alias("doc_id"),
                         F.col("label").alias("cluster_id"))


def keep_cluster_representative(docs: DataFrame, pairs: DataFrame,
                                id_col: str = "doc_id",
                                id_a: str = "id_a",
                                id_b: str = "id_b") -> DataFrame:
    """The transform: one surviving document per duplicate cluster (the
    smallest id), everything outside the pair graph untouched. The
    drop set (non-representative members) is bounded by the number of
    duplicates, so it broadcasts into a left-anti join — the corpus
    side stays map-only."""
    comp = connected_components(pairs, id_a, id_b)
    drop = (comp.filter(F.col("doc_id") != F.col("cluster_id"))
            .select(F.col("doc_id").alias(id_col)))
    return docs.join(F.broadcast(drop), id_col, "left_anti")
