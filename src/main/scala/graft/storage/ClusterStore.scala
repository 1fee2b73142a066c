package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Generation store for near-dup CLUSTER LABELS — the
  * [[IndexMaintenance]] protocol applied to `dedup_clusters` output, so
  * a long-running intake job (`streaming.Jobs.ClusterAssignStream`) can
  * pin its keeper table to a COMMITTED generation the way PQ probes pin
  * to a quantizer generation. Without it the stream memoizes whatever
  * labels existed at job start and never observes a batch recluster;
  * with it, "deploy new clusters" = publish a generation and restart
  * (or roll) the intake job — readers mid-run keep the generation they
  * resolved, because generations are immutable until [[retireOld]].
  *
  * Layout and commit are [[Generations]]': `<root>/gen=<n>/labels/` —
  * (doc_id, keeper_id, cluster_size) parquet, written into a temp dir
  * and committed by one exclusive rename, so concurrent publishers get
  * distinct generations; current = highest committed.
  */
object ClusterStore extends GenerationStore("labels") {

  def labelsPath(root: String, n: Long): String = pathAt(root, n)

  /** Publish the batch `dedup_clusters` labels for `t`'s corpus — the
    * periodic recompute that merges clusters incremental assignment
    * cannot (a bridging doc joins the min-keeper cluster at intake;
    * only the batch fixpoint unifies the two).
    */
  def publishFrom(t: graft.Tables, root: String): Long =
    publishGeneration(t.spark, root, graft.dedup.Dedup.nearDupClusters(t))

  def readLabels(spark: SparkSession, root: String, n: Long): DataFrame =
    ParquetRead(spark, labelsPath(root, n))
      .select(col("doc_id"), col("keeper_id"), col("cluster_size"))

  /** Docs whose cluster KEEPER changed between committed generations
    * `n0` → `n1` — the incremental consumer feed for a batch-recluster
    * publish (the `lm_rebucket_delta` pattern applied to labels). The
    * scaladoc on [[graft.streaming.Jobs.ClusterAssignStream]] concedes
    * that a doc bridging two clusters joins the min-keeper one at
    * intake and merging waits for the periodic batch recompute; when
    * that recompute publishes generation n1, downstream consumers need
    * exactly the MOVED labels, not the corpus. Output: (doc_id,
    * keeper_old, keeper_new), movers only — `keeper_old` null for docs
    * newly clustered in n1 (a bridge arrival, or a doc whose first
    * verified pair appeared), `keeper_new` null for docs no longer in
    * any cluster. Unmoved docs never appear, so re-pointing consumers
    * is O(movers).
    *
    * Scale: two generation reads (labels are (doc_id, keeper_id,
    * cluster_size) — the near-dup graph's docs only, a vanishing
    * fraction of the corpus) joined full-outer on doc_id, map-side
    * null-safe neq; the shuffle carries id pairs, and the output is
    * only the movers.
    */
  def relabelDelta(spark: SparkSession, root: String,
                   n0: Long, n1: Long): DataFrame =
    readLabels(spark, root, n0)
      .select(col("doc_id"), col("keeper_id").as("keeper_old"))
      .join(readLabels(spark, root, n1)
        .select(col("doc_id"), col("keeper_id").as("keeper_new")),
        Seq("doc_id"), "full_outer")
      .filter(!(col("keeper_old") <=> col("keeper_new")))
      .orderBy(col("doc_id"))
}
