package graft.pipeline

import graft.Tables
import graft.storage.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Warehouse maintenance ops — the jobs that keep a 100 TB deployment
  * CHEAP between full rebuilds: incremental aggregate maintenance (pay
  * for the delta, serve the union) and small-file compaction planning
  * (merge shards toward a target size without a global sort).
  */
object Maintenance {

  /** Days of fact history treated as the live delta; everything older
    * is served from the materialized base rollup.
    */
  val RollupDeltaDays = 7L

  /** Incremental daily rollup — the lambda merge: per-(day, event_type)
    * counts and exact value sums, where history STRICTLY OLDER than the
    * last [[RollupDeltaDays]] days comes from a materialized base store
    * ([[Materialize.ensureStore]] — built once per corpus version,
    * tag-invalidated on corpus change) and only the delta window is
    * aggregated from the fact table at query time. Day partitions are
    * disjoint across the split, so the merge is a UNION — no re-agg —
    * and the result is bit-identical to the full one-pass aggregation
    * (which is exactly what the oracle runs).
    *
    * The delta filter is a LITERAL timestamp bound (cutoff computed
    * once, driver-side scalar — the `layoutCompare` probe-count
    * discipline), so it reaches the parquet scan as a pushed predicate
    * on the raw `ts` column; at 100 TB the landing zone is
    * date-partitioned and the same literal prunes partitions. The
    * heavy history aggregation is paid once at store build, then every
    * nightly run costs one 7-day scan + a store read of
    * ≤ days·|types| rows.
    *
    * Value sums use the decimal(12,2)-then-double discipline
    * ([[graft.operators.Windows.eventStats]]) — order-insensitive,
    * bit-portable.
    */
  def eventRollupIncremental(t: Tables): DataFrame = {
    val maxDay = t.events.agg(max(expr("ts_sec div 86400"))).head().getLong(0)
    val splitDay = maxDay - RollupDeltaDays + 1
    def rollup(events: DataFrame): DataFrame =
      events.groupBy(expr("ts_sec div 86400").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          (sum(col("value").cast("decimal(12,2)"))).cast("double")
            .as("sum_v"))
    val base = Materialize.ensureStore(t,
      Materialize.StoreDef("graft_rollup_base", "events",
        s"split=$splitDay,deltaDays=$RollupDeltaDays,v1"),
      rollup(t.events.filter(col("ts_sec") < splitDay * 86400L)))
    // pushed-predicate delta: literal bound on the RAW ts column (the
    // Tables.events ns-long / timestamp branch, mirrored)
    val deltaPred = t.events.schema("ts").dataType match {
      case LongType => col("ts") >= lit(splitDay * 86400L * 1000000000L)
      case _        => col("ts") >= timestamp_seconds(lit(splitDay * 86400L))
    }
    base.unionByName(rollup(t.events.filter(deltaPred)))
      .orderBy(col("day"), col("event_type"))
  }

  def eventRollupIncrementalSql: String =
    s"""SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
       |  event_type, COUNT(*) AS n,
       |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_v
       |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Compaction groups planned per total volume. */
  val CompactionGroups = 4L

  /** Small-file compaction plan: assign the [[Reports.NumShards]]
    * export shards to [[CompactionGroups]] merge groups of ~equal char
    * volume by GREEDY PREFIX PACKING — group = exclusive-prefix-sum
    * div target, target = ⌈total/groups⌉ — so each group is a
    * contiguous shard range and a compactor merges its members with
    * zero cross-group coordination. The op every long-running corpus
    * needs once landing files accumulate: readers want few large
    * files; writers produce many small ones.
    *
    * Scale: the corpus pays ONE aggregation down to |shards| manifest
    * rows (the `shard_manifest` pass); the packing itself is window
    * arithmetic over those |shards| rows — planning cost is manifest-
    * sized, never corpus-sized. All integers, hash-checked.
    *
    * Output per shard: (shard, chars, cum_before, grp).
    */
  def compactionPlan(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val manifest = Reports.shardManifest(t)
      .select(col("shard"), col("total_chars").as("chars"))
    val w = Window.orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    manifest
      .withColumn("cum_before",
        coalesce(sum(col("chars")).over(w), lit(0L)))
      .crossJoin(broadcast(
        manifest.agg(sum(col("chars")).as("total"))))
      .select(col("shard"), col("chars"), col("cum_before"),
        expr(s"(cum_before * $CompactionGroups) div total").as("grp"))
      .orderBy(col("shard"))
  }

  def compactionPlanSql: String =
    s"""WITH m AS (SELECT ${Reports.shardOfSql} AS shard,
       |             SUM(n_chars)::BIGINT AS chars
       |           FROM documents GROUP BY 1),
       |c AS (SELECT shard, chars,
       |        COALESCE(SUM(chars) OVER (ORDER BY shard
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          ::BIGINT AS cum_before
       |      FROM m),
       |t AS (SELECT SUM(chars)::BIGINT AS total FROM m)
       |SELECT shard, chars, cum_before,
       |  ((cum_before * $CompactionGroups) // total)::BIGINT AS grp
       |FROM c, t ORDER BY shard""".stripMargin

  /** The (base, refresh) frames behind [[corpusRefreshMerge]] — the
    * deterministic re-crawl convention: base = the prefix half of the
    * corpus (doc_id ≤ max/2, the bloomDupCandidates growth rule);
    * refresh = the suffix half REKEYED to doc_id − cut + cut/2, so its
    * low ids collide with base keys (content updates for re-crawled
    * pages) and its high ids are genuinely new (inserts). Production
    * swaps in its real landing batch — same two-frame shape.
    */
  private def refreshFrames(t: Tables): (DataFrame, DataFrame) = {
    val cut = t.documents.agg(max(col("doc_id"))).head().getLong(0) / 2
    val base = t.documents.filter(col("doc_id") <= cut)
      .select(col("doc_id"), col("n_chars"))
    val refresh = t.documents.filter(col("doc_id") > cut)
      .select((col("doc_id") - cut + cut / 2).as("doc_id"), col("n_chars"))
    (base, refresh)
  }

  /** Shared MERGE body — one definition for the shuffled and bucketed
    * entries so the semantics cannot drift.
    */
  private def mergeBody(base: DataFrame, refresh: DataFrame): DataFrame = {
    val b = base.select(col("doc_id").as("b_id"), col("n_chars").as("b_chars"))
    val r = refresh.select(col("doc_id").as("r_id"),
      col("n_chars").as("r_chars"))
    b.join(r, col("b_id") === col("r_id"), "full_outer")
      .select(coalesce(col("b_id"), col("r_id")).as("doc_id"),
        when(col("b_id").isNotNull && col("r_id").isNotNull, "update")
          .when(col("r_id").isNotNull, "insert")
          .otherwise("keep").as("op"),
        coalesce(col("r_chars"), col("b_chars")).as("n_chars"),
        when(col("r_id").isNotNull, "refresh").otherwise("base").as("src"))
      .orderBy(col("doc_id"))
  }

  /** MERGE-INTO as a query — the warehouse upsert every periodically
    * re-crawled corpus needs: a refresh batch applied onto the base
    * snapshot, each output key tagged `update` (both sides — refresh
    * content wins), `insert` (refresh only), or `keep` (base only);
    * deletes ride the separate tombstone pipeline
    * ([[graft.pipeline.Forget]]). Keys are unique per side, so the
    * merge is exactly one FULL OUTER equi-join plus map-side CASEs —
    * ONE shuffle of two pruned columns per side at any corpus size.
    * All integers + tags; hash-exact.
    */
  def corpusRefreshMerge(t: Tables): DataFrame = {
    val (base, refresh) = refreshFrames(t)
    mergeBody(base, refresh)
  }

  /** [[corpusRefreshMerge]] over PRE-BUCKETED sides: both frames are
    * written bucketed+sorted by doc_id once per corpus version
    * (inventory-keyed tags — the q3Bucketed protocol), and the merge
    * join then runs with ZERO exchanges (spec-pinned). The production
    * shape: a corpus that refreshes nightly pays the doc_id shuffle at
    * landing, not in every merge.
    */
  def corpusRefreshMergeBucketed(t: Tables): DataFrame = {
    import graft.storage.Bucketing.ensureByKey
    val (base, refresh) = refreshFrames(t)
    mergeBody(
      ensureByKey(t, "graft_b_mergebase", "documents", "merge", base, "doc_id"),
      ensureByKey(t, "graft_b_mergeref", "documents", "merge|r", refresh,
        "doc_id"))
  }

  def corpusRefreshMergeSql: String =
    """WITH c AS (SELECT MAX(doc_id) // 2 AS cut FROM documents),
      |b AS (SELECT doc_id, n_chars FROM documents, c WHERE doc_id <= cut),
      |r AS (SELECT doc_id - cut + cut // 2 AS doc_id, n_chars
      |      FROM documents, c WHERE doc_id > cut)
      |SELECT COALESCE(b.doc_id, r.doc_id) AS doc_id,
      |  CASE WHEN b.doc_id IS NOT NULL AND r.doc_id IS NOT NULL
      |         THEN 'update'
      |       WHEN r.doc_id IS NOT NULL THEN 'insert'
      |       ELSE 'keep' END AS op,
      |  COALESCE(r.n_chars, b.n_chars) AS n_chars,
      |  CASE WHEN r.doc_id IS NOT NULL THEN 'refresh' ELSE 'base' END
      |    AS src
      |FROM b FULL OUTER JOIN r ON b.doc_id = r.doc_id
      |ORDER BY doc_id""".stripMargin
}
