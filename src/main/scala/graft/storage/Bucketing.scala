package graft.storage

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.BucketSpec

/** Bucketed-storage path for repeated co-located joins.
  *
  * At 100 TB the same fact-fact join (lineitem ⋈ orders on the order
  * key) recurs across queries; shuffling both sides every time is the
  * dominant cost. Writing both tables bucketed (and sorted) by the join
  * key makes every later join a zero-exchange sort-merge: Spark matches
  * bucket files pairwise per task. The shuffle is paid once, at write.
  *
  * A bucketed store is a [[Materialize]] store like any other: written
  * into a temp dir and committed by one rename, then read back from its
  * directory with the store's [[BucketSpec]]. No catalog is involved, so
  * a later JVM over the same warehouse reuses the store.
  */
object Bucketing {

  /** Folded into every bucketed store's config: a directory written as a
    * catalog table's location by an earlier layout, possibly half-written
    * in place, never matches a current tag. It is never served, and
    * [[Materialize.reapStale]] deletes it.
    */
  val Layout = "layout=dir"

  /** Bucket AND sort by `cols`. The bucket columns must exactly match the
    * consumer's clustering: Spark's bucketed-scan heuristic does not
    * credit subset-key bucketings. `buckets` should be sized so one
    * bucket of the LARGER table fits an executor's memory at target
    * scale (e.g. 100 TB / 4096 buckets ≈ 25 GB, read as multiple file
    * splits but one bucket per join task).
    */
  def spec(buckets: Int, cols: String*): BucketSpec =
    BucketSpec(buckets, cols, cols)

  /** Buckets for the q3 fact tables. Local-scale value; at 100 TB size
    * so one bucket of lineitem fits an executor (~4096).
    */
  val Q3Buckets = 8

  /** `df` as the store `<prefix>_<tag>`, bucketed and sorted by `key`
    * into [[Q3Buckets]]; the tag hashes `table`'s file inventory and
    * `config`.
    */
  private[graft] def ensureByKey(t: Tables, prefix: String, table: String,
                                 config: String, df: => DataFrame,
                                 key: String): DataFrame =
    Materialize.ensureParquet(t.spark, prefix, Materialize.corpusTag(
      t, table, s"$config|b=$Q3Buckets|$Layout"), df,
      bucketing = Some(spec(Q3Buckets, key)))

  /** TPC-H Q3 over pre-bucketed facts: lineitem and orders are written
    * bucketed+sorted by their order key ONCE per source file inventory,
    * and the fact-fact join then runs with zero exchanges — the shuffle
    * is amortized across every subsequent query on the same corpus.
    * Same plan body as Relational.q3Shipping (one definition, cannot
    * drift); BucketingSpec pins the no-Exchange property, the DuckDB
    * oracle (identical to q3_shipping's) pins values.
    */
  def q3Bucketed(t: Tables): DataFrame =
    // Inventory-keyed tags (Materialize.corpusTag hashes the source
    // table's file names + lengths + mtimes, not just the path): a corpus
    // regenerated at the same path mid-session produces NEW bucketed
    // stores instead of silently serving stale buckets.
    graft.operators.Relational.q3Body(
      ensureByKey(t, "graft_b_lineitem", "lineitem", "q3",
        t.lineitem.select("l_orderkey", "l_shipdate", "l_extendedprice",
          "l_discount"), "l_orderkey"),
      ensureByKey(t, "graft_b_orders", "orders", "q3",
        t.orders.select("o_orderkey", "o_custkey", "o_orderdate"),
        "o_orderkey"),
      t.customer)
}
