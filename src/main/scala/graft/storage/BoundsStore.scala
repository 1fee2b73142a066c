package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Generation store for the CCNet per-language BOUNDARY TABLE
  * (`pipeline.Mixing.ccnetBounds` — lang, s1, s2), so a long-running
  * intake job (`streaming.Jobs.LmBucketStream`) rolls to fresh terciles
  * as the corpus score distribution shifts, without a batch re-bucket
  * of anything: the periodic batch job recomputes the langs×2 table
  * (cheap — OrderStat histogram search over the materialized score
  * store), publishes it as a generation, and the intake job picks it up
  * on roll. The table it publishes is `Mixing.quantileBounds`' memo
  * entry, keyed by the score store's inventory tag: a publish over an
  * unchanged corpus runs no search, only the write, and any landing
  * derives the table again. Readers mid-run keep the generation they resolved —
  * generations are immutable until [[retireOld]] — so every doc
  * bucketed by one job incarnation used ONE consistent boundary table,
  * and the generation number in the path records which.
  *
  * Layout and commit are [[Generations]]': `<root>/gen=<n>/bounds/`
  * parquet, written into a temp dir and committed by one exclusive
  * rename, so concurrent publishers get distinct generations; current =
  * highest committed.
  */
object BoundsStore extends GenerationStore("bounds") {

  def boundsPath(root: String, n: Long): String = pathAt(root, n)

  /** Publish the current batch boundary table for `t`'s corpus. */
  def publishFrom(t: graft.Tables, root: String): Long =
    publishGeneration(t.spark, root, graft.pipeline.Mixing.ccnetBounds(t))

  def readBounds(spark: SparkSession, root: String, n: Long): DataFrame =
    ParquetRead(spark, boundsPath(root, n))
      .select(col("lang"), col("s1"), col("s2"))
}
