package graft

import graft.dedup.{Dedup, Substring}
import graft.pipeline.{ChunkSemantic, Chunking, Mixing}
import graft.storage.Materialize
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A writable corpus for growth tests: a temp dir holding a copy of
  * some of a test corpus's tables, into which a test lands part files.
  * [[dispose]] deletes the copy and the warehouse stores built over it.
  */
object TempCorpus {

  /** The stores built over a `documents` table that specs grow. */
  private def stores = Seq(Dedup.KeeperIdsStore, Dedup.ShinglesStore,
    Dedup.SimhashStore, Dedup.ShinglesBucketedStore, Dedup.BandsBucketedStore,
    Substring.WindowsStore, Substring.WindowsBucketedStore,
    Mixing.LmScoresStore, Chunking.ChunkHashStore, ChunkSemantic.ChunkVecStore)

  // store dir names of every inventory each temp corpus has had: an
  // inventory-keyed store's tag moves with each landing
  private val storeDirs =
    new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()

  private def remember(t: Tables): Unit = {
    val names = stores.flatMap(s =>
      Seq(s"${s.prefix}_${s.tag(t)}", Materialize.incRootName(t, s))).toSet
    storeDirs.merge(t.dir, names, _ ++ _)
  }

  /** `tables` of `srcDir` copied into a fresh temp dir. */
  def copyOf(spark: SparkSession, srcDir: String, prefix: String,
             tables: String*): Tables = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    tables.foreach { tb =>
      spark.read.parquet(s"$srcDir/$tb.parquet").write.parquet(s"$dir/$tb.parquet")
    }
    val t = Tables(spark, dir)
    remember(t)
    t
  }

  /** `body` over a [[copyOf]] that is disposed of afterwards. */
  def withCopy[A](spark: SparkSession, srcDir: String, prefix: String,
                  tables: String*)(body: Tables => A): A = {
    val t = copyOf(spark, srcDir, prefix, tables: _*)
    try body(t) finally dispose(t)
  }

  /** Lands `rows` (collected first, so they may be derived from the
    * table itself) as one new part file of `t`'s `table`.
    */
  def land(t: Tables, table: String, rows: DataFrame): Unit = {
    val spark = t.spark
    spark.createDataFrame(spark.sparkContext.parallelize(rows.collect().toSeq, 1),
      rows.schema).write.mode("append").parquet(s"${t.dir}/$table.parquet")
    remember(t)
  }

  /** Deletes `t`'s dir and its stores in the shared warehouse: the
    * incremental roots, and the inventory-keyed store dirs of every
    * inventory [[copyOf]] and [[land]] gave it.
    */
  def dispose(t: Tables): Unit = {
    remember(t)
    val conf = t.spark.sessionState.newHadoopConf()
    val wh = new Path(t.spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(conf)
    Option(storeDirs.remove(t.dir)).getOrElse(Set.empty)
      .foreach(name => fs.delete(new Path(wh, name), true))
    val dir = new Path(t.dir)
    dir.getFileSystem(conf).delete(dir, true)
  }
}
