package graft.storage

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** graft's one batch parquet read: `spark.read.parquet(paths)`, with the
  * schema inferred once per file inventory.
  *
  * A read without a schema makes Spark infer one, and that is a one-task
  * Spark job (the footer read of `SchemaMergeUtils.mergeSchemasInParallel`,
  * run even with `mergeSchema=false`) plus its driver round trip, on every
  * read of the same unchanged files. With `mergeSchema=false` the inferred
  * schema depends only on the files and the SQL conf. So each path set
  * keeps the schema its last inferring read gave, with the inventory
  * (path, length, mtime of every leaf file, listed before that read) and
  * the SQL conf it was inferred under, and while both still match the read
  * passes that schema to the reader. Growth, an overwrite or a conf change
  * re-infers. Plans and rows are the ones the plain read gives; a missing
  * path is read plainly, so it throws what the plain read throws.
  *
  * The inventory comes from `FileSystem.listStatus` only. A
  * `LocatedFileStatus` (`listFiles`) asks the local file system for the
  * file's permissions, which stock Hadoop without libhadoop answers by
  * forking `ls` once per file.
  */
object ParquetRead {

  private type Inventory = Seq[(String, Long, Long)]

  private final case class Inferred(conf: Map[String, String],
                                    inventory: Inventory, schema: StructType)

  /** A map that forgets its least recently used entry beyond 256
    * entries; callers synchronize on it. A long-lived session reads ever
    * newer generation paths, and a forgotten entry is just recomputed.
    */
  private[storage] def lru[K, V](): java.util.Map[K, V] =
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
        size > 256
    }

  // one entry per path set
  private val memo = lru[Seq[String], Inferred]()

  def apply(spark: SparkSession, paths: String*): DataFrame =
    inventory(spark, paths) match {
      case None => spark.read.parquet(paths: _*)
      case Some(inv) =>
        val conf = spark.sessionState.conf.getAllConfs
        memo.synchronized(Option(memo.get(paths)))
          .filter(m => m.conf == conf && m.inventory == inv) match {
          case Some(m) => spark.read.schema(m.schema).parquet(paths: _*)
          case None =>
            val df = spark.read.parquet(paths: _*)
            memo.synchronized(memo.put(paths, Inferred(conf, inv, df.schema)))
            df
        }
    }

  /** (path, length, mtime) of every file under `paths`, directories
    * walked recursively (partitioned stores); None when a path cannot
    * be listed.
    */
  private def inventory(spark: SparkSession, paths: Seq[String]): Option[Inventory] = {
    val conf = spark.sessionState.newHadoopConf()
    def leaves(fs: FileSystem, p: Path): Inventory =
      fs.listStatus(p).toSeq.sortBy(_.getPath.getName).flatMap { s =>
        if (s.isDirectory) leaves(fs, s.getPath)
        else Seq((s.getPath.toString, s.getLen, s.getModificationTime))
      }
    try Some(paths.flatMap { p =>
      val path = new Path(p)
      leaves(path.getFileSystem(conf), path)
    })
    catch { case _: IOException => None }
  }
}
