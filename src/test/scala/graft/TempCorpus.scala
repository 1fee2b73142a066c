package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A writable corpus for growth tests: a temp dir holding a copy of
  * some of a test corpus's tables, into which a test lands part files.
  */
object TempCorpus {

  /** `tables` of `srcDir` copied into a fresh temp dir. */
  def copyOf(spark: SparkSession, srcDir: String, prefix: String,
             tables: String*): Tables = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    tables.foreach { tb =>
      spark.read.parquet(s"$srcDir/$tb.parquet").write.parquet(s"$dir/$tb.parquet")
    }
    Tables(spark, dir)
  }

  /** Lands `rows` (collected first, so they may be derived from the
    * table itself) as one new part file of `t`'s `table`.
    */
  def land(t: Tables, table: String, rows: DataFrame): Unit = {
    val spark = t.spark
    spark.createDataFrame(spark.sparkContext.parallelize(rows.collect().toSeq, 1),
      rows.schema).write.mode("append").parquet(s"${t.dir}/$table.parquet")
  }
}
