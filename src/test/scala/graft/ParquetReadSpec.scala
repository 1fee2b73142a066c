package graft

import java.nio.file.Files

import graft.storage.ParquetRead
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.types.{BinaryType, StringType}

/** graft.storage.ParquetRead: one schema inference per file inventory,
  * and otherwise exactly the plain `spark.read.parquet`.
  */
class ParquetReadSpec extends SparkSpec {

  private def freshDir(name: String): String =
    Files.createTempDirectory(name).resolve("t.parquet").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a second read of an unchanged dir launches no job") {
    import spark.implicits._
    val dir = freshDir("graft-pqread-warm")
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s").repartition(2)
      .write.parquet(dir)
    val (plain, plainJobs) = JobCount.of(spark)(spark.read.parquet(dir))
    val (first, firstJobs) = JobCount.of(spark)(ParquetRead(spark, dir))
    val (second, secondJobs) = JobCount.of(spark)(ParquetRead(spark, dir))
    assert(plainJobs > 0 && firstJobs == plainJobs && secondJobs == 0,
      s"jobs: plain $plainJobs, first $firstJobs, second $secondJobs")
    assert(first.schema == plain.schema && second.schema == plain.schema)
    assert(rows(second) == rows(plain))
  }

  test("a landed part file re-infers and the frame sees its rows") {
    import spark.implicits._
    val dir = freshDir("graft-pqread-grow")
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(dir)
    assert(ParquetRead(spark, dir).count() == 2L)
    Seq((3L, "c")).toDF("id", "s").write.mode("append").parquet(dir)
    val (grown, jobs) = JobCount.of(spark)(ParquetRead(spark, dir))
    assert(jobs > 0, "the grown dir was not re-inferred")
    assert(grown.count() == 3L)
    assert(rows(grown) == rows(spark.read.parquet(dir)))
  }

  test("an overwrite with a different schema reads the new schema") {
    import spark.implicits._
    val dir = freshDir("graft-pqread-overwrite")
    Seq((1L, "a")).toDF("id", "s").write.parquet(dir)
    assert(ParquetRead(spark, dir).columns.toSeq == Seq("id", "s"))
    Seq((7, 0.5, "x")).toDF("x", "y", "z").write.mode("overwrite").parquet(dir)
    val after = ParquetRead(spark, dir)
    assert(after.schema == spark.read.parquet(dir).schema)
    assert(after.columns.toSeq == Seq("x", "y", "z"))
    assert(rows(after) == Seq("[7,0.5,x]"))
  }

  test("a conf that changes inference re-infers") {
    // written without Spark's schema in the footer, which would otherwise
    // override binaryAsString
    val dir = freshDir("graft-pqread-conf")
    val schema = MessageTypeParser.parseMessageType("message m { required binary b; }")
    val conf = spark.sessionState.newHadoopConf()
    val w = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(dir, "part-0.parquet"), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally w.close()
    def typeOf(df: DataFrame) = df.schema("b").dataType
    assert(typeOf(ParquetRead(spark, dir)) == BinaryType)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try {
      val (asString, jobs) = JobCount.of(spark)(ParquetRead(spark, dir))
      assert(jobs > 0 && typeOf(asString) == StringType)
      assert(rows(asString) == Seq("[hi]"))
    } finally spark.conf.unset("spark.sql.parquet.binaryAsString")
    assert(typeOf(ParquetRead(spark, dir)) == BinaryType)
  }

  test("a missing path throws what the plain read throws") {
    val missing = freshDir("graft-pqread-missing")
    val plain = intercept[Exception](spark.read.parquet(missing))
    val ours = intercept[Exception](ParquetRead(spark, missing))
    assert(ours.getClass == plain.getClass)
    assert(ours.getMessage == plain.getMessage)
  }

  test("a partitionBy store dir keeps the plain read's schema and column order") {
    import spark.implicits._
    val dir = freshDir("graft-pqread-partitioned")
    Seq((1L, Seq(0.5, 1.0), 3), (2L, Seq(2.0, 0.0), 1), (3L, Seq(1.5, 1.5), 3))
      .toDF("vec_id", "v", "cid").write.partitionBy("cid").parquet(dir)
    val plain = spark.read.parquet(dir)
    ParquetRead(spark, dir)
    val (memo, jobs) = JobCount.of(spark)(ParquetRead(spark, dir))
    assert(jobs == 0)
    assert(memo.schema == plain.schema)
    assert(memo.columns.toSeq == Seq("vec_id", "v", "cid"))
    assert(rows(memo) == rows(plain))
    assert(rows(memo.filter($"cid" === 3).select("vec_id")) == Seq("[1]", "[3]"))
  }

  test("a file sink's partitioned output reads the same through its metadata log") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = freshDir("graft-pqread-sink")
    val in = MemoryStream[(Long, Int)]
    val q = in.toDF().toDF("vec_id", "cid").writeStream
      .partitionBy("cid").format("parquet")
      .option("path", dir).option("checkpointLocation", s"$dir-ckpt").start()
    try {
      in.addData((1L, 3), (2L, 1))
      q.processAllAvailable()
      in.addData((3L, 3))
      q.processAllAvailable()
    } finally q.stop()
    val plain = spark.read.parquet(dir)
    ParquetRead(spark, dir)
    val (memo, jobs) = JobCount.of(spark)(ParquetRead(spark, dir))
    assert(jobs == 0)
    assert(memo.schema == plain.schema && memo.columns.toSeq == Seq("vec_id", "cid"))
    assert(memo.inputFiles.toSet == plain.inputFiles.toSet)
    assert(rows(memo) == rows(plain) && rows(memo).size == 3)
  }
}
