package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, CyclicBarrier, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import graft.dedup.Dedup
import graft.pipeline.{CorpusClean, Intake}
import graft.storage.{Generations, Materialize}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** The admit builds its gate frames on concurrent driver threads, and
  * concurrent callers of one store build it once: the single-flight
  * ensure, failure propagation out of the fan-out, and the caller's
  * job group on every fan-out job.
  */
class AdmitFanoutSpec extends SparkSpec {

  /** `bodies` run on one thread each, released together; their results. */
  private def together[A](bodies: (() => A)*): Seq[A] = {
    val start = new CyclicBarrier(bodies.size)
    val out = bodies.map(_ => new AtomicReference[Either[Throwable, A]]())
    val threads = bodies.zip(out).map { case (body, o) =>
      new Thread(() => o.set(try { start.await(); Right(body()) }
        catch { case e: Throwable => Left(e) }))
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    out.map(_.get.fold(e => throw e, identity))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("two threads ensuring the shingle store after a landing commit one growth generation") {
    TempCorpus.withCopy(spark, sfDir, "graft-fanout-ensure", "documents") { t =>
      val builds = new AtomicInteger()
      def ensure(): (Long, DataFrame) =
        Materialize.ensureIncrementalWithGen(t, Dedup.ShinglesStore, { docs =>
          builds.incrementAndGet()
          Dedup.shinglesOf(docs)
        })
      ensure()
      val maxId = t.documents.agg(max(col("doc_id"))).head.getLong(0)
      TempCorpus.land(t, "documents", t.documents.orderBy(col("doc_id")).limit(10)
        .withColumn("doc_id", col("doc_id") + lit(maxId + 1))
        .withColumn("text", concat(col("text"), lit(" landed words here")))
        .withColumn("n_chars", length(col("text")).cast("long")))
      builds.set(0)
      val Seq((genA, a), (genB, b)) = together(() => ensure(), () => ensure())
      val root = s"${spark.conf.get("spark.sql.warehouse.dir")}/" +
        Materialize.incRootName(t, Dedup.ShinglesStore)
      assert(builds.get == 1, s"${builds.get} growth builds for one landing")
      assert(Generations.committed(root, "rows",
        spark.sessionState.newHadoopConf()) == Seq(0L, 1L))
      assert(genA == 1L && genB == 1L)
      assert(rows(a) == rows(b))
    }
  }

  test("a gate failing while the admit builds its gates throws on the caller, no fan-out thread left") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fanout-notext").toString
    tables.documents.drop("text").write.parquet(s"$dir/documents.parquet")
    val t = Tables(spark, dir)
    try {
      // sequentially the clean gate, the admit's first, threw first
      val expected = intercept[Throwable](CorpusClean.corpusCleanUnsorted(t)).getClass
      val thrown = intercept[Throwable](Intake.corpusAdmit(t))
      assert(thrown.getClass == expected, thrown.toString)
      val left = Thread.getAllStackTraces.keySet.asScala
        .filter(th => th.getName.startsWith("graft-gate-") && th.isAlive)
      assert(left.isEmpty, s"fan-out threads still alive: ${left.map(_.getName)}")
    } finally TempCorpus.dispose(t)
  }

  test("every job of a cold admit carries the caller's job group") {
    TempCorpus.withCopy(spark, sfDir, "graft-fanout-group", "documents") { t =>
      val sc = spark.sparkContext
      val id = java.util.UUID.randomUUID().toString
      val (group, marker) = (s"fanout-$id", s"fanout-marker-$id")
      val groups = new ConcurrentLinkedQueue[String]()
      val drained = new CountDownLatch(1)
      def groupOf(e: SparkListenerJobStart): String =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      val markerJobs = ConcurrentHashMap.newKeySet[Int]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (groupOf(e) == marker) markerJobs.add(e.jobId)
          else groups.add(String.valueOf(groupOf(e)))
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          if (markerJobs.contains(e.jobId)) drained.countDown()
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup(group, "cold admit", interruptOnCancel = false)
        try Intake.corpusAdmit(t).collect() finally sc.clearJobGroup()
        sc.setJobGroup(marker, "drain", interruptOnCancel = false)
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      } finally sc.removeSparkListener(listener)
      val seen = groups.asScala.toSeq
      assert(seen.nonEmpty && seen.forall(_ == group),
        s"${seen.count(_ != group)} of ${seen.size} jobs outside the caller's group: " +
          seen.filter(_ != group).distinct.mkString(", "))
    }
  }
}
