package graft

import graft.ann.Ann
import graft.storage.{BoundsStore, Bucketing, ClusterStore, IndexMaintenance, Materialize}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import scala.util.{Failure, Try}

/** The one commit protocol (storage.Generations) under concurrent
  * writers and crashes, through every store that uses it: concurrent
  * publishers to one generation root get distinct generations, each
  * holding exactly one writer's rows; a reader pinned before them keeps
  * its rows; a publish whose task dies mid-write commits nothing and
  * leaves nothing; concurrent `ensureParquet` callers, of a plain or a
  * bucketed store, all serve one winner; and a store dir left without
  * `_SUCCESS` is refused, not served.
  */
class StoreCommitSpec extends SparkSpec {

  private val Writers = 4

  /** `body(w)` for every writer w, on `Writers` threads released at once;
    * fails the test if any writer threw.
    */
  private def race[A](body: Int => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(Writers)
    val go = new CountDownLatch(1)
    try {
      val futures = (0 until Writers).map(w => pool.submit(new Callable[Try[A]] {
        def call(): Try[A] = { go.await(); Try(body(w)) }
      }))
      go.countDown()
      val res = futures.map(_.get(10, TimeUnit.MINUTES))
      res.collectFirst { case Failure(e) => e }
        .foreach(e => fail(s"a concurrent writer threw: $e", e))
      res.map(_.get)
    } finally pool.shutdownNow()
  }

  /** `df` with a task that dies: partition 1 of 3 throws when computed.
    * Written as is, the other two tasks have written their files by then.
    */
  private def dying(df: DataFrame): DataFrame = {
    val die = udf { (p: Int) =>
      if (p == 1) throw new IllegalStateException("task killed mid-write")
      true
    }.asNondeterministic()
    df.repartition(3).filter(die(spark_partition_id()))
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def listing(dir: String): Set[String] = {
    val p = new Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p)
      .map(_.getPath.getName).toSet
  }

  /** The generation-store contract on a fresh root. `rows(w)` is what
    * writer w publishes; `read(root, n)` reads generation n back.
    */
  private def generationRace(name: String, rows: Int => DataFrame)(
      publish: (String, DataFrame) => Long,
      read: (String, Long) => DataFrame,
      current: String => Option[Long]): Unit = {
    val root = java.nio.file.Files.createTempDirectory(s"graft-race-$name").toString
    val g0 = publish(root, rows(0))
    val pinned = sorted(read(root, g0))

    val gens = race(w => publish(root, rows(w + 1)))
    assert(gens.distinct.size == Writers && !gens.contains(g0),
      s"$name: concurrent publishers shared generations: $gens after $g0")
    gens.zipWithIndex.foreach { case (g, w) =>
      assert(sorted(read(root, g)) == sorted(rows(w + 1)),
        s"$name: gen $g does not hold exactly writer ${w + 1}'s rows")
    }
    assert(current(root).contains(gens.max))
    assert(sorted(read(root, g0)) == pinned,
      s"$name: the reader pinned to gen $g0 lost its rows")

    val before = listing(root)
    intercept[Exception](publish(root, dying(rows(Writers + 1))))
    assert(current(root).contains(gens.max),
      s"$name: a publish that died mid-write moved the current generation")
    assert(listing(root) == before,
      s"$name: a publish that died mid-write left ${listing(root) -- before}")
  }

  test("ClusterStore and BoundsStore: concurrent publishers get distinct generations; a dying publish commits nothing") {
    import spark.implicits._
    generationRace("labels", w => (0 until 300)
      .map(i => (w * 1000L + i, w * 1000L, 300L))
      .toDF("doc_id", "keeper_id", "cluster_size"))(
      ClusterStore.publishGeneration(spark, _, _),
      ClusterStore.readLabels(spark, _, _),
      ClusterStore.currentGeneration(_))
    generationRace("bounds", w => (0 until 300)
      .map(i => (s"w$w-$i", i.toDouble, i + 0.5))
      .toDF("lang", "s1", "s2"))(
      BoundsStore.publishGeneration(spark, _, _),
      BoundsStore.readBounds(spark, _, _),
      BoundsStore.currentGeneration(_))
  }

  test("IVF and IVF-PQ IndexMaintenance: concurrent publishers get distinct generations; a dying publish commits nothing") {
    val index = Ann.ivfIndex(tables).cache()
    val cents = Ann.ivfCentroidTable(tables).cache()
    val codebook = Ann.pqResidualCodebook(tables).cache()
    try {
      // writer w publishes its own slice of the index
      def slice(w: Int): DataFrame =
        index.filter(col("vec_id") % (Writers + 2) === w)
      def readIndex(root: String, n: Long): DataFrame =
        spark.read.parquet(IndexMaintenance.indexPath(root, n))
          .select(col("vec_id"), col("v"), col("cid"))
      generationRace("ivf", slice)(
        IndexMaintenance.publishGeneration(spark, _, _, cents),
        readIndex,
        IndexMaintenance.currentGeneration(_))
      // a PQ generation's codes must cover exactly its own index
      generationRace("ivfpq", slice)(
        IndexMaintenance.publishGenerationPq(spark, _, _, cents, codebook),
        (root, n) => readIndex(root, n).join(
          spark.read.parquet(IndexMaintenance.pqCodesPath(root, n))
            .select("vec_id").distinct(), Seq("vec_id"), "left_semi"),
        IndexMaintenance.currentPqGeneration(_))
    } finally Seq(index, cents, codebook).foreach(_.unpersist())
  }

  test("concurrent ensureParquet callers all serve one winner; a dying build commits nothing") {
    import spark.implicits._
    val prefix = "graft_tst_commit"
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    def rows(w: Int): DataFrame = (0 until 300).map(i => (w, i)).toDF("w", "i")
    def tag(): String = java.util.UUID.randomUUID().toString.replace("-", "").take(12)
    def temps(): Set[String] = listing(wh).filter(_.startsWith(s".${prefix}_"))
    def stores(): Set[String] = listing(wh).filter(_.startsWith(s"${prefix}_"))

    // a plain store and a bucketed one commit the same way
    Seq(None, Some(Bucketing.spec(4, "i"))).foreach { bucketing =>
      Materialize.reapStale(spark, prefix, Set.empty)
      val tag0 = tag()
      val served = race(w => sorted(
        Materialize.ensureParquet(spark, prefix, tag0, rows(w), bucketing = bucketing)))
      assert(served.distinct.size == 1, s"$bucketing: callers served different stores")
      assert((0 until Writers).exists(w => sorted(rows(w)) == served.head),
        s"$bucketing: the served store is no single writer's rows")
      assert(stores() == Set(s"${prefix}_$tag0") && temps().isEmpty,
        s"$bucketing: the race left ${stores()} and temp dirs ${temps()}")
      // the committed files carry a bucket id iff the store is bucketed
      val data = listing(s"$wh/${prefix}_$tag0").filterNot(_.startsWith("_"))
      assert(data.nonEmpty && data.forall(f =>
        BucketingUtils.getBucketId(f).isDefined == bucketing.isDefined), data)

      val tag1 = tag()
      intercept[Exception](Materialize.ensureParquet(spark, prefix, tag1,
        dying(rows(0)), bucketing = bucketing))
      assert(!listing(wh).contains(s"${prefix}_$tag1") && temps().isEmpty,
        s"$bucketing: a build that died mid-write left a store or a temp dir")
    }
    Materialize.reapStale(spark, prefix, Set.empty)
  }

  test("ensureParquetAt refuses a store dir left without _SUCCESS") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-partial").toString
    val dst = new Path(dir, "documents.parquet")
    Seq((1L, "stale")).toDF("doc_id", "text").write.parquet(dst.toString)
    // a partial delete took the commit marker first
    new java.io.File(s"$dst/_SUCCESS").delete()
    val e = intercept[java.io.IOException](Materialize.ensureParquetAt(spark, dst,
      Seq((2L, "fresh")).toDF("doc_id", "text")).collect())
    assert(e.getMessage.contains("_SUCCESS"), e.getMessage)
    assert(listing(dir) == Set("documents.parquet"),
      s"the refused build left ${listing(dir)}")
  }
}
