package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp
import java.nio.file.Files
import scala.collection.mutable

/** MemoryStream harness for the Structured Streaming jobs. No DuckDB
  * oracle exists for streams — these specs ARE the correctness gate, so
  * every assertion is on exact values, not non-emptiness (VERDICT r2).
  */
class StreamingJobsSpec extends SparkSpec {
  import org.apache.spark.sql.SQLContext
  implicit lazy val sqlCtx: SQLContext = spark.sqlContext

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("WordCountStream: complete-mode counts update across batches") {
    import spark.implicits._
    val in = MemoryStream[String]
    val q = Jobs.WordCountStream.writer(in.toDF())
      .format("memory").queryName("wc_stream").start()
    try {
      in.addData("hello world hello", "spark streaming")
      q.processAllAvailable()
      val b1 = spark.table("wc_stream").as[(String, Long)].collect().toMap
      assert(b1 == Map("hello" -> 2L, "world" -> 1L, "spark" -> 1L,
        "streaming" -> 1L))

      in.addData("hello spark")
      q.processAllAvailable()
      val b2 = spark.table("wc_stream").as[(String, Long)].collect().toMap
      assert(b2 == Map("hello" -> 3L, "world" -> 1L, "spark" -> 2L,
        "streaming" -> 1L))
    } finally q.stop()
  }

  test("RunningCounts: state accumulates and survives checkpoint restart") {
    import spark.implicits._
    val in = MemoryStream[String]
    val checkpoint = tmp("graft-running-ckpt")
    // memory sink refuses checkpoint recovery; collect via foreachBatch
    // (a recoverable sink) into per-run buffers instead
    def run(buf: mutable.Buffer[(String, Long)]) =
      Jobs.RunningCounts.writer(in.toDF(), checkpoint)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[(String, Long)], _: Long) =>
          buf.synchronized { buf ++= b.collect() }; ()
        }.start()

    val out1 = mutable.Buffer.empty[(String, Long)]
    val q1 = run(out1)
    try {
      in.addData("a b a", "b c")
      q1.processAllAvailable()
      val t1 = out1.synchronized(out1.toSeq).groupMapReduce(_._1)(_._2)(math.max)
      assert(t1 == Map("a" -> 2L, "b" -> 2L, "c" -> 1L))
    } finally q1.stop()

    // restart from the SAME checkpoint: per-key state must be recovered,
    // not recomputed — the reference's jssc.checkpoint() recovery story
    // (UpdateStateByKeyWordCount.java:32)
    in.addData("a c c")
    val out2 = mutable.Buffer.empty[(String, Long)]
    val q2 = run(out2)
    try {
      q2.processAllAvailable()
      val t2 = out2.synchronized(out2.toSeq).groupMapReduce(_._1)(_._2)(math.max)
      // only batch-2 keys emit in update mode; totals include batch-1 state
      assert(t2 == Map("a" -> 3L, "c" -> 3L))
    } finally q2.stop()
  }

  /** Expected sliding windows for an integer-second event: starts are the
    * 6 slide-aligned seconds s with s <= t < s+60, s % 10 == 0.
    */
  private def windowsOf(tSec: Long): Seq[Long] = {
    val top = tSec / 10 * 10
    (0 to 5).map(k => top - 10L * k).filter(_ > tSec - 60)
  }

  test("SlidingCounts: append emits exact finalized window counts") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String)]
    val counts = Jobs.SlidingCounts.counts(in.toDF().toDF("ts", "word"))
    val q = counts.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sliding").start()
    try {
      val events = Seq(100L -> "tom", 105L -> "tom", 112L -> "leo")
      in.addData(events.map { case (s, w) => (new Timestamp(s * 1000), w) })
      q.processAllAvailable()
      // push the watermark far past every window end → all emit
      in.addData(Seq((new Timestamp(10000 * 1000), "late")))
      q.processAllAvailable()

      val got = spark.table("sliding").as[(Timestamp, String, Long)]
        .collect().map { case (ws, w, c) => (ws.getTime / 1000, w, c) }.toSet
      val expected = events
        .flatMap { case (s, w) => windowsOf(s).map(ws => (ws, w)) }
        .groupMapReduce(identity)(_ => 1L)(_ + _)
        .map { case ((ws, w), c) => (ws, w, c) }.toSet
      assert(got == expected)
      assert(!got.exists(_._2 == "late")) // its windows are still open
    } finally q.stop()
  }

  test("SlidingCounts: window state survives checkpoint restart on RocksDB") {
    import spark.implicits._
    // the session must actually be on the RocksDB provider — the store
    // every large stateful job runs in production (GraftSession.tuned)
    assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
      .contains("RocksDBStateStoreProvider"))
    val in = MemoryStream[(Timestamp, String)]
    val checkpoint = tmp("graft-sliding-ckpt")
    def run(buf: mutable.Buffer[(Long, String, Long)]) =
      Jobs.SlidingCounts.counts(in.toDF().toDF("ts", "word"))
        .writeStream.outputMode(OutputMode.Append())
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (b: DataFrame, _: Long) =>
          val rows = b.collect().map(r =>
            (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2)))
          buf.synchronized { buf ++= rows }; ()
        }.start()

    val events = Seq(100L -> "tom", 105L -> "tom", 112L -> "leo")
    val out1 = mutable.Buffer.empty[(Long, String, Long)]
    val q1 = run(out1)
    try {
      in.addData(events.map { case (s, w) => (new Timestamp(s * 1000), w) })
      q1.processAllAvailable()
      // watermark (112 - 30 = 82) is before every window end: nothing
      // emitted yet, ALL partial counts live only in the state store
      assert(out1.synchronized(out1.isEmpty))
    } finally q1.stop()

    // restart from the same checkpoint; batch 1 is committed so its
    // events are NOT reprocessed — the finalized windows can only come
    // from recovered RocksDB state
    in.addData(Seq((new Timestamp(10000 * 1000), "late")))
    val out2 = mutable.Buffer.empty[(Long, String, Long)]
    val q2 = run(out2)
    try {
      q2.processAllAvailable()
      val got = out2.synchronized(out2.toSet)
      val expected = events
        .flatMap { case (s, w) => windowsOf(s).map(ws => (ws, w)) }
        .groupMapReduce(identity)(_ => 1L)(_ + _)
        .map { case ((ws, w), c) => (ws, w, c) }.toSet
      assert(got == expected)
    } finally q2.stop()
  }

  test("Sinks.parquetAppend: finalized rows survive restart exactly once") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String)]
    val outDir = tmp("graft-filesink-out")
    val checkpoint = tmp("graft-filesink-ckpt")
    def run() = Sinks.parquetAppend(
      Jobs.SlidingCounts.counts(in.toDF().toDF("ts", "word")),
      outDir, checkpoint)

    val events = Seq(100L -> "tom", 105L -> "tom", 112L -> "leo")
    val q1 = run()
    try {
      in.addData(events.map { case (s, w) => (new Timestamp(s * 1000), w) })
      q1.processAllAvailable()
    } finally q1.stop()
    // watermark (112-30) is before every window end: batch 1 committed,
    // nothing finalized — the parquet dir must hold zero manifested rows
    assert(spark.read.parquet(outDir).isEmpty)

    // restart against the same checkpoint + dir; the watermark advance
    // finalizes the windows, whose counts come from recovered state
    in.addData(Seq((new Timestamp(10000 * 1000), "late")))
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()

    // read back THROUGH Spark: _spark_metadata manifests committed
    // batches only — this is the exactly-once read path the sink
    // documents, asserted on exact values, no duplicates
    assert(java.nio.file.Files.exists(
      java.nio.file.Path.of(outDir, "_spark_metadata")))
    val got = spark.read.parquet(outDir).as[(Timestamp, String, Long)]
      .collect().map { case (ws, w, c) => (ws.getTime / 1000, w, c) }
    val expected = events
      .flatMap { case (s, w) => windowsOf(s).map(ws => (ws, w)) }
      .groupMapReduce(identity)(_ => 1L)(_ + _)
      .map { case ((ws, w), c) => (ws, w, c) }.toSet
    assert(got.toSet == expected)
    assert(got.length == got.toSet.size) // append-only, no row written twice
  }

  test("BlacklistFilter: stream-static anti join drops blacklisted users") {
    import spark.implicits._
    val in = MemoryStream[(String, String)]
    val blacklist = Seq("tom").toDF("user")
    val valid = Jobs.BlacklistFilter.valid(
      in.toDF().toDF("user", "line"), blacklist)
    val q = valid.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("blk").start()
    try {
      in.addData(("tom", "20240101 tom"), ("leo", "20240101 leo"),
        ("jack", "20240102 jack"), ("tom", "20240102 tom"))
      q.processAllAvailable()
      val got = spark.table("blk").as[(String, String)].collect().toSet
      assert(got == Set(("leo", "20240101 leo"), ("jack", "20240102 jack")))
    } finally q.stop()
  }

  test("AnnProbeStream: streamed queries get exactly the batch IVF answers") {
    import spark.implicits._
    import graft.ann.Ann
    // feed the REAL query vectors (vec_id < NumQueries) through the
    // stream and require the end-to-end result — probe cells, scoring,
    // rank — to equal the batch embed_ann_ivf rows bit for bit
    val queryVecs = tables.embeddings
      .filter(col("vec_id") < Ann.NumQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val in = MemoryStream[(Long, Seq[Double])]
    val out = mutable.Buffer.empty[(Long, Long, Double, Int)]
    val q = Jobs.AnnProbeStream.start(
      in.toDF().toDF("q_id", "v"), tables, Ann.K,
      tmp("graft-annprobe-ckpt")) { (ranked, _) =>
      out.synchronized {
        out ++= ranked.as[(Long, Long, Double, Int)].collect()
      }
    }
    try {
      in.addData(queryVecs.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val batch = Ann.embedAnnIvf(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(out.synchronized(out.toSet) == batch)
    assert(batch.nonEmpty)
  }

  test("IndexIngestStream: live-ingested index equals the batch build, serves probes") {
    import spark.implicits._
    import graft.ann.Ann
    val corpusVecs = tables.embeddings
      .filter(col("vec_id") >= Ann.NumQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val in = MemoryStream[(Long, Seq[Double])]
    val indexDir = tmp("graft-ingest-idx")
    val q = Jobs.IndexIngestStream.start(
      in.toDF().toDF("vec_id", "v"), tables, indexDir,
      tmp("graft-ingest-ckpt"))
    try {
      in.addData(corpusVecs.toSeq)
      q.processAllAvailable()
    } finally q.stop()

    def readIdx = spark.read.parquet(indexDir)
      .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid"))
    // every live-ingested vector landed in the SAME cell the batch
    // build assigns (per-row HOF pick ≡ batch argmax, incl. tie-break)
    val streamed = readIdx.select("vec_id", "cid")
      .as[(Long, Long)].collect().toMap
    val batch = Ann.ivfIndex(tables).select("vec_id", "cid")
      .as[(Long, Long)].collect().toMap
    assert(streamed == batch)
    // and the batch probe served from the streamed index returns
    // exactly the live entry's answers
    val probed = Ann.probeIndex(tables, readIdx).collect().map(_.toSeq).toSeq
    val live = Ann.embedAnnIvf(tables).collect().map(_.toSeq).toSeq
    assert(probed == live)
  }

  test("IndexMaintenance: compaction collapses ingest files, answers unchanged") {
    import spark.implicits._
    import graft.ann.Ann
    import graft.storage.IndexMaintenance
    val corpusVecs = tables.embeddings
      .filter(col("vec_id") >= Ann.NumQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val in = MemoryStream[(Long, Seq[Double])]
    val indexDir = tmp("graft-compact-idx")
    val q = Jobs.IndexIngestStream.start(
      in.toDF().toDF("vec_id", "v"), tables, indexDir,
      tmp("graft-compact-ckpt"))
    try {
      // several micro-batches → several files per cell (the debt)
      corpusVecs.grouped(100).foreach { batch =>
        in.addData(batch.toSeq)
        q.processAllAvailable()
      }
    } finally q.stop()
    val before = IndexMaintenance.filesPerCell(indexDir)
    assert(before.values.exists(_ > 1),
      s"ingest produced no multi-file cells to compact: $before")

    val compactDir = tmp("graft-compact-out")
    val compacted = IndexMaintenance.compactCells(spark, indexDir, compactDir)
    val after = IndexMaintenance.filesPerCell(compactDir)
    assert(after.keySet == before.keySet) // no cell lost
    assert(after.values.forall(_ == 1), s"cells not compacted: $after")
    // probes over the compacted generation still give the live answers
    val probed = Ann.probeIndex(tables, compacted
      .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid")))
      .collect().map(_.toSeq).toSeq
    assert(probed == Ann.embedAnnIvf(tables).collect().map(_.toSeq).toSeq)
  }

  test("PqProbeStream: streamed queries get exactly the batch PQ answers") {
    import spark.implicits._
    import graft.ann.Ann
    val queryVecs = tables.embeddings
      .filter(col("vec_id") < Ann.NumQueries)
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
    val in = MemoryStream[(Long, Seq[Double])]
    val out = mutable.Buffer.empty[(Long, Long, Double, Int)]
    val q = Jobs.PqProbeStream.start(
      in.toDF().toDF("q_id", "v"), tables,
      tmp("graft-pqprobe-ckpt")) { (ranked, _) =>
      out.synchronized {
        out ++= ranked.as[(Long, Long, Double, Int)].collect()
      }
    }
    try {
      in.addData(queryVecs.toSeq)
      q.processAllAvailable()
    } finally q.stop()
    val batch = Ann.embedAnnPq(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
      .toSet
    assert(out.synchronized(out.toSet) == batch)
    assert(batch.nonEmpty)
  }

  test("TopKPerCategory: foreachBatch ranks finalized windows per category") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String, String)]
    val out = mutable.Buffer.empty[(Long, String, String, Long, Int)]
    val q = Jobs.TopKPerCategory.start(
      in.toDF().toDF("ts", "category", "product"), k = 2,
      tmp("graft-topk-ckpt")) { (ranked, _) =>
      out.synchronized {
        out ++= ranked.as[(Timestamp, String, String, Long, Int)].collect()
          .map { case (ws, cat, p, c, r) => (ws.getTime / 1000, cat, p, c, r) }
      }
    }
    try {
      // one window-worth of clicks in [100, 112]: phone has iphone×3,
      // pixel×2, nokia×1 → top-2 = iphone, pixel
      val t = (s: Long) => new Timestamp(s * 1000)
      in.addData(Seq(
        (t(100), "phone", "iphone"), (t(101), "phone", "iphone"),
        (t(102), "phone", "iphone"), (t(103), "phone", "pixel"),
        (t(104), "phone", "pixel"), (t(105), "phone", "nokia"),
        (t(106), "laptop", "mac"), (t(107), "laptop", "mac"),
        (t(108), "laptop", "thinkpad")))
      q.processAllAvailable()
      in.addData(Seq((t(10000), "x", "x"))) // close all windows
      q.processAllAvailable()

      val ranked = out.synchronized(out.toSet)
      // check the fully-covered window [100, 160) exactly
      val w100 = ranked.filter(_._1 == 100)
      assert(w100 == Set(
        (100L, "phone", "iphone", 3L, 1), (100L, "phone", "pixel", 2L, 2),
        (100L, "laptop", "mac", 2L, 1), (100L, "laptop", "thinkpad", 1L, 2)))
      // no rank ever exceeds k and nokia never wins a slot
      assert(ranked.forall(_._5 <= 2))
      assert(!ranked.exists(_._3 == "nokia"))
    } finally q.stop()
  }

  test("StreamingDedup: first doc per content hash survives, dups drop") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    val deduped = Jobs.StreamingDedup.firstSeen(
      in.toDF().toDF("ts", "doc_id", "text"))
    val q = deduped.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sdedup").start()
    try {
      val t = (s: Long) => new Timestamp(s * 1000)
      in.addData(Seq((t(10), 1L, "aaa"), (t(11), 2L, "aaa"), (t(12), 3L, "bbb")))
      q.processAllAvailable()
      val kept = spark.table("sdedup").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 3L)) // first "aaa" wins, second drops
      // a later duplicate inside the watermark horizon also drops
      in.addData(Seq((t(13), 4L, "aaa")))
      q.processAllAvailable()
      val kept2 = spark.table("sdedup").select("doc_id").as[Long].collect().toSet
      assert(kept2 == Set(1L, 3L))
    } finally q.stop()
  }

  test("CorpusCleanStream: quality gate plus watermarked dedup") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = Jobs.CorpusCleanStream.clean(
      in.toDF().toDF("ts", "doc_id", "text"), qualityMin = 0.5)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("cc_stream").start()
    try {
      val t = (s: Long) => new Timestamp(s * 1000)
      // rich doc: long + diverse → clears 0.5; "x x" → fails the gate
      val rich = ("the quick brown fox jumps over a lazy dog while many " +
        "other animals watch the scene with great interest and some doubt " +
        "about whether this classic sentence really contains every letter")
      in.addData(Seq(
        (t(10), 1L, rich), (t(11), 2L, "x x"), (t(12), 3L, rich)))
      q.processAllAvailable()
      val kept = spark.table("cc_stream").select("doc_id").as[Long]
        .collect().toSet
      assert(kept == Set(1L)) // low quality dropped; duplicate rich dropped
    } finally q.stop()
  }

  test("intake integration: CorpusCleanStream→parquetAppend equals batch corpus_clean") {
    import spark.implicits._
    import org.apache.spark.sql.functions.md5
    // the full live-intake path over the REAL documents table: quality
    // gate + watermarked dedup, persisted through the exactly-once file
    // sink, must ship the same corpus as the batch capstone. Compared on
    // (text_hash → quality): the stream's keeper within an exact-dup
    // cluster is first-arrival (batch: min doc_id), but dup texts are
    // identical so hash set and per-hash quality must agree exactly.
    val docs = tables.documents.select("doc_id", "text").collect()
      .map(r => (new Timestamp(r.getLong(0) * 1000), r.getLong(0), r.getString(1)))
      .sortBy(_._2).toSeq
    val in = MemoryStream[(Timestamp, Long, String)]
    val outDir = tmp("graft-intake-out")
    val q = Sinks.parquetAppend(
      Jobs.CorpusCleanStream.clean(in.toDF().toDF("ts", "doc_id", "text")),
      outDir, tmp("graft-intake-ckpt"))
    try {
      in.addData(docs)
      q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.read.parquet(outDir)
      .select("text_hash", "quality").as[(String, Double)].collect().toMap
    val batch = graft.pipeline.CorpusClean.corpusClean(tables)
      .join(tables.documents.select(col("doc_id"),
        md5(col("text")).as("text_hash")), Seq("doc_id"))
      .select("text_hash", "quality").as[(String, Double)].collect().toMap
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }

  test("SessionCounts: gap-merged session windows emit exact aggregates") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, String)]
    val counts = Jobs.SessionCounts.counts(
      in.toDF().toDF("ts", "user"), gap = "30 seconds", watermarkLag = "10 seconds")
    val q = counts.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sessions").start()
    try {
      val t = (s: Long) => new Timestamp(s * 1000)
      // tom: events at 10, 25, 40 chain into ONE session (gaps < 30 s);
      // the event at 100 starts a second session. leo: one event.
      in.addData(Seq((t(10), "tom"), (t(25), "tom"), (t(40), "tom"),
        (t(100), "tom"), (t(12), "leo")))
      q.processAllAvailable()
      in.addData(Seq((t(10000), "x"))) // close everything via watermark
      q.processAllAvailable()
      val got = spark.table("sessions").as[(Timestamp, Timestamp, String, Long)]
        .collect().map { case (s, e, u, n) =>
          (s.getTime / 1000, e.getTime / 1000, u, n) }.toSet
      // session end = last event + gap
      assert(got == Set(
        (10L, 70L, "tom", 3L), (100L, 130L, "tom", 1L), (12L, 42L, "leo", 1L)))
    } finally q.stop()
  }

  test("MinhashCandidates: stream-stream band join surfaces near-dup pairs") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    val cand = Jobs.MinhashCandidates.candidates(
      in.toDF().toDF("ts", "doc_id", "text"))
    val q = cand.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("mh_cand").start()
    try {
      val t = (s: Long) => new Timestamp(s * 1000)
      val dup = "the quick brown fox jumps over the lazy dog again and again"
      val other = "completely different words with no overlap whatsoever here now"
      in.addData(Seq((t(10), 1L, dup), (t(20), 2L, dup), (t(25), 3L, other)))
      q.processAllAvailable()
      in.addData(Seq((t(10000), 99L, "x y z"))) // advance watermark
      q.processAllAvailable()
      val pairs = spark.table("mh_cand").as[(Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L))) // identical docs pair; `other` never does
    } finally q.stop()
  }

  test("ClusterAssignStream: corpus replay reproduces batch cluster labels; novel docs self-assign") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    val assigns = Jobs.ClusterAssignStream.assignments(
      in.toDF().toDF("ts", "doc_id", "text"), tables)
      .toDF("doc_id", "keeper_id", "n_verified")
    val q = assigns.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("assigns").start()
    try {
      val docs = tables.documents
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      in.addData(docs.map { case (id, tx) => (new Timestamp(1000L), id, tx) }.toSeq)
      q.processAllAvailable()
      // a novel doc (id beyond the corpus, unrelated text) plus late
      // events that push the watermark past every pending timeout
      in.addData(Seq((new Timestamp(40000L), 900001L,
        "zyx wvu tsr qpo nml kji hgf edc ba")))
      q.processAllAvailable()
      in.addData(Seq((new Timestamp(200000L), 900002L,
        "another unrelated closer paragraph entirely")))
      q.processAllAvailable()
      val got = spark.table("assigns")
        .select("doc_id", "keeper_id").as[(Long, Long)].collect().toMap
      val batch = graft.dedup.Dedup.nearDupClusters(tables).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // every clustered corpus doc must stream to its batch keeper: its
      // verified partners are exactly its cluster edges (plus itself),
      // and their keepers all equal the component min
      batch.foreach { case (id, keeper) =>
        assert(got.get(id).contains(keeper),
          s"doc $id streamed to ${got.get(id)}, batch keeper $keeper")
      }
      // unclustered corpus docs self-assign (self-match verifies at
      // jaccard 1.0, and the self cluster's keeper is the doc itself)
      val shingleable = docs.filter(_._2.split(" ").length >= 3).map(_._1)
      shingleable.filterNot(batch.contains).foreach { id =>
        assert(got.get(id).contains(id),
          s"unclustered doc $id streamed to ${got.get(id)}")
      }
      // the novel doc matches nothing in the corpus store
      assert(got.get(900001L).contains(900001L))
    } finally q.stop()
  }

  test("RepetitionGateStream: per-row profile ≡ batch quality_repetition exactly") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    val gated = Jobs.RepetitionGateStream.profile(
      in.toDF().toDF("ts", "doc_id", "text"))
    val q = gated.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("rep_gate").start()
    try {
      val docs = tables.documents
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      // plus a planted spam doc the gate must reject
      in.addData(docs.map { case (id, tx) => (new Timestamp(1000L), id, tx) }.toSeq
        :+ ((new Timestamp(1000L), 900001L,
          Seq.fill(12)("buy now").mkString(" "))))
      q.processAllAvailable()
      val streamed = spark.table("rep_gate")
        .select("doc_id", "n_bigrams", "top_bigram_frac", "dup_bigram_frac",
          "keep")
        .as[(Long, Long, Double, Double, Int)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      val batch = graft.textanalysis.TextAnalysis.qualityRepetition(tables)
        .as[(Long, Long, Double, Double, Int)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      assert(batch.nonEmpty)
      // identical integers → identical round6 divisions: EXACT equality
      assert(streamed.view.filterKeys(_ != 900001L).toMap == batch)
      assert(streamed(900001L)._4 == 0) // the spam doc is gated out
    } finally q.stop()
  }

  test("ClusterAssignStream pins a published label generation; swap is observable") {
    import spark.implicits._
    import graft.storage.ClusterStore
    val root = tmp("graft_clusterstore")
    // gen 0 = the batch labels: generation-pinned assignments must be
    // identical to the live-computed ones
    val g0 = ClusterStore.publishFrom(tables, root)
    assert(g0 == 0L)
    val docs = tables.documents
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def runGate(name: String): Map[Long, Long] = {
      val in = MemoryStream[(Timestamp, Long, String)]
      val q = Jobs.ClusterAssignStream.assignments(
        in.toDF().toDF("ts", "doc_id", "text"), tables,
        labelsRoot = Some(root))
        .toDF("doc_id", "keeper_id", "n_verified")
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(name).start()
      try {
        in.addData(docs.map { case (id, tx) => (new Timestamp(1000L), id, tx) }.toSeq)
        q.processAllAvailable()
        in.addData(Seq((new Timestamp(40000L), 900001L, "z y x w v u t s r")))
        q.processAllAvailable()
        in.addData(Seq((new Timestamp(200000L), 900002L, "q p o n m l k j i")))
        q.processAllAvailable()
        spark.table(name).select("doc_id", "keeper_id")
          .as[(Long, Long)].collect().toMap
      } finally q.stop()
    }
    val live = graft.dedup.Dedup.nearDupClusters(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gen0 = runGate("gen0gate")
    live.foreach { case (id, keeper) =>
      assert(gen0.get(id).contains(keeper),
        s"gen-0 pinned gate drifted from batch labels for $id")
    }
    // gen 1: a DOCTORED label table (every keeper shifted by +1000000)
    // — a fresh gate run must resolve it, proving the swap is real and
    // the static side is not silently memoized across generations
    val doctored = ClusterStore.readLabels(spark, root, 0)
      .select(col("doc_id"), (col("keeper_id") + 1000000L).as("keeper_id"),
        col("cluster_size"))
    assert(ClusterStore.publishGeneration(spark, root, doctored) == 1L)
    assert(ClusterStore.currentGeneration(root).contains(1L))
    val gen1 = runGate("gen1gate")
    live.foreach { case (id, keeper) =>
      assert(gen1.get(id).contains(keeper + 1000000L),
        s"gen-1 swap not observed for $id: got ${gen1.get(id)}")
    }
    // retirement keeps the newest
    assert(ClusterStore.retireOld(root, keep = 1) == Seq(0L))
    assert(ClusterStore.committedGenerations(root) == Seq(1L))
  }

  test("ClusterStore.relabelDelta: a recompute-published merge emits exactly the bridged docs") {
    import spark.implicits._
    import graft.storage.ClusterStore
    // ingest → recompute → publish, in miniature: gen 0 clusters the
    // corpus BEFORE a bridge doc lands; gen 1 is the periodic batch
    // recompute AFTER — the merge ClusterAssignStream's scaladoc defers
    // to the recompute. relabelDelta must emit exactly the docs whose
    // keeper moved: the absorbed cluster's members and the bridge
    // itself — never the surviving cluster or the untouched control.
    //
    // Shingle geometry (ShingleSize=3, JaccardMin=0.8): base = 20
    // tokens (18 shingles). X/Y = base + disjoint 4-token suffixes
    // (22 shingles): J(X,Y) = 18/26 ≈ 0.69 < 0.8 — no edge, separate
    // clusters. X2/Y2 = X/Y + one token: J = 22/23 ≈ 0.96 — paired.
    // Bridge Z = base alone: J(Z,X) = J(Z,Y) = 18/22 ≈ 0.82 ≥ 0.8 —
    // one verified edge into EACH cluster, so the components unify
    // transitively though X and Y never pair directly.
    def toks(tag: String, n: Int, seed: Int) =
      (0 until n).map(i => s"grb$tag${seed}x${i}t")
    // minhash banding is probabilistic at J≈0.82 (≈99% per pair):
    // pick the first seed whose band keys collide for every needed
    // candidate pair, so the spec is deterministic forever after
    val seed = (0 until 64).find { s =>
      val base = toks("c", 20, s)
      val x = (base ++ toks("sx", 4, s)).mkString(" ")
      val y = (base ++ toks("sy", 4, s)).mkString(" ")
      val z = base.mkString(" ")
      Seq(x, y).forall(v =>
        bandKeysOf(z).intersect(bandKeysOf(v)).nonEmpty)
    }.get
    val base = toks("c", 20, seed)
    val xT = (base ++ toks("sx", 4, seed)).mkString(" ")
    val yT = (base ++ toks("sy", 4, seed)).mkString(" ")
    val x2T = xT + s" grbex${seed}a"
    val y2T = yT + s" grbey${seed}b"
    val wT = toks("w", 20, seed).mkString(" ")
    val w2T = wT + s" grbew${seed}c"
    val zT = base.mkString(" ")
    def corpusDir(withBridge: Boolean): String = {
      val docs = Seq(
        (1L, xT), (5L, x2T), (2L, yT), (6L, y2T), (3L, wT), (4L, w2T)) ++
        (if (withBridge) Seq((9L, zT)) else Nil)
      val dir = tmp("graft-relabel-corpus")
      docs.map { case (id, tx) => (id, tx, "en", "plant", tx.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      dir
    }
    val root = tmp("graft-relabel-store")
    val t0 = graft.Tables(spark, corpusDir(withBridge = false))
    val t1 = graft.Tables(spark, corpusDir(withBridge = true))
    assert(ClusterStore.publishFrom(t0, root) == 0L)
    // sanity: gen 0 is three two-doc clusters
    val gen0 = ClusterStore.readLabels(spark, root, 0)
      .select(col("doc_id"), col("keeper_id"))
      .as[(Long, Long)].collect().toMap
    assert(gen0 == Map(1L -> 1L, 5L -> 1L, 2L -> 2L, 6L -> 2L,
      3L -> 3L, 4L -> 3L), s"gen-0 fixture drifted: $gen0")
    assert(ClusterStore.publishFrom(t1, root) == 1L)
    val gen1 = ClusterStore.readLabels(spark, root, 1)
      .select(col("doc_id"), col("keeper_id"))
      .as[(Long, Long)].collect().toMap
    assert(gen1 == Map(1L -> 1L, 5L -> 1L, 2L -> 1L, 6L -> 1L,
      9L -> 1L, 3L -> 3L, 4L -> 3L), s"gen-1 merge drifted: $gen1")
    // the delta: exactly the absorbed cluster (2, 6: keeper 2 → 1) and
    // the bridge (9: newly clustered); the surviving cluster's docs
    // (1, 5) and the control pair (3, 4) never appear
    val delta = ClusterStore.relabelDelta(spark, root, 0, 1)
      .as[(Long, Option[Long], Option[Long])].collect().toSeq
    assert(delta == Seq(
      (2L, Some(2L), Some(1L)),
      (6L, Some(2L), Some(1L)),
      (9L, None, Some(1L))), s"delta: $delta")
  }

  test("ClusterAssignStream verify gate ≡ batch round6 threshold at the boundary") {
    import Jobs.ClusterAssignStream.verifies
    // A raw Jaccard in [0.7999995, 0.8) rounds UP to the threshold at
    // 6 dp — the batch engines (Spark round6 Column, DuckDB round6Sql)
    // both verify it. The previous raw-epsilon stream compare
    // (x >= 0.8 - 1e-12) rejected this window in the stream only.
    assert(verifies(1599999, 1799999, 1800000)) // 1599999/2000000 = 0.7999995
    assert(!verifies(1599998, 1799999, 1799999)) // 0.799999 stays below
    assert(verifies(4, 5, 4))   // exactly 0.8
    assert(!verifies(3, 4, 4))  // 0.6
    // and the stream predicate is bit-identical to the batch Column form
    val cases = Seq((1599999, 1799999, 1800000), (1599998, 1799999, 1799999),
      (4, 5, 4), (3, 4, 4), (7, 8, 9), (9, 10, 10))
    cases.foreach { case (c, na, nb) =>
      val batch = spark.range(1).select(
        (graft.functions.Portable.round6(
          lit(c.toDouble) / lit((na + nb - c).toDouble)) >=
          lit(graft.dedup.Dedup.JaccardMin)).as("v"))
        .collect()(0).getBoolean(0)
      assert(batch == verifies(c, na, nb), s"diverged on ($c, $na, $nb)")
    }
  }

  test("CorpusNearDupGate: streamed intake over the corpus ≡ batch candidates + self") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    val gate = Jobs.CorpusNearDupGate.matches(
      in.toDF().toDF("ts", "doc_id", "text"), tables)
    val q = gate.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gate").start()
    try {
      val docs = tables.documents
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      in.addData(docs.map { case (id, tx) => (new Timestamp(1000L), id, tx) }.toSeq)
      q.processAllAvailable()
      val got = spark.table("gate").select("doc_id", "corpus_doc")
        .as[(Long, Long)].collect().toSet
      // every shingle-able doc collides with itself on every band
      docs.filter(_._2.split(" ").length >= 3).foreach { case (id, _) =>
        assert(got.contains((id, id)), s"doc $id missed its own bands")
      }
      // cross matches are exactly the batch band-join candidates (both
      // directions: the gate joins stream x corpus unordered)
      val batch = graft.dedup.Dedup.dedupMinhash(tables).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.filter { case (a, b) => a != b } ==
        batch.flatMap { case (a, b) => Seq((a, b), (b, a)) })
    } finally q.stop()
  }

  test("SubstringGateStream: corpus replay ≡ batch spans; novel verbatim quote localized; sub-K silent") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    val out = Jobs.SubstringGateStream.spans(
      in.toDF().toDF("ts", "doc_id", "text"), tables,
      watermarkLag = "0 seconds", windowLen = "1 hour")
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("substr_gate").start()
    try {
      val docs = tables.documents
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      // a novel doc quoting 14 consecutive tokens of the longest corpus
      // doc (→ one span [3, 16]), and a sub-K 8-token quote (→ silent)
      val host = docs.maxBy(_._2.split(" ").length)
      val hostToks = host._2.split(" ")
      assert(hostToks.length >= 20)
      val quote14 = hostToks.take(14).mkString(" ")
      val quote8 = hostToks.take(8).mkString(" ")
      val novel = 900000L -> s"nv0 nv1 nv2 $quote14 nv3 nv4 nv5 nv6 nv7 nv8"
      val small = 900001L -> s"nv9 nva nvb $quote8 nvc nvd nve nvf nvg nvh nvi"
      in.addData((docs.toSeq :+ novel :+ small)
        .map { case (id, tx) => (new Timestamp(1000L), id, tx) })
      q.processAllAvailable()
      // advance the watermark past the event window so finals emit —
      // the tick doc must CLEAR the ≥ K-token gate (the size filter is
      // pushed below the event-time collector, so a short tick would
      // never reach the watermark node); its 12 unique tokens match no
      // corpus window, so the semi-join drops it and no row emits
      in.addData(Seq((new Timestamp(100L * 3600 * 1000), -1L,
        (0 until 12).map(i => s"tick$i").mkString(" "))))
      q.processAllAvailable()
      val got = spark.table("substr_gate")
        .select(col("doc_id"), explode(col("spans")).as("sp"))
        .select(col("doc_id"), col("sp.span_start"), col("sp.span_end"))
        .as[(Long, Long, Long)].collect().toSet
      val batch = graft.dedup.Substring.substringSpans(tables).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // replayed corpus docs reproduce the batch spans EXACTLY (the
      // self-exclusion in the gate join makes "already in the corpus"
      // mean some OTHER doc, same as the batch distinct-doc criterion)
      assert(got.filter(_._1 < 900000L) == batch,
        s"stream-vs-batch diff: ${(got.filter(_._1 < 900000L) diff batch) ++ (batch diff got)}")
      // the novel quote is localized to exactly the quoted token range:
      // 14 quoted tokens at positions 3..16 hold 3 duplicated K-windows
      // (starts 3..5) → one merged span [3, 16]
      assert(got.filter(_._1 == 900000L) == Set((900000L, 3L, 16L)),
        s"got ${got.filter(_._1 == 900000L)}")
      // 8 < K tokens shared → no window matches, no span, no row
      assert(!got.exists(_._1 == 900001L))
      // dup_tokens sums the merged spans
      val dt = spark.table("substr_gate").where(col("doc_id") === 900000L)
        .select("dup_tokens").as[Long].collect().toSeq
      assert(dt == Seq(14L), s"got $dt")
    } finally q.stop()
  }

  test("ChunkDupGateStream: corpus replay ≡ batch dup verdicts; shifted quote flagged; sub-grid quote silent") {
    import spark.implicits._
    import graft.pipeline.Chunking
    // planted corpus: doc 1 = passage P (64 tokens) + 48-token tail →
    // chunks 0 (= P verbatim) and 1; doc 2 = P alone (one chunk); doc 3
    // unrelated — so P is the one chunk text held by ≥ 2 distinct docs
    val dir = tmp("graft-chunkgate")
    val p = (0 until 64).map(i => s"pass$i")
    val corpus = Seq(
      (1L, (p ++ (0 until 48).map(i => s"tail$i")).mkString(" ")),
      (2L, p.mkString(" ")),
      (3L, (0 until 64).map(i => s"uniq$i").mkString(" ")))
    corpus.map { case (id, tx) => (id, "web", tx, tx.length.toLong) }
      .toDF("doc_id", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t = graft.Tables(spark, dir)

    val in = MemoryStream[(Timestamp, Long, String)]
    val q = Jobs.ChunkDupGateStream
      .flagged(in.toDF().toDF("ts", "doc_id", "text"), t)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("chunk_gate").start()
    try {
      // the corpus replayed, a novel doc quoting P at a SHIFTED grid
      // position (48 junk + P → its chunk 1 IS P), and a sub-grid
      // 32-token quote of P that aligns with no stored chunk text
      in.addData(corpus.map { case (id, tx) => (new Timestamp(1000L), id, tx) })
      in.addData(Seq(
        (new Timestamp(1000L), 900000L,
          ((0 until 48).map(i => s"junk$i") ++ p).mkString(" ")),
        (new Timestamp(1000L), 900001L,
          ((0 until 16).map(i => s"oth$i") ++ p.take(32) ++
            (0 until 16).map(i => s"sub$i")).mkString(" "))))
      q.processAllAvailable()
      val got = spark.table("chunk_gate")
        .select("doc_id", "chunk_idx", "tok_start", "n_tok")
        .as[(Long, Long, Long, Long)].collect().toSet
      // batch duplicated-chunk verdicts: a replayed chunk is flagged iff
      // its text occurs in ≥ 2 distinct corpus docs — the gate's
      // self-exclusion makes "some OTHER doc holds it" coincide with the
      // chunkDupStats dup criterion on a replay
      val ch = Chunking.docChunks(t)
      val dup = ch.groupBy(col("chunk_text"))
        .agg(countDistinct(col("doc_id")).as("nd")).where(col("nd") >= 2)
        .select(col("chunk_text"))
      val batch = ch.join(dup, Seq("chunk_text"), "left_semi")
        .select("doc_id", "chunk_idx", "tok_start", "n_tok")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(batch == Set((1L, 0L, 0L, 64L), (2L, 0L, 0L, 64L)),
        s"plant broke: $batch") // non-vacuous: the dup pair exists
      assert(got.filter(_._1 < 900000L) == batch,
        s"replay ${got.filter(_._1 < 900000L)} != batch $batch")
      // doc 3's own chunk is IN the store — self-exclusion keeps it silent
      assert(!got.exists(_._1 == 3L))
      // the novel quote is caught at its shifted chunk position, with
      // span evidence the consumer can excise by
      assert(got.filter(_._1 == 900000L) == Set((900000L, 1L, 48L, 64L)),
        s"got ${got.filter(_._1 == 900000L)}")
      // a quote smaller than the grid never equals a stored chunk text
      assert(!got.exists(_._1 == 900001L))
    } finally q.stop()
  }

  test("ChunkSemanticGateStream: paraphrase caught at intake; verbatim is the hash gate's; one row per pair") {
    import spark.implicits._
    // the ChunkSemanticSpec plant: doc 1 = passage paraA (one chunk),
    // doc 2 = 48 junk + paraB (paraA with 2 token edits — its chunk 1
    // is a PARAPHRASE of doc 1's chunk 0), doc 3 unrelated. The batch
    // entry scores the (1,0)-(2,1) pair cos 0.964901.
    val paraA = (0 until 64).map(i => s"para$i")
    val paraB = paraA.updated(10, "ed1a").updated(30, "ed1b")
    val dir = tmp("graft-chunksemgate")
    val corpus = Seq(
      (1L, paraA.mkString(" ")),
      (2L, ((0 until 48).map(i => s"junk$i") ++ paraB).mkString(" ")),
      (3L, (0 until 64).map(i => s"uniq$i").mkString(" ")))
    corpus.map { case (id, tx) => (id, "web", tx, tx.length.toLong) }
      .toDF("doc_id", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t = graft.Tables(spark, dir)

    val in = MemoryStream[(Timestamp, Long, String)]
    val q = Jobs.ChunkSemanticGateStream
      .flagged(in.toDF().toDF("ts", "doc_id", "text"), t)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("chunksem_gate").start()
    try {
      // the corpus replayed; a PERMUTED verbatim copy of paraA
      // (embedding-identical — collides in ALL band tables, md5
      // distinct); a verbatim paraA copy (md5-identical to doc 1's
      // chunk — the HASH gate's province); a half-overlap doc below
      // the cosine threshold
      in.addData(corpus.map { case (id, tx) => (new Timestamp(1000L), id, tx) })
      in.addData(Seq(
        (new Timestamp(1000L), 900000L,
          (paraA.drop(1) :+ paraA.head).mkString(" ")),
        (new Timestamp(1000L), 900002L, paraA.mkString(" ")),
        (new Timestamp(1000L), 900001L,
          (paraA.take(32) ++ (0 until 32).map(i => s"half$i")).mkString(" "))))
      q.processAllAvailable()
      val got = spark.table("chunksem_gate")
        .select("doc_id", "chunk_idx", "corpus_doc", "corpus_chunk", "cos_sim")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq.sorted
      val c = 0.964901 // pinned by ChunkSemanticSpec ≡ JVM recompute
      assert(got == Seq(
        // corpus replay = the batch pair, seen from each side once
        // (self-exclusion hides each doc's own stored chunk)
        (1L, 0L, 2L, 1L, c),
        (2L, 1L, 1L, 0L, c),
        // the permuted copy: cos 1.0 vs doc 1, cos c vs doc 2's
        // paraphrase — ONE row each despite colliding in all four
        // tables (the first-match dedup; a duplicate would show here)
        (900000L, 0L, 1L, 0L, 1.0),
        (900000L, 0L, 2L, 1L, c),
        // the verbatim copy: md5-EXCLUDED vs doc 1 (the hash gate's
        // verdict, not ours) but still a semantic match vs doc 2
        (900002L, 0L, 2L, 1L, c)),
        s"got $got")
      // nothing for the unrelated doc or the sub-threshold overlap
      assert(!got.exists(r => r._1 == 3L || r._1 == 900001L))
    } finally q.stop()
  }

  test("ChunkSemanticGateStream.verdicts: corpus replay ≡ batch doc_semantic_dup_frac; planted paraphrase drops") {
    import spark.implicits._
    // the ChunkSemanticSpec plant corpus (doc 1 holds paraA; doc 2's
    // chunk 1 paraphrases it; doc 3 unrelated)
    val paraA = (0 until 64).map(i => s"para$i")
    val paraB = paraA.updated(10, "ed1a").updated(30, "ed1b")
    val dir = tmp("graft-chunksemverd")
    val corpus = Seq(
      (1L, paraA.mkString(" ")),
      (2L, ((0 until 48).map(i => s"junk$i") ++ paraB).mkString(" ")),
      (3L, (0 until 64).map(i => s"uniq$i").mkString(" ")))
    corpus.map { case (id, tx) => (id, "en", "web", tx, tx.length.toLong) }
      .toDF("doc_id", "lang", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t = graft.Tables(spark, dir)
    // the searched 3-edit paraphrase of paraA (offline against the
    // same md5 SRP matrix): table 1 still collides with doc 1's chunk
    // (cos 0.952579) and doc 2's paraphrase chunk (cos 0.951972)
    val plant = paraA.updated(10, "zq14x").updated(30, "zq23x")
      .updated(50, "zq45x").mkString(" ")

    val in = MemoryStream[(Timestamp, Long, String)]
    val out = Jobs.ChunkSemanticGateStream.verdicts(
      in.toDF().toDF("ts", "doc_id", "text"), t,
      watermarkLag = "0 seconds", windowLen = "1 hour")
    val q = out.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("chunksem_verd").start()
    try {
      in.addData((corpus :+ (900000L -> plant))
        .map { case (id, tx) => (new Timestamp(1000L), id, tx) })
      q.processAllAvailable()
      // tick to close the event window — the tick's own window never
      // closes, so it emits no verdict row
      in.addData(Seq((new Timestamp(100L * 3600 * 1000), -1L, "tick")))
      q.processAllAvailable()
      val got = spark.table("chunksem_verd")
        .select("doc_id", "n_chunks", "dup_chunks", "dup_frac", "verdict")
        .as[(Long, Long, Long, Double, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      val batch = graft.pipeline.ChunkSemantic.docSemanticDupFrac(t)
        .as[(Long, Long, Long, Double, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      // non-vacuous: the batch drops doc 2 (its later-side paraphrase
      // chunk is 1 of its 2) and keeps docs 1 and 3 (keep-first)
      assert(batch(2L) == ((2L, 1L, 0.5, "drop")), s"plant broke: $batch")
      assert(batch(1L)._4 == "keep" && batch(3L)._4 == "keep")
      // corpus replay ≡ batch, every column
      assert(got.view.filterKeys(k => k >= 0 && k < 900000L).toMap == batch,
        s"stream ${got.view.filterKeys(_ < 900000L).toMap} != batch $batch")
      // the planted paraphrasing doc: its single chunk duplicates
      // EARLIER corpus content → dup_frac 1.0 → dropped at intake
      assert(got(900000L) == ((1L, 1L, 1.0, "drop")),
        s"got ${got.get(900000L)}")
    } finally q.stop()
  }

  test("ChunkSemanticGateStream: firstMatch skips a flood-dropped table — the pair still emits, once") {
    import spark.implicits._
    // ADVICE r19: plant a store whose chunk is ADMITTED only at tables
    // 1 and 3 (0 and 2 flood-dropped at build — the BandBitsMax +
    // residual non-identical-vector flood regime). A firstMatch from
    // sign agreement alone points at table 0, where no store row
    // exists, and the pair silently vanishes; the admitted-mask ladder
    // must emit it exactly once, at table 1.
    val txt = (0 until 64).map(i => s"para$i").mkString(" ")
    val bits = graft.pipeline.ChunkSemantic.BandBitsMax
    val one = Seq((7L, 0)).toDF("corpus_doc", "corpus_chunk")
      .withColumn("ch", md5(lit(txt)))
      .withColumn("cv", graft.functions.TextFunctions.hashFeatureVec(
        split(lit(txt), " "), graft.pipeline.ChunkSemantic.Dims))
      .withColumn("cw", array((0 until graft.pipeline.ChunkSemantic.NumTables)
        .map(j => graft.functions.TextFunctions.srpWord16(col("cv"), j)): _*))
      .withColumn("adm", array(lit(1), lit(3)))
    val store = one
      .select(col("corpus_doc"), col("corpus_chunk"), col("ch"), col("cv"),
        col("cw"), col("adm"), explode(array(lit(1), lit(3))).as("tbl"))
      .withColumn("bkt", element_at(col("cw"), col("tbl") + 1))
    // a PERMUTED copy: embedding-identical — its words AGREE at all
    // four tables — while md5-distinct (h ≠ ch passes)
    val probe = ((0 until 64).map(i => s"para$i").drop(1) :+ "para0")
      .mkString(" ")
    val in = MemoryStream[(Timestamp, Long, String)]
    val q = Jobs.ChunkSemanticGateStream
      .flaggedAgainst(in.toDF().toDF("ts", "doc_id", "text"), bits, store)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("chunksem_adm").start()
    try {
      in.addData(Seq((new Timestamp(1000L), 900L, probe)))
      q.processAllAvailable()
      val got = spark.table("chunksem_adm")
        .select("doc_id", "chunk_idx", "corpus_doc", "corpus_chunk", "cos_sim")
        .as[(Long, Long, Long, Long, Double)].collect().toSeq
      assert(got == Seq((900L, 0L, 7L, 0L, 1.0)), s"got $got")
    } finally q.stop()
  }

  test("IntakeSamplerStream: a planted paraphrase doc is refused at the semdup gate; batch agrees") {
    import spark.implicits._
    // the verdicts-test corpus and plant: the 3-edit paraphrase dodges
    // exact dup (md5 differs), quality (0.87), repetition (distinct
    // bigrams), the minhash bands (no shared band key — searched) and
    // containment (0.854839 < 0.9) — ONLY the SemDeDup gate can refuse
    // it, and it must (its single chunk duplicates doc 1's, dup_frac
    // 1.0 ≥ 0.5)
    val paraA = (0 until 64).map(i => s"para$i")
    val paraB = paraA.updated(10, "ed1a").updated(30, "ed1b")
    val corpus = Seq(
      (1L, paraA.mkString(" ")),
      (2L, ((0 until 48).map(i => s"junk$i") ++ paraB).mkString(" ")),
      (3L, (0 until 64).map(i => s"uniq$i").mkString(" ")))
    val plant = paraA.updated(10, "zq14x").updated(30, "zq23x")
      .updated(50, "zq45x").mkString(" ")
    def writeDocs(dir: String, docs: Seq[(Long, String)]): graft.Tables = {
      docs.map { case (id, tx) => (id, "en", "web", tx, tx.length.toLong) }
        .toDF("doc_id", "lang", "source", "text", "n_chars")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      graft.Tables(spark, dir)
    }
    val t = writeDocs(tmp("graft-semintake"), corpus)

    val in = MemoryStream[(Timestamp, Long, String, String)]
    val vds = Jobs.IntakeSamplerStream.verdicts(
      in.toDF().toDF("ts", "doc_id", "lang", "text"), t)
    val q = vds.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("intake_semdup").start()
    try {
      val t1 = new Timestamp(1000L)
      in.addData(corpus.map { case (id, tx) => (t1, id, "en", tx) })
      q.processAllAvailable()
      in.addData(Seq((t1, 900000L, "en", plant)))
      q.processAllAvailable()
      in.addData(Seq((new Timestamp(10000L * 1000), -1L, "en", "x y")))
      q.processAllAvailable()
      val got = spark.table("intake_semdup")
        .filter(col("doc_id") === 900000L)
        .select(col("verdict")).as[String].collect().toSeq
      assert(got == Seq("semdup"), s"got $got")
      // the nightly batch recompute over corpus ∪ plant reaches the
      // SAME verdict — stream ≡ batch on the refusal
      val tAug = writeDocs(tmp("graft-semintake-aug"),
        corpus :+ (900000L -> plant))
      val batchV = graft.pipeline.Intake.corpusAdmitVerdicts(tAug)
        .filter(col("doc_id") === 900000L)
        .select(col("verdict")).as[String].collect().toSeq
      assert(batchV == Seq("semdup"), s"batch says $batchV")
    } finally q.stop()
  }

  test("pinned-generation gates: a RUNNING gate rides out a store roll; a restart flips verdicts") {
    import spark.implicits._
    import graft.dedup.Substring
    import graft.pipeline.Chunking
    // gen 0: one base doc. The probe is a verbatim copy of a doc that
    // only arrives in the GROWTH batch — flagged nowhere at gen 0,
    // everywhere at gen 1.
    val dir = tmp("graft-genroll")
    val k = Substring.SpanK
    val base = (0 until 20).map(i => s"base$i").mkString(" ")
    val probe = (0 until 64).map(i => s"qq$i").mkString(" ")
    Seq((1L, "web", base, base.length.toLong))
      .toDF("doc_id", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t = graft.Tables(spark, dir)

    // the semantic gate's probe is a PERMUTED copy (embedding-identical,
    // md5-distinct — a verbatim copy would be h-excluded by design)
    val probePerm = ((0 until 64).map(i => s"qq$i").drop(1) :+ "qq0")
      .mkString(" ")

    val inC = MemoryStream[(Timestamp, Long, String)]
    val qc = Jobs.ChunkDupGateStream
      .flagged(inC.toDF().toDF("ts", "doc_id", "text"), t)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("roll_chunk").start()
    val inS = MemoryStream[(Timestamp, Long, String)]
    val qs = Jobs.SubstringGateStream
      .flagged(inS.toDF().toDF("ts", "doc_id", "text"), t)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("roll_substr").start()
    val inM = MemoryStream[(Timestamp, Long, String)]
    val qm = Jobs.ChunkSemanticGateStream
      .flagged(inM.toDF().toDF("ts", "doc_id", "text"), t)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("roll_sem").start()
    try {
      inC.addData(Seq((new Timestamp(1000L), 500L, probe)))
      inS.addData(Seq((new Timestamp(1000L), 500L, probe)))
      inM.addData(Seq((new Timestamp(1000L), 500L, probePerm)))
      qc.processAllAvailable(); qs.processAllAvailable()
      qm.processAllAvailable()
      assert(spark.table("roll_chunk").count() == 0)
      assert(spark.table("roll_substr").count() == 0)
      assert(spark.table("roll_sem").count() == 0)

      // the corpus GROWS by the quoted doc, and the maintenance path
      // commits gen 1 in ALL THREE stores while the gates still run
      Seq((9L, "web", probe, probe.length.toLong))
        .toDF("doc_id", "source", "text", "n_chars")
        .write.mode("append").parquet(s"$dir/documents.parquet")
      assert(Chunking.corpusChunkStorePinned(t)._1 == 1L)
      assert(Substring.corpusWindowStorePinned(t)._1 == 1L)
      assert(graft.pipeline.ChunkSemantic.corpusVecBandsPinned(t)._1 == 1L)

      // the RUNNING queries keep serving their immutable pinned gen-0
      // chains — the roll is observed only on restart
      inC.addData(Seq((new Timestamp(2000L), 501L, probe)))
      inS.addData(Seq((new Timestamp(2000L), 501L, probe)))
      inM.addData(Seq((new Timestamp(2000L), 501L, probePerm)))
      qc.processAllAvailable(); qs.processAllAvailable()
      qm.processAllAvailable()
      assert(spark.table("roll_chunk").count() == 0,
        "running chunk gate observed a mid-run store roll")
      assert(spark.table("roll_substr").count() == 0,
        "running substring gate observed a mid-run store roll")
      assert(spark.table("roll_sem").count() == 0,
        "running semantic gate observed a mid-run store roll")
    } finally { qc.stop(); qs.stop(); qm.stop() }

    // restart: flagged() re-resolves to the grown generation — the
    // SAME probe text now flags everywhere
    val inC2 = MemoryStream[(Timestamp, Long, String)]
    val qc2 = Jobs.ChunkDupGateStream
      .flagged(inC2.toDF().toDF("ts", "doc_id", "text"), t)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("roll_chunk2").start()
    val inS2 = MemoryStream[(Timestamp, Long, String)]
    val qs2 = Jobs.SubstringGateStream
      .flagged(inS2.toDF().toDF("ts", "doc_id", "text"), t)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("roll_substr2").start()
    val inM2 = MemoryStream[(Timestamp, Long, String)]
    val qm2 = Jobs.ChunkSemanticGateStream
      .flagged(inM2.toDF().toDF("ts", "doc_id", "text"), t)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("roll_sem2").start()
    try {
      inC2.addData(Seq((new Timestamp(3000L), 502L, probe)))
      inS2.addData(Seq((new Timestamp(3000L), 502L, probe)))
      inM2.addData(Seq((new Timestamp(3000L), 502L, probePerm)))
      qc2.processAllAvailable(); qs2.processAllAvailable()
      qm2.processAllAvailable()
      val chunkHits = spark.table("roll_chunk2")
        .select("doc_id", "chunk_idx").as[(Long, Long)].collect().toSet
      assert(chunkHits == Set((502L, 0L)), s"restarted chunk gate: $chunkHits")
      // every K-window of the verbatim copy matches doc 9: 64−K+1 starts
      val subHits = spark.table("roll_substr2")
        .select("pos").as[Long].collect().sorted.toSeq
      assert(subHits == (0L to (64 - k).toLong),
        s"restarted substring gate: $subHits")
      // the permuted copy is embedding-identical to doc 9's chunk
      val semHits = spark.table("roll_sem2")
        .select("doc_id", "corpus_doc", "cos_sim")
        .as[(Long, Long, Double)].collect().toSeq
      assert(semHits == Seq((502L, 9L, 1.0)), s"restarted semantic gate: $semHits")
    } finally { qc2.stop(); qs2.stop(); qm2.stop() }
  }

  test("ContainmentGate: corpus replay ≡ batch dedup_containment; quote caught at intake") {
    import spark.implicits._
    // corpus: a 60-token doc (1), a 20-token verbatim quote of it (2),
    // an unrelated doc (3), and a 6-token quote (4) below the
    // min-shingle floor. Jaccard misses (1,2) — union is dominated by
    // doc 1 — but containment is 1.0: exactly the asymmetric shape the
    // gate exists for.
    val big = (0 until 60).map(i => s"w$i").mkString(" ")
    val quote = (10 until 30).map(i => s"w$i").mkString(" ")
    val tiny = (0 until 6).map(i => s"w$i").mkString(" ")
    val unrelated = (0 until 20).map(i => s"a$i").mkString(" ")
    val dir = tmp("graft_containgate")
    Seq((1L, big), (2L, quote), (3L, unrelated), (4L, tiny))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val t = graft.Tables(spark, dir)
    val batch = graft.dedup.Dedup.dedupContainment(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    assert(batch.map(p => (p._1, p._2)) == Set((1L, 2L)),
      s"fixture drifted: $batch") // the planted inclusion, nothing else
    val in = MemoryStream[(Timestamp, Long, String)]
    val gate = Jobs.ContainmentGate.matches(
      in.toDF().toDF("ts", "doc_id", "text"), t)
      .toDF("doc_id", "corpus_doc", "containment")
    val q = gate.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("containgate").start()
    try {
      in.addData(Seq((new Timestamp(1000L), 1L, big),
        (new Timestamp(1000L), 2L, quote),
        (new Timestamp(1000L), 3L, unrelated),
        (new Timestamp(1000L), 4L, tiny),
        // a NOVEL quote (not in the corpus): w30..w49 ⊂ doc 1
        (new Timestamp(1000L), 5L,
          (30 until 50).map(i => s"w$i").mkString(" "))))
      q.processAllAvailable()
      // push the watermark past every pending event-time timeout
      in.addData(Seq((new Timestamp(40000L), 900001L,
        "zyx wvu tsr qpo nml kji hgf edc ba")))
      q.processAllAvailable()
      in.addData(Seq((new Timestamp(200000L), 900002L,
        "another unrelated closing paragraph entirely")))
      q.processAllAvailable()
      val got = spark.table("containgate")
        .as[(Long, Long, Double)].collect().toSet
      // corpus replay: cross matches = batch pairs, both orientations
      val cross = got.filter { case (a, b, _) =>
        a != b && a <= 4L }
      assert(cross == batch.flatMap { case (a, b, c) =>
        Seq((a, b, c), (b, a, c)) },
        s"stream/batch drift: $cross vs $batch")
      // self-matches at containment 1.0 for every doc above the floor
      for (id <- Seq(1L, 2L, 3L))
        assert(got.contains((id, id, 1.0)), s"doc $id missed itself: $got")
      // the below-floor doc emits nothing at all
      assert(!got.exists(r => r._1 == 4L || r._2 == 4L),
        s"sub-floor doc leaked: $got")
      // the novel intake quote is caught against the corpus original
      assert(got.contains((5L, 1L, 1.0)),
        s"novel quote escaped the gate: $got")
    } finally q.stop()
  }

  test("ContainmentGate salting spreads a max-fan-out whale across state shards; merged result unchanged") {
    import spark.implicits._
    // 20 IDENTICAL corpus docs: every one of the body's 118 shingles
    // has posting fan-out 20 (≤ the doc-freq cap of 100), so an
    // arriving copy of the body is the max-fan-out whale — its
    // accumulation is 118 shingles × 20 corpus docs
    val body = (0 until 120).map(i => s"v$i").mkString(" ")
    val dir = tmp("graft_containwhale")
    (1L to 20L).map(i => (i, body)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val t = graft.Tables(spark, dir)

    def drain(q: org.apache.spark.sql.streaming.StreamingQuery,
              in: MemoryStream[(Timestamp, Long, String)]): Unit = {
      q.processAllAvailable()
      in.addData(Seq((new Timestamp(40000L), 900001L,
        "zz yy xx ww vv uu tt ss rr")))
      q.processAllAvailable()
      in.addData(Seq((new Timestamp(200000L), 900002L,
        "qq pp oo nn mm ll kk jj ii")))
      q.processAllAvailable()
    }

    // stage 1 observed directly: the whale's state is sharded, no
    // single (doc, salt) key holds more than a fraction of it
    val in1 = MemoryStream[(Timestamp, Long, String)]
    val parts = Jobs.ContainmentGate.saltedPartials(
      in1.toDF().toDF("ts", "doc_id", "text"), t)
    val q1 = parts.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("containwhale_parts").start()
    try {
      in1.addData(Seq((new Timestamp(1000L), 500L, body)))
      drain(q1, in1)
      val got = spark.table("containwhale_parts")
        .as[Jobs.ContainmentGate.ContainPartial].collect()
        .filter(_.docId == 500L)
      val totalOwn = got.map(_.nOwn).sum
      assert(totalOwn == 118, s"distinct shingles: $totalOwn") // 120 tokens
      assert(got.length > 1, "whale accumulated in ONE state shard")
      assert(got.map(_.nOwn).max <= totalOwn / 2,
        s"one shard holds most of the whale: ${got.map(_.nOwn).toSeq}")
      // shard hit counts are bounded by the shard's own share — the
      // per-key state row bound the salting exists for
      got.foreach { p =>
        p.hits.foreach { case (_, _, common) => assert(common <= p.nOwn) }
      }
      // and the shards partition the evidence exactly: per corpus doc,
      // shard commons sum back to the full 118-shingle overlap
      val byCd = got.flatMap(_.hits).groupBy(_._1)
        .view.mapValues(_.map(_._3).sum).toMap
      assert(byCd.keySet == (1L to 20L).toSet, byCd.toString)
      assert(byCd.values.forall(_ == 118), byCd.toString)
    } finally q1.stop()

    // end-to-end: the merge stage reassembles the exact decision — the
    // whale is contained in every corpus copy at 1.0
    val in2 = MemoryStream[(Timestamp, Long, String)]
    val gate = Jobs.ContainmentGate.matches(
      in2.toDF().toDF("ts", "doc_id", "text"), t)
      .toDF("doc_id", "corpus_doc", "containment")
    val q2 = gate.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("containwhale_gate").start()
    try {
      in2.addData(Seq((new Timestamp(1000L), 500L, body)))
      drain(q2, in2)
      val got = spark.table("containwhale_gate")
        .as[(Long, Long, Double)].collect().filter(_._1 == 500L).toSet
      assert(got == (1L to 20L).map(cd => (500L, cd, 1.0)).toSet, got.toString)
    } finally q2.stop()
  }

  test("ClusterAssignStream salting spreads a planted verify whale; assignment unchanged") {
    import spark.implicits._
    // 12 NEAR-dup corpus docs (shared 59-token prefix, distinct tail):
    // distinct texts — no exact-dup collapse — sharing LSH bands and
    // pairwise jaccard 57/59 ≈ 0.966, so batch clusters them under
    // keeper 1. An arriving pure-prefix doc band-matches ALL of them:
    // the verify fan-out whale (12 corpus docs × ~57 common shingles).
    val base = (0 until 60).map(i => s"c$i")
    val dir = tmp("graft_clusterwhale")
    val docs = (1L to 12L)
      .map(i => (i, (base.dropRight(1) :+ s"tail$i").mkString(" ")))
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val t = graft.Tables(spark, dir)
    val batch = graft.dedup.Dedup.nearDupClusters(t).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch == (1L to 12L).map(_ -> 1L).toMap,
      s"fixture drifted: $batch") // one cluster, keeper 1

    val whale = base.mkString(" ")
    val in1 = MemoryStream[(Timestamp, Long, String)]
    val parts = Jobs.ClusterAssignStream.saltedPartials(
      in1.toDF().toDF("ts", "doc_id", "text"), t)
    val q1 = parts.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("clusterwhale_parts").start()
    try {
      in1.addData(Seq((new Timestamp(1000L), 500L, whale)))
      q1.processAllAvailable()
      in1.addData(Seq((new Timestamp(40000L), 900001L,
        "zz yy xx ww vv uu tt ss rr")))
      q1.processAllAvailable()
      in1.addData(Seq((new Timestamp(200000L), 900002L,
        "qq pp oo nn mm ll kk jj ii")))
      q1.processAllAvailable()
      val got = spark.table("clusterwhale_parts")
        .as[Jobs.ClusterAssignStream.AssignPartial].collect()
        .filter(_.docId == 500L)
      assert(got.length > 1, "whale verify state sat in ONE shard")
      val byCd = got.flatMap(_.hits).groupBy(_._1)
        .view.mapValues(_.map(_._4).sum).toMap
      assert(byCd.keySet == (1L to 12L).toSet, byCd.toString)
      // whale ∩ doc_i = the 57 prefix shingles, reassembled exactly
      assert(byCd.values.forall(_ == 57), byCd.toString)
      val maxShardHits = got.map(_.hits.map(_._4).sum).max
      val totalHits = got.flatMap(_.hits.map(_._4)).sum
      assert(maxShardHits <= totalHits / 2,
        s"one shard holds most of the verify evidence: $maxShardHits/$totalHits")
    } finally q1.stop()

    // end-to-end: merged assignment = the batch cluster's keeper, all
    // 12 partners verified
    val in2 = MemoryStream[(Timestamp, Long, String)]
    val assigns = Jobs.ClusterAssignStream.assignments(
      in2.toDF().toDF("ts", "doc_id", "text"), t)
      .toDF("doc_id", "keeper_id", "n_verified")
    val q2 = assigns.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("clusterwhale_assigns").start()
    try {
      in2.addData(Seq((new Timestamp(1000L), 500L, whale)))
      q2.processAllAvailable()
      in2.addData(Seq((new Timestamp(40000L), 900001L,
        "zz yy xx ww vv uu tt ss rr")))
      q2.processAllAvailable()
      in2.addData(Seq((new Timestamp(200000L), 900002L,
        "qq pp oo nn mm ll kk jj ii")))
      q2.processAllAvailable()
      val got = spark.table("clusterwhale_assigns")
        .select("doc_id", "keeper_id", "n_verified")
        .as[(Long, Long, Int)].collect().filter(_._1 == 500L)
      assert(got.toSeq == Seq((500L, 1L, 12)), got.mkString(","))
    } finally q2.stop()
  }

  test("LmBucketStream: streamed intake buckets ≡ batch bounded ccnet; novel lang unbucketed") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String, String)]
    val bucketed = Jobs.LmBucketStream.buckets(
      in.toDF().toDF("ts", "doc_id", "lang", "text"), tables)
    val q = bucketed.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("lm_bucket_stream").start()
    try {
      val docs = tables.documents
        .select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)].collect()
      in.addData(docs.map { case (id, lang, tx) =>
        (new Timestamp(1000L), id, lang, tx) }.toSeq)
      // a novel-language doc: scored, but no boundary row exists
      in.addData(Seq((new Timestamp(1000L), 777777L, "xx",
        "some intake text in a language the corpus does not know")))
      q.processAllAvailable()
      in.addData(Seq((new Timestamp(10000L * 1000), -1L, "en", "x y")))
      q.processAllAvailable()
      val streamed = spark.table("lm_bucket_stream")
        .filter(col("doc_id") >= 0)
        .select(col("doc_id"), col("lm_score"), col("bucket"))
        .as[(Long, Double, String)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      val batch = graft.pipeline.Mixing.ccnetBucketBounded(tables)
        .select(col("doc_id"), col("lm_score"), col("bucket"))
        .as[(Long, Double, String)].collect()
        .map(r => r._1 -> (r._2, r._3)).toMap
      assert(batch.nonEmpty)
      // corpus replay: identical scores AND identical buckets, per doc
      batch.foreach { case (id, (score, bucket)) =>
        assert(streamed.get(id).contains((score, bucket)),
          s"doc $id: streamed ${streamed.get(id)}, batch ($score, $bucket)")
      }
      // the novel-lang doc was scored but deliberately not bucketed
      assert(streamed(777777L)._2 == "unbucketed", streamed(777777L).toString)
    } finally q.stop()
  }

  test("LmBucketStream pins a published bounds generation; swap is observable") {
    import spark.implicits._
    import graft.storage.BoundsStore
    val root = tmp("graft_boundsstore")
    // gen 0 = the batch boundary table: generation-pinned buckets must
    // be identical to the live-computed ones
    assert(BoundsStore.publishFrom(tables, root) == 0L)
    val docs = tables.documents
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect()
    def runStream(name: String): Map[Long, String] = {
      val in = MemoryStream[(Timestamp, Long, String, String)]
      val q = Jobs.LmBucketStream.buckets(
        in.toDF().toDF("ts", "doc_id", "lang", "text"), tables,
        boundsRoot = Some(root))
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(name).start()
      try {
        in.addData(docs.map { case (id, lang, tx) =>
          (new Timestamp(1000L), id, lang, tx) }.toSeq)
        q.processAllAvailable()
        in.addData(Seq((new Timestamp(10000L * 1000), -1L, "en", "x y")))
        q.processAllAvailable()
        spark.table(name).filter(col("doc_id") >= 0)
          .select(col("doc_id"), col("bucket"))
          .as[(Long, String)].collect().toMap
      } finally q.stop()
    }
    val batch = graft.pipeline.Mixing.ccnetBucketBounded(tables)
      .select(col("doc_id"), col("bucket"))
      .as[(Long, String)].collect().toMap
    val gen0 = runStream("bounds_gen0")
    batch.foreach { case (id, bucket) =>
      assert(gen0.get(id).contains(bucket),
        s"gen-0 pinned bucket drifted from batch for $id")
    }
    // gen 1: a DOCTORED boundary table (s1 unreachable, s2 below every
    // score) — every doc must land in 'middle', proving a fresh run
    // resolves the new generation rather than a memoized table
    val doctored = BoundsStore.readBounds(spark, root, 0)
      .select(col("lang"), lit(1e18).as("s1"), lit(-1e18).as("s2"))
    assert(BoundsStore.publishGeneration(spark, root, doctored) == 1L)
    assert(BoundsStore.currentGeneration(root).contains(1L))
    val gen1 = runStream("bounds_gen1")
    batch.keys.foreach { id =>
      assert(gen1.get(id).contains("middle"),
        s"gen-1 swap not observed for $id: got ${gen1.get(id)}")
    }
    // retirement keeps the newest
    assert(BoundsStore.retireOld(root, keep = 1) == Seq(0L))
    assert(BoundsStore.committedGenerations(root) == Seq(1L))
  }

  test("a rolled bounds generation unpersists the static frame of the one it displaced") {
    import spark.implicits._
    import graft.storage.BoundsStore
    import org.apache.spark.storage.StorageLevel
    val root = tmp("graft_bounds_roll")
    assert(BoundsStore.publishFrom(tables, root) == 0L)
    assert(BoundsStore.publishFrom(tables, root) == 1L)
    val in = MemoryStream[(Timestamp, Long, String, String)]
    def build(): DataFrame = Jobs.LmBucketStream.buckets(
      in.toDF().toDF("ts", "doc_id", "lang", "text"), tables,
      boundsRoot = Some(root))
    // storageLevel is the cache manager's lookup of the frame's plan
    def isCached(n: Long): Boolean =
      BoundsStore.readBounds(spark, root, n).storageLevel != StorageLevel.NONE
    build()
    assert(isCached(1L), "the pinned gen-1 static side is not persisted")
    assert(BoundsStore.publishFrom(tables, root) == 2L)
    build()
    assert(isCached(2L), "the rolled-to gen-2 static side is not persisted")
    assert(!isCached(1L), "the displaced gen-1 frame is still cached")
  }

  test("LmScoreStream: streamed intake scores ≡ batch lm_bigram_score exactly") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    val scored = Jobs.LmScoreStream.scores(
      in.toDF().toDF("ts", "doc_id", "text"), tables)
    val q = scored.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("lm_stream").start()
    try {
      val docs = tables.documents
        .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      in.addData(docs.map { case (id, tx) => (new Timestamp(1000L), id, tx) }.toSeq)
      q.processAllAvailable()
      // advance the watermark so the (ts, doc_id) groups finalize
      in.addData(Seq((new Timestamp(10000L * 1000), -1L, "x y")))
      q.processAllAvailable()
      val streamed = spark.table("lm_stream")
        .filter(col("doc_id") >= 0)
        .select(col("doc_id"), col("n_bigrams"), col("lm_score"))
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      val batch = graft.textanalysis.TextAnalysis.lmBigramScore(tables)
        .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
      assert(batch.nonEmpty)
      assert(streamed == batch) // fixed-point sums: EXACT equality, not ≈
    } finally q.stop()
  }

  test("SimhashCandidates per-row signature equals the batch aggregated one") {
    import spark.implicits._
    // per-occurrence ±1 HOF fold must equal the batch per-(doc, token)
    // count-weighted groupBy — pin the claim on real corpus docs
    val docs = tables.documents.limit(50)
      .select(current_timestamp().as("ts"), col("doc_id"), col("text"))
    val streamed = Jobs.SimhashCandidates.signatures(docs)
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    val batch = graft.dedup.Dedup.simhashSignatures(tables)
      .as[(Long, Long)].collect().toMap
    assert(streamed.nonEmpty)
    streamed.foreach { case (id, sig) => assert(batch(id) == sig, s"doc $id") }
  }

  test("SimhashCandidates: stream-stream band join surfaces hamming-close docs") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String)]
    val cand = Jobs.SimhashCandidates.candidates(
      in.toDF().toDF("ts", "doc_id", "text"))
    val q = cand.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sh_cand").start()
    try {
      val t = (s: Long) => new Timestamp(s * 1000)
      val dup = "the quick brown fox jumps over the lazy dog again and again"
      val other = "completely different words with no overlap whatsoever here now"
      in.addData(Seq((t(10), 1L, dup), (t(20), 2L, dup), (t(25), 3L, other)))
      q.processAllAvailable()
      in.addData(Seq((t(10000), 99L, "x y z"))) // advance watermark
      q.processAllAvailable()
      val pairs = spark.table("sh_cand").as[(Long, Long, Int)].collect()
        .map(r => (r._1, r._2)).toSet
      assert(pairs == Set((1L, 2L))) // identical docs (hamming 0) pair up
    } finally q.stop()
  }

  test("MinhashCandidates per-row signature equals the batch aggregated one") {
    import spark.implicits._
    // min over md5s is duplicate-insensitive, so the per-row array_min
    // signature must equal dedup.Dedup's groupBy-min — pin the claim
    val docs = tables.documents.limit(50)
      .select(current_timestamp().as("ts"), col("doc_id"), col("text"))
    val streamed = Jobs.MinhashCandidates.bandKeys(docs)
      .select("doc_id", "band_idx", "band_key")
      .as[(Long, Int, String)].collect().toSet
    // batch twin: same bands via Dedup's aggregated signatures
    val agg = {
      import graft.dedup.Dedup
      val sh = tables.documents.limit(50)
        .select(col("doc_id"), split(col("text"), " ").as("ts"))
        .where(size(col("ts")) >= 3)
        .select(col("doc_id"),
          explode(expr(graft.functions.Portable.shingleExpr(3))).as("s"))
        .distinct()
      val sigCols = (0 until Dedup.NumPerms).map(p =>
        min(md5(concat(lit(s"$p:"), col("s")))).as(s"h$p"))
      val sig = sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
      val bandStructs = (0 until Dedup.NumBands).map(b =>
        struct(lit(b).as("band_idx"),
          md5(concat(col(s"h${2 * b}"), lit("|"), col(s"h${2 * b + 1}")))
            .as("band_key")))
      sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
        .select(col("doc_id"), col("bk.band_idx"), col("bk.band_key"))
        .as[(Long, Int, String)].collect().toSet
    }
    assert(streamed == agg)
  }

  test("Sources.textDir: file-landing-dir source feeds the wordcount") {
    import spark.implicits._
    val dir = tmp("graft-textdir")
    Files.writeString(java.nio.file.Path.of(dir, "a.txt"), "x y x\nz")
    val q = Jobs.WordCountStream.writer(Sources.textDir(spark, dir))
      .format("memory").queryName("textdir_wc").start()
    try {
      q.processAllAvailable()
      val got = spark.table("textdir_wc").as[(String, Long)].collect().toMap
      assert(got == Map("x" -> 2L, "y" -> 1L, "z" -> 1L))
      // a newly landed file is picked up incrementally
      Files.writeString(java.nio.file.Path.of(dir, "b.txt"), "z z")
      q.processAllAvailable()
      val got2 = spark.table("textdir_wc").as[(String, Long)].collect().toMap
      assert(got2 == Map("x" -> 2L, "y" -> 1L, "z" -> 3L))
    } finally q.stop()
  }

  test("Sources.kafkaShaped parses records; rateWords constructs") {
    import spark.implicits._
    // kafkaShaped is a pure transform — assert on a batch DF
    val recs = Seq("t1\tk1\thello world", "t2\tk2\tspark").toDF("value")
    val parsed = Sources.kafkaShaped(recs).as[(String, String, String)]
      .collect().toSet
    assert(parsed == Set(("t1", "k1", "hello world"), ("t2", "k2", "spark")))
    assert(Sources.rateWords(spark, 1, Seq("a", "b")).isStreaming)
  }

  test("Sources.kafkaTopic: record schema ≡ kafkaShaped; guarded jar enablement") {
    import spark.implicits._
    // The real Kafka source hands (topic: string, key: binary,
    // value: binary) records; kafkaRecords normalizes them to the
    // EXACT schema kafkaShaped emits, so every downstream job is
    // source-agnostic: swapping the shim for a broker is one jar plus
    // one builder call, zero pipeline changes.
    val raw = Seq(
      ("t1", "k1".getBytes("UTF-8"), "hello world hello".getBytes("UTF-8")),
      ("t2", "k2".getBytes("UTF-8"), "spark".getBytes("UTF-8")))
      .toDF("topic", "key", "value")
    val fromKafka = Sources.kafkaRecords(raw)
    val fromShim = Sources.kafkaShaped(
      Seq("t1\tk1\thello world hello", "t2\tk2\tspark").toDF("value"))
    assert(fromKafka.schema == fromShim.schema,
      s"${fromKafka.schema} vs ${fromShim.schema}")
    assert(fromKafka.as[(String, String, String)].collect().toSet ==
      fromShim.as[(String, String, String)].collect().toSet)
    // and a downstream job sees identical results over either shape
    val wcKafka = Sources.words(fromKafka.select("value"))
      .groupBy("word").count().as[(String, Long)].collect().toMap
    val wcShim = Sources.words(fromShim.select("value"))
      .groupBy("word").count().as[(String, Long)].collect().toMap
    assert(wcKafka == wcShim && wcKafka("hello") == 2L)
    // zero-egress image: connector absent → the builder refuses with
    // the one-jar enablement instruction instead of a provider error
    if (!Sources.kafkaAvailable) {
      val e = intercept[IllegalArgumentException] {
        Sources.kafkaTopic(spark, "broker:9092", "events")
      }
      assert(e.getMessage.contains("spark-sql-kafka-0-10"))
    } else {
      // connector present (a real deployment): the builder constructs
      // a streaming frame with the shared record schema
      val df = Sources.kafkaTopic(spark, "broker:9092", "events")
      assert(df.isStreaming && df.schema == fromShim.schema)
    }
  }

  test("Sources.socketLines: end-to-end against a local server socket") {
    import spark.implicits._
    val server = new java.net.ServerSocket(0) // ephemeral port
    val feeder = new Thread(() => {
      try {
        val client = server.accept()
        val out = new java.io.PrintWriter(client.getOutputStream, true)
        out.println("tom hello")
        out.println("leo hello world")
        // keep the connection open until the query is done reading
        Thread.sleep(8000)
        client.close()
      } catch { case _: Throwable => () }
    })
    feeder.setDaemon(true)
    feeder.start()
    val q = Jobs.WordCountStream.writer(
      Sources.socketLines(spark, "localhost", server.getLocalPort))
      .format("memory").queryName("socket_wc").start()
    try {
      // socket source has no availability barrier — poll for arrival
      val deadline = System.currentTimeMillis() + 15000
      def counts = spark.table("socket_wc").as[(String, Long)].collect().toMap
      while (counts.values.sum < 5 && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        Thread.sleep(200)
      }
      assert(counts == Map("tom" -> 1L, "hello" -> 2L, "leo" -> 1L, "world" -> 1L))
    } finally {
      q.stop()
      server.close()
    }
  }

  /** The batch coin: first 8 md5-hex digits of "ccn|id" over 2^32. */
  private def ccnCoin(id: Long): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"ccn|$id".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 8), 16) / 4294967296.0
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** The doc's minhash band keys, by the shared batch/stream formula. */
  private def bandKeysOf(text: String): Seq[String] = {
    import graft.dedup.Dedup.{NumBands, NumPerms, ShingleSize}
    val toks = text.split(" ", -1)
    if (toks.length < ShingleSize) return Nil
    val sh = toks.sliding(ShingleSize).map(_.mkString(" ")).toSeq.distinct
    val mins = (0 until NumPerms).map(p => sh.map(s => md5Hex(s"$p:$s")).min)
    (0 until NumBands).map(b => md5Hex(mins(2 * b) + "|" + mins(2 * b + 1)))
  }

  test("IntakeSamplerStream: replayed corpus admissions ≡ batch corpus_admit; plants gated; 2 stateful ops") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String, String)]
    val adm = Jobs.IntakeSamplerStream.admissions(
      in.toDF().toDF("ts", "doc_id", "lang", "text"), tables)
    val q = adm.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("intake_sampler").start()
    try {
      val docs = tables.documents.select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)].collect().sortBy(_._1)
      val maxId = docs.map(_._1).max
      val keeperIds = docs.groupBy(_._3).values.map(_.minBy(_._1)._1).toSet
      val t1 = new Timestamp(1000L)
      // keepers first, dups second: the stream's first-seen store then
      // picks exactly the batch min-doc_id keeper per text
      in.addData(docs.filter(d => keeperIds(d._1))
        .map(d => (t1, d._1, d._2, d._3)).toSeq)
      q.processAllAvailable()
      in.addData(docs.filterNot(d => keeperIds(d._1))
        .map(d => (t1, d._1, d._2, d._3)).toSeq)
      q.processAllAvailable()

      val batch = graft.pipeline.Intake.corpusAdmit(tables)
        .select(col("doc_id"), col("lm_score"), col("bucket"), col("u"))
        .as[(Long, Double, String, Double)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      assert(batch.nonEmpty)

      // plants, all with coin < 0.29 (under every bucket's keep rate,
      // so a missing plant proves its GATE fired, never the coin)
      def plantIds = Iterator.from(1).map(maxId + 100L * _)
        .filter(id => ccnCoin(id) < 0.29)
      val Seq(quoteId, ndId, ctrlId, langId) = plantIds.take(4).toSeq
      val admitted = docs.filter(d => batch.contains(d._1))

      // a verbatim QUOTE (70% token prefix) of an admitted corpus doc
      // that still clears quality+repetition on its own AND shares no
      // band key with ANY corpus doc: its drop can only be the
      // containment gate — the quote-inclusion mode band LSH
      // structurally misses
      val corpusBandKeys = docs.flatMap(d => bandKeysOf(d._3)).toSet
      def passesRowGates(text: String): Boolean = {
        val toks = text.split(" ", -1)
        if (toks.length < 10) return false
        val quality = graft.functions.Portable.round6Double(
          math.min(text.length / 500.0, 1.0) * 0.5
            + toks.distinct.length.toDouble / toks.length * 0.3
            + math.min(text.length.toDouble / toks.length / 8.0, 1.0) * 0.2)
        val bgs = toks.sliding(2).map(_.mkString(" ")).toSeq
        val counts = bgs.groupBy(identity).map(_._2.size)
        val topFrac = graft.functions.Portable.round6Double(
          counts.max.toDouble / bgs.size)
        val dupFrac = graft.functions.Portable.round6Double(
          (bgs.size - counts.size).toDouble / bgs.size)
        quality >= graft.pipeline.CorpusClean.QualityMin &&
          topFrac <= graft.textanalysis.TextAnalysis.TopBigramFracMax &&
          dupFrac <= graft.textanalysis.TextAnalysis.DupBigramFracMax
      }
      val quoteSrc = admitted.sortBy(-_._3.length).iterator.map { d =>
        val toks = d._3.split(" ", -1)
        (d, toks.take(math.max(8, (toks.length * 7) / 10)).mkString(" "))
      }.find { case (_, qt) =>
        passesRowGates(qt) &&
          bandKeysOf(qt).forall(k => !corpusBandKeys.contains(k))
      }.get
      // a NEAR-DUP of an admitted corpus doc (last token swapped) that
      // still collides with it on ≥1 band: the nd gate must fire
      val ndSrc = admitted.iterator.map { d =>
        val toks = d._3.split(" ", -1)
        (d, (toks.dropRight(1) :+ "graftznovel").mkString(" "))
      }.find { case (d, nt) =>
        bandKeysOf(nt).intersect(bandKeysOf(d._3)).nonEmpty &&
          nt.split(" ", -1).length >= 4
      }.get
      val ctrlText = (0 until 60).map(i => s"graftctrl${i}tok$ctrlId").mkString(" ")
      in.addData(Seq(
        (t1, quoteId, quoteSrc._1._2, quoteSrc._2),
        (t1, ndId, ndSrc._1._2, ndSrc._2),
        (t1, ctrlId, "en", ctrlText),
        (t1, langId, "xx", ctrlText.replace("ctrl", "lang"))))
      q.processAllAvailable()
      // advance the watermark so every in-flight doc finalizes
      in.addData(Seq((new Timestamp(10000L * 1000), -1L, "en", "x y")))
      q.processAllAvailable()

      val streamed = spark.table("intake_sampler")
        .select(col("doc_id"), col("lm_score"), col("bucket"), col("u"))
        .as[(Long, Double, String, Double)].collect()
        .map(r => r._1 -> (r._2, r._3, r._4)).toMap
      val replayed = streamed.filter { case (id, _) => id <= maxId }
      assert(replayed == batch,
        s"replay mismatch: stream-only ${replayed.keySet -- batch.keySet}, " +
          s"batch-only ${batch.keySet -- replayed.keySet}")
      // the quote and the near-dup were caught by their gates; the
      // control doc (novel, clean, coin < every rate) was admitted;
      // the novel-language doc fell to the unbucketed rate of 0
      assert(!streamed.contains(quoteId), streamed.get(quoteId).toString)
      assert(!streamed.contains(ndId), streamed.get(ndId).toString)
      assert(streamed.contains(ctrlId))
      assert(!streamed.contains(langId), streamed.get(langId).toString)
      // the whole composed verdict runs in exactly TWO stateful
      // operators: the first-seen store and the evidence aggregation
      assert(q.lastProgress.stateOperators.length == 2,
        q.lastProgress.stateOperators.map(_.operatorName).mkString(","))
    } finally q.stop()
  }

  test("IntakeSamplerStream.verdicts: one-batch reverse-order replay ≡ batch corpus_admit_verdicts") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String, String, Int)]
    // feed the STORED n_chars (the batch gate's input) — the stream
    // reads it instead of re-deriving length(text) (ADVICE r9)
    val vds = Jobs.IntakeSamplerStream.verdicts(
      in.toDF().toDF("ts", "doc_id", "lang", "text", "n_chars"), tables)
    val q = vds.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("intake_verdicts").start()
    try {
      val docs = tables.documents
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
        .as[(Long, String, String, Long)].collect()
      val t1 = new Timestamp(1000L)
      // the WHOLE corpus in ONE batch, fed in REVERSE doc_id order: the
      // marker elects the lowest doc_id of a hash's earliest batch, so
      // even a reversed feed reproduces the batch keeper exactly
      in.addData(docs.sortBy(-_._1)
        .map(d => (t1, d._1, d._2, d._3, d._4.toInt)).toSeq)
      q.processAllAvailable()
      in.addData(Seq((new Timestamp(10000L * 1000), -1L, "en", "x y", 3)))
      q.processAllAvailable()
      val streamed = spark.table("intake_verdicts")
        .filter(col("doc_id") >= 0)
        .select(col("doc_id"), col("verdict"))
        .as[(Long, String)].collect().toMap
      val batch = graft.pipeline.Intake.corpusAdmitVerdicts(tables)
        .select(col("doc_id"), col("verdict"))
        .as[(Long, String)].collect().toMap
      assert(batch.nonEmpty)
      val diff = (streamed.keySet ++ batch.keySet)
        .filter(k => streamed.get(k) != batch.get(k))
      assert(diff.isEmpty, diff.take(5).map(k =>
        s"$k: stream=${streamed.get(k)} batch=${batch.get(k)}").mkString("; "))
      // still exactly two stateful operators — the verdict column is
      // computed by the same single-query shape admissions() rides
      assert(q.lastProgress.stateOperators.length == 2,
        q.lastProgress.stateOperators.map(_.operatorName).mkString(","))
    } finally q.stop()
  }

  test("IntakeSamplerStream: out-of-order arrival admits the FIRST arrival once; text_hash reconciles") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String, String)]
    val adm = Jobs.IntakeSamplerStream.admissions(
      in.toDF().toDF("ts", "doc_id", "lang", "text"), tables)
    val q = adm.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("intake_ooo").start()
    try {
      val maxId = tables.documents.agg(max(col("doc_id")))
        .as[Long].collect().head
      // both ids clear every bucket's keep rate, so admission outcomes
      // below are decided by the dedup marker alone
      val Seq(idLo, idHi) = Iterator.from(1).map(maxId + 100L * _)
        .filter(id => ccnCoin(id) < 0.29).take(2).toSeq
      val text = (0 until 60).map(i => s"graftooo${i}tok").mkString(" ")
      val t1 = new Timestamp(1000L)
      // the HIGHER id arrives FIRST; the batch keeper (lowest id)
      // arrives in a LATER batch — the documented stream semantics:
      // first arrival plays keeper, the late batch keeper is a dup
      in.addData(Seq((t1, idHi, "en", text)))
      q.processAllAvailable()
      in.addData(Seq((t1, idLo, "en", text)))
      q.processAllAvailable()
      in.addData(Seq((new Timestamp(10000L * 1000), -1L, "en", "x y")))
      q.processAllAvailable()
      val got = spark.table("intake_ooo")
        .filter(col("doc_id").isin(idLo, idHi))
        .select(col("doc_id"), col("text_hash"))
        .as[(Long, String)].collect()
      // exactly ONE admission for the duplicate class: the first
      // arrival, under ITS OWN doc_id's coin — never both
      assert(got.map(_._1).toSeq == Seq(idHi),
        s"expected first-arrival $idHi only, got ${got.toSeq}")
      // text_hash rides the output, so a batch reconciliation can map
      // the stream-chosen representative to the batch keeper $idLo
      assert(got.head._2 == md5Hex(text))
    } finally q.stop()
  }

  test("IntakeSamplerStream: at-least-once redelivery of the keeper still admits exactly once") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String, String)]
    val adm = Jobs.IntakeSamplerStream.admissions(
      in.toDF().toDF("ts", "doc_id", "lang", "text"), tables)
    val q = adm.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("intake_redeliver").start()
    try {
      val maxId = tables.documents.agg(max(col("doc_id")))
        .as[Long].collect().head
      // keeper + a genuine duplicate, both under every bucket's keep
      // rate: outcomes below are decided by the dedup marker alone
      val Seq(keeperId, dupId) = Iterator.from(1).map(maxId + 100L * _)
        .filter(id => ccnCoin(id) < 0.29).take(2).toSeq
      val text = (0 until 60).map(i => s"graftredel${i}tok").mkString(" ")
      val t1 = new Timestamp(1000L)
      in.addData(Seq((t1, keeperId, "en", text)))
      q.processAllAvailable()
      // the SOURCE redelivers the identical record (same ts/doc_id/
      // text) in a LATER micro-batch, well inside the watermark lag —
      // the marker tags the copy dup=1 and it merges into the keeper's
      // still-open aggregation group. ADVICE r10: with a max() dup
      // reduction the copy would flip the keeper's verdict to 'dup'
      // and the doc would be admitted ZERO times; min() keeps it.
      // A genuine duplicate (its own doc_id) rides the same batch and
      // must STILL be rejected — min() over ITS group sees only 1s.
      in.addData(Seq((t1, keeperId, "en", text), (t1, dupId, "en", text)))
      q.processAllAvailable()
      in.addData(Seq((new Timestamp(10000L * 1000), -1L, "en", "x y")))
      q.processAllAvailable()
      val got = spark.table("intake_redeliver")
        .filter(col("doc_id").isin(keeperId, dupId))
        .select(col("doc_id")).as[Long].collect().toSeq
      assert(got == Seq(keeperId),
        s"expected exactly one admission of $keeperId, got $got")
    } finally q.stop()
  }

  test("Intake.reconcileAdmissions: out-of-order replay reconciles every divergent class to its batch keeper") {
    import spark.implicits._
    import graft.pipeline.Intake
    val in = MemoryStream[(Timestamp, Long, String, String)]
    // the stream runs against the CORPUS-AT-START tables (t0) — the
    // planted duplicate class is novel intake, so the static stores
    // know nothing of it and the keeper rule decides alone
    val adm = Jobs.IntakeSamplerStream.admissions(
      in.toDF().toDF("ts", "doc_id", "lang", "text"), tables)
    val q = adm.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("intake_reconcile").start()
    try {
      val maxId = tables.documents.agg(max(col("doc_id")))
        .as[Long].collect().head
      // both ids clear every bucket's keep rate — admissions are
      // decided by arrival order, so the divergence is pure keeper rule
      val Seq(idLo, idHi) = Iterator.from(1).map(maxId + 100L * _)
        .filter(id => ccnCoin(id) < 0.29).take(2).toSeq
      val text = (0 until 60).map(i => s"graftrec${i}tok").mkString(" ")
      val t1 = new Timestamp(1000L)
      // the :1338 setup — the HIGHER id arrives first and is admitted;
      // the batch keeper arrives later and is marked dup
      in.addData(Seq((t1, idHi, "en", text)))
      q.processAllAvailable()
      in.addData(Seq((t1, idLo, "en", text)))
      q.processAllAvailable()
      in.addData(Seq((new Timestamp(10000L * 1000), -1L, "en", "x y")))
      q.processAllAvailable()
      val streamed = spark.table("intake_reconcile")
        .filter(col("doc_id") >= 0)

      // the nightly batch recompute runs over corpus ∪ landed intake
      val augDir = tmp("graft-reconcile-corpus")
      val planted = Seq(
        (idLo, text, "en", "plant", text.length.toLong),
        (idHi, text, "en", "plant", text.length.toLong))
        .toDF("doc_id", "text", "lang", "source", "n_chars")
      tables.documents.unionByName(planted)
        .write.mode("overwrite").parquet(s"$augDir/documents.parquet")
      val tAug = graft.Tables(spark, augDir)
      val batch = Intake.corpusAdmit(tAug)
        .select(col("doc_id")).as[Long].collect().toSet
      assert(batch.contains(idLo), "batch must admit the class keeper")
      assert(!batch.contains(idHi))
      // coin-explainability: the batch verdict of the stream's rep is
      // 'dup' — the divergence is representative identity under each
      // doc's own coin, never a duplicate admission
      val vHi = Intake.corpusAdmitVerdicts(tAug)
        .filter(col("doc_id") === idHi)
        .select(col("verdict")).as[String].collect().head
      assert(vHi == "dup", s"stream rep's batch verdict: $vHi")

      val rec = Intake.reconcileAdmissions(streamed, tAug)
        .as[(String, Option[Long], Option[Long], Boolean, String)]
        .collect().toSeq
      // exactly one row per duplicate class
      assert(rec.map(_._1).distinct.length == rec.length)
      // THE divergent class: stream kept its first arrival, batch its
      // lowest-id keeper — one rep_divergence row naming both
      assert(rec.filter(_._5 == "rep_divergence") ==
        Seq((md5Hex(text), Some(idHi), Some(idLo), true, "rep_divergence")))
      // every other row is a batch-admitted class this window never
      // streamed — batch_only, no stream doc, keepers exactly the
      // remaining batch admissions (corpus_admit admits only keepers)
      val rest = rec.filter(_._5 != "rep_divergence")
      assert(rest.forall(r =>
        r._5 == "batch_only" && r._2.isEmpty && !r._4))
      assert(rest.flatMap(_._3).toSet == (batch - idLo))
      assert(!rec.exists(_._5 == "stream_only"))
    } finally q.stop()
  }

  test("RepetitionGateStream.maxRunCount: null-safe — null runs count their multiplicity") {
    import spark.implicits._
    // (array, expected max multiplicity) — nulls form a run of their
    // own (ADVICE r10: x === prev resets on null and undercounted)
    val rows = Seq(
      (Seq[String]("a", null, null, null, "b"), 3L),
      (Seq[String](null), 1L),
      (Seq[String]("a", "a", null), 2L),
      (Seq[String](null, "b", null, "b"), 2L))
    rows.zipWithIndex.foreach { case ((arr, want), i) =>
      val got = Seq(arr).toDF("xs")
        .select(Jobs.RepetitionGateStream.maxRunCount(col("xs")).as("m"))
        .as[Long].collect().head
      assert(got == want, s"case $i: $arr → $got, want $want")
    }
  }

  test("IntakeSamplerStream: boundsRoot pins a bounds generation; doctored swap re-buckets and re-coins") {
    import spark.implicits._
    import graft.storage.BoundsStore
    val root = tmp("graft_intake_bounds")
    // gen 0 = the batch boundary table: generation-pinned admissions
    // must equal the live-computed batch op
    assert(BoundsStore.publishFrom(tables, root) == 0L)
    val docs = tables.documents
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect()
    def runStream(name: String): Map[Long, (String, Double)] = {
      val in = MemoryStream[(Timestamp, Long, String, String)]
      val q = Jobs.IntakeSamplerStream.admissions(
        in.toDF().toDF("ts", "doc_id", "lang", "text"), tables,
        boundsRoot = Some(root))
        .writeStream.outputMode(OutputMode.Append())
        .format("memory").queryName(name).start()
      try {
        in.addData(docs.map { case (id, lang, tx) =>
          (new Timestamp(1000L), id, lang, tx) }.toSeq)
        q.processAllAvailable()
        in.addData(Seq((new Timestamp(10000L * 1000), -1L, "en", "x y")))
        q.processAllAvailable()
        spark.table(name).filter(col("doc_id") >= 0)
          .select(col("doc_id"), col("bucket"), col("u"))
          .as[(Long, String, Double)].collect()
          .map(r => r._1 -> (r._2, r._3)).toMap
      } finally q.stop()
    }
    val batch = graft.pipeline.Intake.corpusAdmit(tables)
      .select(col("doc_id"), col("bucket"), col("u"))
      .as[(Long, String, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val gen0 = runStream("intake_bounds_gen0")
    assert(gen0 == batch,
      s"gen-0 pinned admissions drifted: stream-only ${gen0.keySet -- batch.keySet}, " +
        s"batch-only ${batch.keySet -- gen0.keySet}")
    // gen 1: a DOCTORED boundary table (s1 unreachable, s2 below every
    // score) — every gate-passer lands in 'middle' and is re-coined at
    // the middle rate 0.6: the admitted SET must change accordingly,
    // proving the full sampler resolves the new generation rather than
    // a session-lifetime memo (VERDICT r9 #4)
    val doctored = BoundsStore.readBounds(spark, root, 0)
      .select(col("lang"), lit(1e18).as("s1"), lit(-1e18).as("s2"))
    assert(BoundsStore.publishGeneration(spark, root, doctored) == 1L)
    val gatePassers = graft.pipeline.Intake.corpusAdmitVerdicts(tables)
      .filter(col("verdict").isin("admitted", "coin"))
      .select(col("doc_id")).as[Long].collect().toSet
    val expected = gatePassers.filter(id => ccnCoin(id) < 0.6)
    val gen1 = runStream("intake_bounds_gen1")
    assert(gen1.keySet == expected,
      s"gen-1 admitted set: unexpected ${gen1.keySet -- expected}, " +
        s"missing ${expected -- gen1.keySet}")
    gen1.foreach { case (id, (bucket, _)) =>
      assert(bucket == "middle", s"gen-1 bucket for $id: $bucket")
    }
  }

  test("IntakeSamplerStream backfill: parquet landing dir → parquetAppend restart ≡ batch, exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val landing = tmp("graft-intake-landing")
    val outDir = tmp("graft-intake-backfill-out")
    val ckpt = tmp("graft-intake-backfill-ckpt")
    val schema = StructType(Seq(
      StructField("ts", TimestampType), StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType),
      StructField("n_chars", LongType)))
    def run() = Sinks.parquetAppend(
      Jobs.IntakeSamplerStream.admissions(
        Sources.parquetDir(spark, landing, schema), tables),
      outDir, ckpt)
    def land(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      // stage then move ONE cleanly-named parquet file into the landing
      // dir — the file source must see data files only, the way an
      // upstream dump job would land them
      val stage = tmp(s"graft-intake-stage-$name")
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = java.nio.file.Files.list(java.nio.file.Path.of(stage))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      java.nio.file.Files.move(part,
        java.nio.file.Path.of(landing, s"$name.parquet"))
    }
    // file 1: the WHOLE corpus dump at ts=1000 (one batch → the marker
    // elects exactly the batch keeper per duplicate class)
    land(tables.documents.select(
      lit("1970-01-01 00:00:01").cast("timestamp").as("ts"),
      col("doc_id"), col("lang"), col("text"), col("n_chars")), "dump1")
    val q1 = run()
    try q1.processAllAvailable() finally q1.stop()
    // watermark (1s - 30s) is before every doc's ts: state is built but
    // nothing finalized — the sink must have manifested zero rows
    assert(spark.read.parquet(outDir).isEmpty)

    // CRASH-RESTART: land the watermark-advancing file and rerun
    // against the same checkpoint; admissions finalize from RECOVERED
    // marker + aggregation state
    land(tables.documents.limit(1).select(
      lit("1970-01-01 03:00:00").cast("timestamp").as("ts"),
      lit(-1L).as("doc_id"), lit("en").as("lang"), lit("x y").as("text"),
      lit(3L).as("n_chars")), "dump2")
    val q2 = run()
    try q2.processAllAvailable() finally q2.stop()

    val rows = spark.read.parquet(outDir).filter(col("doc_id") >= 0)
      .select(col("doc_id"), col("lm_score"), col("bucket"), col("u"))
      .as[(Long, Double, String, Double)].collect()
    val batch = graft.pipeline.Intake.corpusAdmit(tables)
      .select(col("doc_id"), col("lm_score"), col("bucket"), col("u"))
      .as[(Long, Double, String, Double)].collect()
    assert(batch.nonEmpty)
    assert(rows.toSet == batch.toSet,
      s"backfill mismatch: stream-only ${rows.toSet -- batch.toSet}, " +
        s"batch-only ${batch.toSet -- rows.toSet}")
    // append-only exactly once: no admission written twice
    assert(rows.length == rows.toSet.size)
  }

  test("StatsBySourceStream: shuffled multi-batch replay ≡ batch report_stats_by_source") {
    import spark.implicits._
    // planted corpus: cross-source shared text (distinct within each
    // source), a within-source dup pair, multi-lang sources
    val docs = Seq(
      (1L, "alpha beta", "en", "a"),
      (2L, "alpha beta", "en", "a"), // exact dup within a
      (3L, "gamma delta", "fr", "a"),
      (4L, "alpha beta", "en", "b"), // same text, OTHER source: distinct in b
      (5L, "epsilon", "en", "b"),
      (6L, "zeta eta theta", "de", "b"),
      (7L, "epsilon", "en", "b")) // second within-b dup class
    // batch reference over the identical corpus
    val dir = tmp("graft-stats-src")
    docs.toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = graft.pipeline.Reports
      .statsBySource(graft.Tables(spark, dir)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toMap

    val in = MemoryStream[(Long, String, String, String)]
    val latest = mutable.Map.empty[String, (Long, Long, Long, Double, Double)]
    val q = Jobs.StatsBySourceStream.stats(
      in.toDF().toDF("doc_id", "text", "lang", "source"))
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.synchronized {
            latest(r.getString(0)) = (r.getLong(1), r.getLong(2),
              r.getLong(3), r.getDouble(4), r.getDouble(5))
          }
        }; ()
      }.start()
    try {
      // shuffled, split across three micro-batches — every aggregate
      // must be delivery-order-independent; the dup of doc 1 arrives
      // FIRST (id 2 claims the marker, id 1 is the dup) and the b-class
      // dup straddles two batches (marker state crosses batches)
      val shuffled = Seq(docs(1), docs(5), docs(4))
      val b2 = Seq(docs(3), docs(0), docs(2))
      val b3 = Seq(docs(6))
      in.addData(shuffled); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      in.addData(b3); q.processAllAvailable()
      assert(latest.synchronized(latest.toMap) == batch,
        s"stream ${latest.toMap} != batch $batch")
    } finally q.stop()
  }

  test("StatsBySourceStream.shardManifest: running manifest ≡ batch over delivered docs") {
    import spark.implicits._
    val batch = graft.pipeline.Reports.shardManifest(tables).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val docs = tables.documents.select("doc_id", "text")
      .as[(Long, String)].collect()

    val in = MemoryStream[(Long, String)]
    val latest = mutable.Map.empty[Int, (Long, Long, Long, Long)]
    val q = Jobs.StatsBySourceStream.shardManifest(
      in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.synchronized {
            latest(r.getInt(0)) = (r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4))
          }
        }; ()
      }.start()
    try {
      // reverse order, split in two — min/max/count/sum are all
      // delivery-order-independent
      val (h1, h2) = docs.reverse.splitAt(docs.length / 2)
      in.addData(h1.toSeq); q.processAllAvailable()
      in.addData(h2.toSeq); q.processAllAvailable()
      assert(latest.synchronized(latest.toMap) == batch)
    } finally q.stop()
  }

  test("StatsBySourceStream.tokenHistogram: running profile ≡ batch over delivered docs") {
    import spark.implicits._
    val batch = graft.pipeline.Reports.tokenHistogram(tables).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val docs = tables.documents.select("source", "text")
      .as[(String, String)].collect()

    val in = MemoryStream[(String, String)]
    val latest = mutable.Map.empty[(String, Int), (Long, Long, Long)]
    val q = Jobs.StatsBySourceStream.tokenHistogram(
      in.toDF().toDF("source", "text"))
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach { r =>
          latest.synchronized {
            latest((r.getString(0), r.getInt(1))) =
              (r.getLong(2), r.getLong(3), r.getLong(4))
          }
        }; ()
      }.start()
    try {
      val (h1, h2) = docs.reverse.splitAt(docs.length / 3)
      in.addData(h1.toSeq); q.processAllAvailable()
      in.addData(h2.toSeq); q.processAllAvailable()
      assert(latest.synchronized(latest.toMap) == batch)
    } finally q.stop()
  }

  test("SampleTemperatureStream: replay against published rates ≡ batch sample; novel lang drops") {
    import spark.implicits._
    val batch = graft.pipeline.Mixing.sampleTemperature(tables).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3),
        r.getDouble(4))).toSet
    // the published rate table = what the batch run derived
    val rates = graft.pipeline.Mixing.sampleTemperature(tables)
      .select("lang", "rate").distinct()
    val docs = tables.documents.select("doc_id", "lang")
      .as[(Long, String)].collect()

    val in = MemoryStream[(Long, String)]
    val out = mutable.Buffer.empty[(Long, String, Double, Double)]
    val q = Jobs.SampleTemperatureStream.sample(
      in.toDF().toDF("doc_id", "lang"), rates)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r => (r.getLong(0), r.getString(1),
            r.getDouble(2), r.getDouble(3)))
        }; ()
      }.start()
    try {
      // reversed replay + a novel-language doc that must drop (absent
      // from the published rate table = rate 0, the ccnet convention)
      in.addData(docs.reverse.toSeq :+ (999999L, "zz_novel"))
      q.processAllAvailable()
      val got = out.synchronized(out.toSet)
      assert(got == batch, s"stream-only ${got -- batch}, batch-only ${batch -- got}")
      assert(!got.exists(_._1 == 999999L))
    } finally q.stop()
  }

  test("PiiScrubStream: stateless scrub ≡ batch pii_scrub per doc") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a@b.co now", "en", "a"),
      (2L, "host 10.0.0.1 acct 123456789", "en", "a"),
      (3L, "plain text only", "fr", "b"))
    val dir = tmp("graft-pii-stream")
    docs.toDF("doc_id", "text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source",
        "length(text) AS n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val batch = graft.textanalysis.Pii.piiScrub(graft.Tables(spark, dir))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet

    val in = MemoryStream[(Long, String)]
    val out = mutable.Buffer.empty[(Long, Long, Long, Long, String)]
    val q = Jobs.PiiScrubStream.scrub(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getString(4)))
        }; ()
      }.start()
    try {
      in.addData(docs.map(d => (d._1, d._2)))
      q.processAllAvailable()
      assert(out.synchronized(out.toSet) == batch)
    } finally q.stop()
  }

  /** Planted events dir for the sequence-stream twins. */
  private def writeSeqEvents(dir: String,
                             rows: Seq[(Long, Long, Long, String)]): Unit = {
    import spark.implicits._
    rows.toDF("event_id", "ts_sec_in", "user_id", "event_type")
      .selectExpr("event_id", "ts_sec_in * 1000000000 AS ts", "user_id",
        "event_type", "CAST(1.0 AS DOUBLE) AS value", "'' AS props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  test("AsOfEnrichStream: in-order two-batch replay ≡ batch event_asof_join; late ref is at-arrival") {
    import spark.implicits._
    val events = Seq(
      (10L, 100L, 1L, "click"), (11L, 100L, 1L, "click"),
      (20L, 100L, 1L, "purchase"),          // tie -> ref 11, gap 0
      (21L, 50L, 1L, "purchase"),           // pre-click -> -1
      (12L, 200L, 1L, "click"),
      (22L, 250L, 1L, "purchase"),          // -> ref 12 (cross-batch carry)
      (30L, 10L, 2L, "purchase"),           // user without refs -> -1
      (40L, 99L, 1L, "view"))               // ignored type
    val dir = tmp("graft-asof-stream")
    writeSeqEvents(dir, events)
    val batch = graft.operators.Sequences
      .eventAsofJoin(graft.Tables(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet

    val in = MemoryStream[(Long, Long, Long, String)]
    val out = mutable.Buffer.empty[(Long, Long, Long, Long, Long, Long)]
    val q = Jobs.AsOfEnrichStream.enriched(
      in.toDF().toDF("event_id", "ts_sec", "user_id", "event_type"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("graft-asof-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        }; ()
      }.start()
    try {
      // in event-time order, split mid-stream: the t=200 click lands in
      // batch 1, the t=250 purchase it attributes in batch 2 (state carry)
      val ordered = events.filter(_._4 != "view")
        .sortBy(e => (e._2, e._4 == "purchase", e._1))
      in.addData(ordered.take(5))
      q.processAllAvailable()
      in.addData(ordered.drop(5))
      q.processAllAvailable()
      assert(out.synchronized(out.toSet) == batch,
        s"stream ${out.toSet} != batch $batch")

      // at-arrival semantics: a ref arriving AFTER a probe it would
      // have attributed does not retro-attach, but catches later probes
      in.addData(Seq((23L, 400L, 1L, "purchase")))
      q.processAllAvailable()
      in.addData(Seq((13L, 300L, 1L, "click"),
        (24L, 410L, 1L, "purchase")))
      q.processAllAvailable()
      val late = out.synchronized(
        out.toVector.map(r => r._1 -> (r._4, r._5, r._6)).toMap)
      assert(late(23L) == ((200L, 12L, 200L)),
        "already-emitted probe must keep its at-arrival attribution")
      assert(late(24L) == ((300L, 13L, 110L)),
        "subsequent probe must see the late ref")
    } finally q.stop()
  }

  test("FunnelStream: in-order replay final stages ≡ batch event_funnel; one row per advance") {
    import spark.implicits._
    val g = graft.operators.Sequences.FunnelGapSec
    val events = Seq(
      (1L, 100L, 1L, "signup"), (2L, 100L + g, 1L, "view"),
      (3L, 100L + 2 * g, 1L, "purchase"),   // completes
      (4L, 100L, 2L, "signup"), (5L, 101L + g, 2L, "view"),
      (6L, 102L + g, 2L, "purchase"),       // stage 1 (view too late)
      (7L, 100L, 3L, "signup"), (8L, 150L, 3L, "view"),
      (9L, 151L + g, 3L, "purchase"),       // stage 2 (purchase too late)
      (10L, 100L, 4L, "view"), (11L, 150L, 4L, "purchase"), // stage 0
      (12L, 50L, 5L, "view"), (13L, 100L, 5L, "signup"))    // stage 1
    val dir = tmp("graft-funnel-stream")
    writeSeqEvents(dir, events)
    val batch = graft.operators.Sequences
      .eventFunnel(graft.Tables(spark, dir)).collect()
      .map(r => r.getLong(0) -> r.getInt(4)).toMap

    val in = MemoryStream[(Long, Long, Long, String)]
    val out = mutable.Buffer.empty[(Long, Int, Long)]
    val q = Jobs.FunnelStream.stages(
      in.toDF().toDF("event_id", "ts_sec", "user_id", "event_type"))
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("graft-funnel-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r =>
            (r.getLong(0), r.getInt(1), r.getLong(2)))
        }; ()
      }.start()
    try {
      // event-time order, two batches splitting user 1's funnel
      val ordered = events.sortBy(_._2)
      val (a, b) = ordered.splitAt(ordered.length / 2)
      in.addData(a); q.processAllAvailable()
      in.addData(b); q.processAllAvailable()
      val rows = out.synchronized(out.toVector)
      // one row per advance, no duplicates
      assert(rows.distinct.size == rows.size)
      val finalStage = rows.groupBy(_._1)
        .view.mapValues(_.map(_._2).max).toMap
      for ((u, st) <- batch)
        assert(finalStage.getOrElse(u, 0) == st,
          s"user $u: stream ${finalStage.getOrElse(u, 0)} != batch $st")
    } finally q.stop()
  }

  test("SampleQuotaStream: any-order replay against published thresholds ≡ batch corpus_sample_quota; novel lang drops") {
    import spark.implicits._
    val batch = graft.pipeline.Mixing.sampleQuota(tables).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(3))).toSet
    val thresholds = graft.pipeline.Mixing.quotaThresholds(tables)
    val docs = tables.documents.select("doc_id", "lang")
      .as[(Long, String)].collect()

    val in = MemoryStream[(Long, String)]
    val out = mutable.Buffer.empty[(Long, String, Double)]
    val q = Jobs.SampleQuotaStream.sample(
      in.toDF().toDF("doc_id", "lang"), thresholds)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r =>
            (r.getLong(0), r.getString(1), r.getDouble(2)))
        }; ()
      }.start()
    try {
      in.addData(docs.reverse.toSeq :+ (999999L, "zz_novel"))
      q.processAllAvailable()
      val got = out.synchronized(out.toSet)
      assert(got == batch,
        s"stream-only ${got -- batch}, batch-only ${batch -- got}")
      assert(!got.exists(_._1 == 999999L), "novel lang must drop")
    } finally q.stop()
  }

  test("SamplePriorityStream: any-order replay against the published rule ≡ batch corpus_sample_priority") {
    import spark.implicits._
    val batch = graft.pipeline.Mixing.samplePriority(tables).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toSet
    val (thr, cutoff, tau) = graft.pipeline.Mixing.priorityThreshold(tables)
    val docs = tables.documents.select("doc_id", "n_chars")
      .as[(Long, Long)].collect()

    val in = MemoryStream[(Long, Long)]
    val out = mutable.Buffer.empty[(Long, Long, Double, Double)]
    val q = Jobs.SamplePriorityStream.sample(
      in.toDF().toDF("doc_id", "n_chars"), thr, cutoff, tau)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
        }; ()
      }.start()
    try {
      // reversed + split: the rule is stateless, order cannot matter
      val (a, b) = docs.reverse.splitAt(docs.length / 3)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      val got = out.synchronized(out.toSet)
      assert(got == batch,
        s"stream-only ${got -- batch}, batch-only ${batch -- got}")
      assert(got.size.toLong == graft.pipeline.Mixing.PriorityN)
    } finally q.stop()
  }

  test("FixedSampleStream: any-order replay against the published (thr, cutoff) ≡ batch corpus_sample_fixed, exactly N") {
    import spark.implicits._
    val batch = graft.pipeline.Mixing.sampleFixed(tables).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getDouble(3)))
      .toSet
    assert(batch.size.toLong == graft.pipeline.Mixing.SampleFixedN)
    val (thr, cutoff) = graft.pipeline.Mixing.fixedThreshold(tables)
    val docs = tables.documents.select("doc_id", "lang", "source")
      .as[(Long, String, String)].collect()

    val in = MemoryStream[(Long, String, String)]
    val out = mutable.Buffer.empty[(Long, String, String, Double)]
    val q = Jobs.FixedSampleStream.sample(
      in.toDF().toDF("doc_id", "lang", "source"), thr, cutoff)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r => (r.getLong(0), r.getString(1),
            r.getString(2), r.getDouble(3)))
        }; ()
      }.start()
    try {
      val (a, b) = docs.reverse.splitAt(docs.length / 3)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      val got = out.synchronized(out.toSet)
      assert(got == batch,
        s"stream-only ${got -- batch}, batch-only ${batch -- got}")
    } finally q.stop()
  }

  test("BlockSampleStream: shard-coin gate ≡ the corpus_sample_block audit's counts; membership whole-shard") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val audit = graft.pipeline.Mixing.sampleBlock(tables).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap // n_docs_sampled
    val docs = tables.documents.select("doc_id", "source")
      .as[(Long, String)].collect()

    val in = MemoryStream[(Long, String)]
    val out = mutable.Buffer.empty[(Long, String, Long, Long)]
    val q = Jobs.BlockSampleStream.sample(
      in.toDF().toDF("doc_id", "source"))
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r => (r.getLong(0), r.getString(1),
            r.getInt(2).toLong, r.getLong(3)))
        }; ()
      }.start()
    try {
      in.addData(docs.reverse.toSeq); q.processAllAvailable()
      val got = out.synchronized(out.toVector)
      // the stateless gate admits exactly the docs the batch audit
      // priced: per-source kept counts equal n_docs_sampled
      val bySource = got.groupBy(_._2).view.mapValues(_.size.toLong).toMap
      for ((src, n) <- audit)
        assert(bySource.getOrElse(src, 0L) == n,
          s"$src: gate ${bySource.getOrElse(src, 0L)} != audit $n")
      // HT weight rides every kept row; membership is whole-shard:
      // each kept shard's full population is kept
      assert(got.forall(_._4 == graft.pipeline.Mixing.BlockDiv.toLong))
      val shardOfDoc = tables.documents
        .select(col("doc_id"),
          graft.pipeline.Reports.shardOf(col("doc_id")).as("shard"))
        .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
      val keptShards = got.map(r => shardOfDoc(r._1)).toSet
      val keptIds = got.map(_._1).toSet
      docs.foreach { case (id, _) =>
        assert(keptShards.contains(shardOfDoc(id)) == keptIds.contains(id),
          s"doc $id breaks whole-shard membership")
      }
      assert(keptShards.nonEmpty && keptIds.size < docs.length,
        "gate must select a strict, non-empty shard subset")
    } finally q.stop()
  }

  test("ChunkStream: any-order replay ≡ batch doc_chunks bit-for-bit; duplicated delivery re-emits identical rows") {
    import spark.implicits._
    val batch = graft.pipeline.Chunking.docChunks(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSet
    val docs = tables.documents.select("doc_id", "text")
      .as[(Long, String)].collect()

    val in = MemoryStream[(Long, String)]
    val out = mutable.Buffer.empty[(Long, Long, Long, Long, String)]
    val q = Jobs.ChunkStream.chunks(in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r => (r.getLong(0), r.getLong(1),
            r.getLong(2), r.getLong(3), r.getString(4)))
        }; ()
      }.start()
    try {
      val (a, b) = docs.reverse.splitAt(docs.length / 3)
      in.addData(a.toSeq); q.processAllAvailable()
      // duplicated delivery: the grid is a pure function of the text,
      // so the repeat emits IDENTICAL rows (idempotent upsert key)
      in.addData(b.toSeq ++ a.take(5).toSeq); q.processAllAvailable()
      val rows = out.synchronized(out.toVector)
      assert(rows.toSet == batch,
        s"stream-only ${rows.toSet -- batch} batch-only ${batch -- rows.toSet}")
      val dup = rows.groupBy(identity).filter(_._2.size > 1).keys.map(_._1).toSet
      assert(dup == a.take(5).map(_._1).toSet,
        "re-delivered docs must re-emit byte-identical chunk rows")
    } finally q.stop()
  }

  test("WaterfillSampleStream: any-order replay against the published rates ≡ batch corpus_sample_waterfill; novel source drops") {
    import spark.implicits._
    val batch = graft.pipeline.Mixing.sampleWaterfill(tables).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val rates = graft.pipeline.Mixing.waterfillRates(tables)
    val docs = tables.documents.select("doc_id", "source")
      .as[(Long, String)].collect()

    val in = MemoryStream[(Long, String)]
    val out = mutable.Buffer.empty[(Long, String)]
    val q = Jobs.WaterfillSampleStream.sample(
      in.toDF().toDF("doc_id", "source"), rates)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r => (r.getLong(0), r.getString(1)))
        }; ()
      }.start()
    try {
      // reversed + split replay, plus a source the solver never saw:
      // no residue in the solved mix → dropped at rate 0
      val (a, b) = docs.reverse.splitAt(docs.length / 3)
      in.addData(a.toSeq :+ (999999L, "novel_source"))
      q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      val got = out.synchronized(out.toSet)
      assert(got == batch,
        s"stream-only ${got -- batch}, batch-only ${batch -- got}")
      assert(!got.exists(_._1 == 999999L), "novel source must drop")
    } finally q.stop()
  }

  test("BloomGateStream: any-order replay against the published filter ≡ batch bloom_dup_candidates") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, max => smax}
    val batch = graft.dedup.Bloom.bloomDupCandidates(tables).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cutoff = tables.documents.agg(smax(col("doc_id")))
      .head.getLong(0) / 2
    val published = graft.dedup.Bloom.bloomArray(graft.dedup.Bloom
      .bloomOf(tables.documents.filter(col("doc_id") <= cutoff)))
    val docs = tables.documents.select("doc_id", "text")
      .as[(Long, String)].collect()

    val in = MemoryStream[(Long, String)]
    val out = mutable.Buffer.empty[(Long, Int)]
    val q = Jobs.BloomGateStream.hits(
      in.toDF().toDF("doc_id", "text"), published)
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r => (r.getLong(0), r.getInt(1)))
        }; ()
      }.start()
    try {
      in.addData(docs.reverse.toSeq)
      q.processAllAvailable()
      val got = out.synchronized(out.toMap)
      assert(got == batch, "stateless gate must replay batch bit-for-bit")
      assert(got.valuesIterator.exists(_ == 1) &&
        got.valuesIterator.exists(_ == 0), "degenerate fixture")
    } finally q.stop()
  }

  test("CountMinStream: shuffled two-batch replay — latest cell emissions ≡ batch sketch; state bounded") {
    import spark.implicits._
    val batch = graft.operators.Sketches.countMinSketch(tables).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val texts = tables.documents.select("text").as[String].collect()

    val in = MemoryStream[String]
    // update-mode emissions: LAST value per cell wins
    val cells = mutable.Map.empty[(Int, Long), Long]
    val q = Jobs.CountMinStream.sketch(in.toDF().toDF("text"))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("graft-cm-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        cells.synchronized {
          b.collect().foreach(r =>
            cells((r.getInt(0), r.getLong(1))) = r.getLong(2))
        }; ()
      }.start()
    try {
      // deterministic shuffle: odd-indexed docs first, then even
      val (odd, even) = texts.zipWithIndex.partition(_._2 % 2 == 1)
      in.addData(odd.map(_._1).toSeq)
      q.processAllAvailable()
      in.addData(even.map(_._1).toSeq)
      q.processAllAvailable()
      val got = cells.synchronized(cells.toMap)
      assert(got == batch, "running grid must converge to the batch sketch")
      assert(got.size <= graft.operators.Sketches.CmDepth *
        graft.operators.Sketches.CmWidth, "state exceeded the grid bound")
    } finally q.stop()
  }

  test("MediaFeaturesStream: any-order replay ≡ batch multimodal_features per doc") {
    import spark.implicits._
    val batch = graft.multimodal.Multimodal.multimodalFeatures(tables)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
    val docs = tables.documents.select("doc_id", "text")
      .as[(Long, String)].collect()

    val in = MemoryStream[(Long, String)]
    val out = mutable.Map.empty[Long, (Long, Int, Int, Long, Long, Double)]
    val q = Jobs.MediaFeaturesStream.features(
      in.toDF().toDF("doc_id", "text"))
      .writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          b.collect().foreach(r => out(r.getLong(0)) =
            (r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4),
              r.getLong(5), r.getDouble(6)))
        }; ()
      }.start()
    try {
      in.addData(docs.reverse.toSeq)
      q.processAllAvailable()
      assert(out.synchronized(out.toMap) == batch)
    } finally q.stop()
  }

  test("RetentionStream: in-order two-batch replay — latest cell emissions ≡ batch event_retention") {
    import spark.implicits._
    val batch = graft.operators.Sequences.eventRetention(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val events = tables.events
      .select("user_id", "ts_sec").as[(Long, Long)].collect()
      .sortBy(_._2)

    val in = MemoryStream[(Long, Long)]
    val cells = mutable.Map.empty[(Long, Long), Long]
    val q = Jobs.RetentionStream.cells(
      in.toDF().toDF("user_id", "ts_sec"))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("graft-ret-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        cells.synchronized {
          b.collect().foreach(r =>
            cells((r.getLong(0), r.getLong(1))) = r.getLong(2))
        }; ()
      }.start()
    try {
      val (a, b) = events.splitAt(events.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      assert(cells.synchronized(cells.toMap) == batch,
        "running matrix must converge to the batch retention cells")
    } finally q.stop()
  }

  test("PathCountStream: in-order split replay ≡ batch path counts; trigrams cross the boundary") {
    import spark.implicits._
    val batch = graft.operators.Sequences.eventPathCounts(tables).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val events = tables.events
      .select("user_id", "ts_sec", "event_id", "event_type")
      .as[(Long, Long, Long, String)].collect()
      .sortBy(r => (r._2, r._3))

    val in = MemoryStream[(Long, Long, Long, String)]
    val counts = mutable.Map.empty[String, Long]
    val q = Jobs.PathCountStream.counts(
      in.toDF().toDF("user_id", "ts_sec", "event_id", "event_type"))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("graft-path-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        counts.synchronized {
          b.collect().foreach(r => counts(r.getString(0)) = r.getLong(1))
        }; ()
      }.start()
    try {
      // split mid-stream: some user's trigram window MUST straddle it
      // (150 users, thousands of events — every user is mid-journey)
      val (a, b) = events.splitAt(events.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      val afterA = counts.synchronized(counts.values.sum)
      in.addData(b.toSeq); q.processAllAvailable()
      val got = counts.synchronized(counts.toMap)
      assert(got == batch,
        "running path counts must converge to batch eventPathCounts")
      assert(afterA < got.values.sum,
        "second batch must add paths (state carried the open window)")
    } finally q.stop()
  }

  test("HllUniquesStream: any-order replay + duplicate delivery converge to batch est6 exactly") {
    import spark.implicits._
    val batchEst = graft.operators.Sketches.eventDailyUniquesEst(tables)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val events = tables.events
      .select("user_id", "ts_sec").as[(Long, Long)].collect()

    val in = MemoryStream[(Long, Long)]
    val est = mutable.Map.empty[Long, (Long, Double)]
    val q = Jobs.HllUniquesStream.estimates(
      in.toDF().toDF("user_id", "ts_sec"))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("graft-hll-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        est.synchronized {
          b.collect().foreach(r =>
            est(r.getLong(0)) = (r.getLong(1), r.getDouble(2)))
        }; ()
      }.start()
    try {
      // REVERSE order + the first half delivered twice: register max
      // is order-insensitive and idempotent, so the final estimates
      // must still equal the batch entry bit-for-bit
      val (a, b) = events.reverse.splitAt(events.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      in.addData(a.toSeq); q.processAllAvailable()
      assert(est.synchronized(est.toMap) == batchEst,
        "stream estimates must converge to batch est6 exactly")
    } finally q.stop()
  }

  test("AnomalyStream: shuffled replay converges to batch event_daily_anomaly bit-for-bit") {
    import spark.implicits._
    val batch = graft.operators.Sequences.eventDailyAnomaly(tables)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val stats = graft.operators.Sequences.dailyStats(tables).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3)))).toMap
    val events = tables.events
      .select("event_type", "ts_sec").as[(String, Long)].collect()

    val in = MemoryStream[(String, Long)]
    val out = mutable.Map.empty[(String, Long), (Long, Double)]
    val q = Jobs.AnomalyStream.zscores(
      in.toDF().toDF("event_type", "ts_sec"), stats)
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("graft-anom-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          b.collect().foreach(r =>
            out((r.getString(0), r.getLong(1))) =
              (r.getLong(2), r.getDouble(3)))
        }; ()
      }.start()
    try {
      // reverse order across two micro-batches: counts accumulate in
      // any order; only the FINAL emission per (type, day) must match
      val (a, b) = events.reverse.splitAt(events.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      assert(out.synchronized(out.toMap) == batch,
        "final streamed z-scores must equal the batch entry")
    } finally q.stop()
  }

  test("QualityGateStream: stateless replay ≡ batch quality_classify bit-for-bit in any order") {
    import spark.implicits._
    val w = graft.textanalysis.QualityModel.storedWeights(tables)
    val batch = graft.textanalysis.QualityModel.qualityClassify(tables)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2))))
      .toMap
    val docs = tables.documents.select("doc_id", "text", "n_chars")
      .as[(Long, String, Long)].collect()

    val in = MemoryStream[(Long, String, Long)]
    val out = mutable.Map.empty[Long, (Double, Int)]
    val q = Jobs.QualityGateStream.verdicts(
      in.toDF().toDF("doc_id", "text", "n_chars"), w)
      .writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", tmp("graft-qgate-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          b.collect().foreach(r =>
            out(r.getLong(0)) = (r.getDouble(1), r.getInt(2)))
        }; ()
      }.start()
    try {
      val (a, b) = docs.reverse.splitAt(docs.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      assert(out.synchronized(out.toMap) == batch,
        "streamed verdicts must equal the batch entry bit-for-bit")
    } finally q.stop()
  }

  test("ForgetStream: any-order tombstone replay + duplicate delivery ≡ batch forget_keepers; non-clustered requests drop out") {
    import spark.implicits._
    val batch = graft.pipeline.Forget.forgetKeepers(tables).collect()
      .map(r => r.getLong(0) -> (
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        r.getLong(2), r.getLong(3))).toMap
    assume(batch.nonEmpty, "corpus must have touched clusters at this sf")
    // the deletion batch = every doc the hash rule tombstones,
    // INCLUDING non-clustered docs (the stream must ignore those)
    def tomb(id: Long): Boolean =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"forget|$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.startsWith("0")
    val requests = tables.documents.select("doc_id").collect()
      .map(_.getLong(0)).filter(tomb)

    val in = MemoryStream[Long]
    val out = mutable.Map.empty[Long, (Option[Long], Long, Long)]
    val q = Jobs.ForgetStream.reelections(
      in.toDF().toDF("doc_id"), tables)
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("graft-forget-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        out.synchronized {
          b.collect().foreach(r => out(r.getLong(0)) = (
            if (r.isNullAt(1)) None else Some(r.getLong(1)),
            r.getLong(2), r.getLong(3)))
        }; ()
      }.start()
    try {
      // REVERSE order, first half delivered twice: set union is
      // idempotent and order-insensitive
      val (a, b) = requests.reverse.splitAt(requests.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      in.addData(a.toSeq); q.processAllAvailable()
      assert(out.synchronized(out.toMap) == batch,
        "final re-election verdicts must equal batch forget_keepers")
    } finally q.stop()
  }

  test("KmvSketchStream: any-order replay + duplicate delivery converge to batch sketch_kmv exactly; state bounded by k") {
    import spark.implicits._
    val batchSketch = graft.operators.Sketches.kmvSketch(tables).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val docs = tables.documents
      .select("source", "text").as[(String, String)].collect()

    val in = MemoryStream[(String, String)]
    // latest full-sketch emission per source wins (update-mode publish)
    val sk = mutable.Map.empty[String, Seq[(Int, Long)]]
    val q = Jobs.KmvSketchStream.sketches(
      in.toDF().toDF("source", "text"))
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", tmp("graft-kmv-ck"))
      .foreachBatch { (b: DataFrame, _: Long) =>
        sk.synchronized {
          b.collect().groupBy(_.getString(0)).foreach { case (s, rows) =>
            sk(s) = rows.map(r => (r.getInt(1), r.getLong(2))).toSeq.sortBy(_._1)
          }
        }; ()
      }.start()
    try {
      // REVERSE order + the first half delivered twice: the
      // distinct-insert/truncate merge is order-insensitive and
      // idempotent, so the final sketches equal batch exactly
      val (a, b) = docs.reverse.splitAt(docs.length / 2)
      in.addData(a.toSeq); q.processAllAvailable()
      in.addData(b.toSeq); q.processAllAvailable()
      in.addData(a.toSeq); q.processAllAvailable()
      val got = sk.synchronized(sk.toMap).flatMap { case (s, rows) =>
        rows.map { case (rk, hv) => (s, rk) -> hv }
      }
      assert(got == batchSketch,
        "stream sketches must converge to the batch sketch exactly")
      // state bound: no source's sketch ever exceeds k rows
      assert(sk.synchronized(sk.values.forall(
        _.length <= graft.operators.Sketches.KmvK)))
    } finally q.stop()
  }

  test("IntervalJoinStream: replay ≡ batch event_interval_join; cross-batch pairs survive") {
    import spark.implicits._
    val events = Seq(
      (1L, 100L, 1L, "click"), (4L, 1000L, 1L, "click"),
      (2L, 200L, 1L, "purchase"),  // ← click 1
      (3L, 2500L, 1L, "purchase"), // ← click 4 only (2400 s from click 1)
      (5L, 9000L, 1L, "purchase"), // unattributed
      (6L, 1700L, 2L, "click"),
      (7L, 1900L, 2L, "purchase"), // ← click 6
      (8L, 99L, 1L, "view"))       // ignored type
    val dir = tmp("graft-ivj-batch")
    writeSeqEvents(dir, events)
    val batch = graft.operators.Sequences
      .eventIntervalJoin(graft.Tables(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(5))).toSet

    val in = MemoryStream[(Timestamp, Long, String, Long)]
    val pairs = Jobs.IntervalJoinStream.pairs(
      in.toDF().toDF("ts", "user_id", "event_type", "event_id"))
    val q = pairs.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ivj_pairs").start()
    try {
      val t = (s: Long) => new Timestamp(s * 1000)
      val rows = events.map { case (id, ts, u, ty) => (t(ts), u, ty, id) }
      // split mid-stream: click 4 arrives in batch 1, the purchase it
      // attributes (id 3) in batch 2 — the pair must cross the boundary
      in.addData(rows.take(4))
      q.processAllAvailable()
      in.addData(rows.drop(4))
      q.processAllAvailable()
      val got = spark.table("ivj_pairs")
        .select("purchase_id", "click_id", "lag_sec")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == batch, s"stream $got != batch $batch")
      assert(got == Set((2L, 1L, 100L), (3L, 4L, 1500L), (7L, 6L, 200L)))
    } finally q.stop()
  }

  test("IntervalJoinStream.pairsOuter: watermark releases unattributed purchases with null clicks") {
    import spark.implicits._
    val in = MemoryStream[(Timestamp, Long, String, Long)]
    val outer = Jobs.IntervalJoinStream.pairsOuter(
      in.toDF().toDF("ts", "user_id", "event_type", "event_id"))
    val q = outer.writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ivj_outer").start()
    try {
      val t = (s: Long) => new Timestamp(s * 1000)
      in.addData(Seq(
        (t(100), 1L, "click", 1L),
        (t(200), 1L, "purchase", 2L),   // attributed
        (t(9000), 2L, "purchase", 3L))) // nothing can ever attribute it...
      q.processAllAvailable()
      val early = spark.table("ivj_outer")
        .filter(col("purchase_id") === 3L).count()
      assert(early == 0L,
        "null row must NOT emit before the watermark proves no click can come")
      // ...but only the watermark may say so: push it far past 9000+1800
      in.addData(Seq((t(50000), 3L, "click", 90L),
        (t(50000), 3L, "purchase", 91L)))
      q.processAllAvailable()
      in.addData(Seq((t(99000), 4L, "click", 92L),
        (t(99000), 4L, "purchase", 93L)))
      q.processAllAvailable()
      val got = spark.table("ivj_outer")
        .select("purchase_id", "click_id")
        .as[(Long, Option[Long])].collect()
        .filter(p => p._1 <= 3L).toSet
      assert(got == Set((2L, Some(1L)), (3L, None)),
        s"outer join must attribute 2 and null-release 3, got $got")
    } finally q.stop()
  }

  test("stream-stream joins carry state-cleanup watermarks on BOTH sides") {
    // VERDICT r12 #5: StreamingJoinHelper logs a "[INTERNAL_ERROR]
    // Cannot evaluate expression" WARN per non-time conjunct it probes
    // while solving the state watermark (MinhashCandidates' `doc_a <
    // doc_b`, the interval join's `user_id = c_user`) — the solver
    // tries EVERY `<`/`<=` conjunct and logs before discarding the
    // ones that don't relate the two event-time columns. The noise is
    // harmless ONLY IF extraction then succeeds from the time-interval
    // conjuncts; this pins that it did — a defined predicate per side
    // in the executed plan is the engine's own proof it can evict
    // state at the watermark, i.e. join state is bounded, not
    // accumulate-forever.
    import spark.implicits._
    def bothSides(q: org.apache.spark.sql.streaming.StreamingQuery,
                  label: String): Unit = {
      val wms = org.apache.spark.sql.graft.StreamingPlanProbe
        .joinStateWatermarks(q)
      assert(wms.nonEmpty, s"$label: no stream-stream join in plan")
      wms.foreach { case (l, r) =>
        assert(l.isDefined && r.isDefined,
          s"$label: missing state watermark (left=$l, right=$r) — " +
            "that side's join state would grow forever")
      }
    }
    val t = (s: Long) => new Timestamp(s * 1000)

    val ivIn = MemoryStream[(Timestamp, Long, String, Long)]
    val ivq = Jobs.IntervalJoinStream.pairs(
      ivIn.toDF().toDF("ts", "user_id", "event_type", "event_id"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ivj_wm_pin").start()
    try {
      ivIn.addData(Seq((t(100), 1L, "click", 1L), (t(200), 1L, "purchase", 2L)))
      ivq.processAllAvailable()
      bothSides(ivq, "IntervalJoinStream.pairs")
    } finally ivq.stop()

    val mhIn = MemoryStream[(Timestamp, Long, String)]
    val mhq = Jobs.MinhashCandidates.candidates(
      mhIn.toDF().toDF("ts", "doc_id", "text"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("mh_wm_pin").start()
    try {
      val txt = (1 to 12).map(i => s"tok$i").mkString(" ")
      mhIn.addData(Seq((t(10), 1L, txt), (t(11), 2L, txt)))
      mhq.processAllAvailable()
      bothSides(mhq, "MinhashCandidates.candidates")
    } finally mhq.stop()
  }

  test("GapfillStream: watermark-closed days emit FINAL counts including zeros; timers close silent types") {
    import spark.implicits._
    val t = (daySec: Long) => new Timestamp(daySec * 1000)
    val day = 86400L
    val in = MemoryStream[(Timestamp, String)]
    val q = Jobs.GapfillStream.dailyFinal(
      in.toDF().toDF("ts", "event_type"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gapfill_stream").start()
    try {
      // batch 1: a on days 0 (twice) and 3, b on day 1, sentinel c on
      // day 6. processAllAvailable runs the follow-up batch where the
      // watermark (= the day-6 event) is already applied, so days 0..5
      // close for a and b right here — with NO a/b data in that
      // follow-up batch, their rows (including every zero) arrive via
      // event-time TIMERS
      in.addData(Seq(
        (t(10), "a"), (t(20), "a"), (t(3 * day + 5), "a"),
        (t(day + 7), "b"), (t(6 * day + 10), "c")))
      q.processAllAvailable()

      // a later day-9 sentinel advances the watermark again: days 6..8
      // close for every type — a and b keep emitting pure zeros (the
      // went-silent alert), c's day 6 count finalizes — and no closed
      // row is ever re-emitted or changed
      in.addData(Seq((t(9 * day + 10), "c")))
      q.processAllAvailable()
      val got = spark.table("gapfill_stream")
        .as[(String, Long, Long)].collect().toSet
      val want = Set(
        ("a", 0L, 2L), ("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 1L),
        ("a", 4L, 0L), ("a", 5L, 0L), ("a", 6L, 0L), ("a", 7L, 0L),
        ("a", 8L, 0L),
        ("b", 1L, 1L), ("b", 2L, 0L), ("b", 3L, 0L), ("b", 4L, 0L),
        ("b", 5L, 0L), ("b", 6L, 0L), ("b", 7L, 0L), ("b", 8L, 0L),
        ("c", 6L, 1L), ("c", 7L, 0L), ("c", 8L, 0L))
      assert(got == want,
        s"closed-day rows wrong: extra=${got -- want} missing=${want -- got}")
      assert(spark.table("gapfill_stream").count() == want.size,
        "closed rows must be emitted exactly once")

      // the closed span agrees with the batch gap-fill on the same
      // rows (restricted to each type's own spine start, days < 9)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-gapfill-live").toString
      Seq((1L, 10L, "a"), (2L, 20L, "a"), (3L, 3 * day + 5, "a"),
        (4L, day + 7, "b"), (5L, 6 * day + 10, "c"),
        (6L, 9 * day + 10, "c"))
        .toDF("event_id", "ts_sec_in", "event_type")
        .selectExpr("event_id", "ts_sec_in * 1000000000 AS ts",
          "CAST(1 AS BIGINT) AS user_id", "event_type",
          "CAST(1.0 AS DOUBLE) AS value", "'' AS props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val firstDay = Map("a" -> 0L, "b" -> 1L, "c" -> 6L)
      val batch = graft.operators.Timeline.eventGapfill(
        graft.Tables(spark, dir)).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .filter { case (ty, d, _) =>
          d < 9 && firstDay.get(ty).exists(d >= _) }
        .toSet
      assert(got == batch, s"stream ${got} != batch-closed-span $batch")
    } finally q.stop()
  }

  test("GapfillStream.lateLedger: rejected late arrivals surface as delta rows; finals stay immutable") {
    import spark.implicits._
    val t = (daySec: Long) => new Timestamp(daySec * 1000)
    val day = 86400L
    val in = MemoryStream[(Timestamp, String)]
    val qf = Jobs.GapfillStream.dailyFinal(
      in.toDF().toDF("ts", "event_type"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gapfill_final2").start()
    val ql = Jobs.GapfillStream.lateLedger(
      in.toDF().toDF("ts", "event_type"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gapfill_late").start()
    try {
      // base at day 100 (the ledger's slack-lagged watermark clamps
      // at 0 for event times within slackDays of the epoch — real
      // data is decades past it). Day-100 data + a day-106 sentinel;
      // the follow-up batch closes 100..105
      val b = 100L
      in.addData(Seq((t(b * day + 10), "a"), (t((b + 6) * day + 10), "a")))
      qf.processAllAvailable(); ql.processAllAvailable()
      // two arrivals for the long-closed day 100, one for day 103:
      // the main query's watermark (day 106) rejects all three
      // pre-operator
      in.addData(Seq((t(b * day + 20), "a"), (t(b * day + 30), "a"),
        (t((b + 3) * day + 1), "a")))
      qf.processAllAvailable(); ql.processAllAvailable()

      val finals = spark.table("gapfill_final2")
        .as[(String, Long, Long)].collect()
        .map(r => (r._2, r._3)).toSet
      assert(finals == Set((b, 1L), (b + 1, 0L), (b + 2, 0L), (b + 3, 0L),
        (b + 4, 0L), (b + 5, 0L)),
        s"finals must not change on late data: $finals")
      val late = spark.table("gapfill_late")
        .as[(String, Long, Long)].collect()
        .map(r => (r._2, r._3)).toSet
      assert(late == Set((b, 2L), (b + 3, 1L)),
        s"late deltas wrong: $late — a zero day with a nonzero ledger " +
          "means wrong, not silent")
    } finally { qf.stop(); ql.stop() }
  }

  test("GapfillStream.foldDays: spine init is order-independent; future-pinned inits re-open, closure floors never do") {
    import Jobs.GapfillStream.{GapState, foldDays}
    val empty = GapState(Long.MinValue, Map.empty)
    // fMGWS gives no within-group order: {5,3} and {3,5} must fold
    // identically, spine starting at the batch MIN (old code pinned
    // lastClosed=4 when 5 iterated first and silently dropped day 3)
    val a = foldDays(empty, Iterator(5L, 3L), wmDay = 0L)
    val b = foldDays(empty, Iterator(3L, 5L), wmDay = 0L)
    assert(a == b && a == GapState(2L, Map(3L -> 1L, 5L -> 1L)))

    // future-skewed first batch pins lastClosed=99 ahead of the
    // watermark; a later legitimate (engine-accepted) batch must
    // RE-OPEN the spine, not be swallowed or later emitted as zeros
    val skew = foldDays(empty, Iterator(100L), wmDay = 0L)
    assert(skew == GapState(99L, Map(100L -> 1L)))
    val reopened = foldDays(skew, Iterator(7L, 4L), wmDay = 0L)
    assert(reopened == GapState(3L,
      Map(4L -> 1L, 7L -> 1L, 100L -> 1L)))

    // a closure-set floor (always wmDay' - 1, strictly below every
    // engine-accepted day) is never lowered: days count on top of it
    val closed = GapState(9L, Map.empty) // closure at wmDay' = 10
    assert(foldDays(closed, Iterator(10L, 12L), wmDay = 10L) ==
      GapState(9L, Map(10L -> 1L, 12L -> 1L)))
    // empty slice (timer-only wake) is a no-op
    assert(foldDays(closed, Iterator.empty, wmDay = 10L) == closed)
  }

  test("GapfillStream: same-batch multi-day arrivals all count regardless of iteration order") {
    import spark.implicits._
    val t = (daySec: Long) => new Timestamp(daySec * 1000)
    val day = 86400L
    val in = MemoryStream[(Timestamp, String)]
    val q = Jobs.GapfillStream.dailyFinal(
      in.toDF().toDF("ts", "event_type"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gapfill_order").start()
    try {
      // one batch, one type, days {5, 3} together (plus a day-8
      // sentinel to close them): whichever event the group iterator
      // yields first, day 3 must finalize at n=1 — not as a zero
      in.addData(Seq((t(5 * day + 10), "a"), (t(3 * day + 10), "a"),
        (t(8 * day + 10), "z")))
      q.processAllAvailable()
      val got = spark.table("gapfill_order")
        .as[(String, Long, Long)].collect()
        .filter(_._1 == "a").map(r => (r._2, r._3)).toSet
      assert(got == Set((3L, 1L), (4L, 0L), (5L, 1L), (6L, 0L), (7L, 0L)),
        s"multi-day batch miscounted: $got")
    } finally q.stop()
  }

  test("GapfillStream.lateLedger: epoch-adjacent corpus (clamped watermark) stays conservatively silent") {
    import spark.implicits._
    val t = (daySec: Long) => new Timestamp(daySec * 1000)
    val day = 86400L
    val in = MemoryStream[(Timestamp, String)]
    val qf = Jobs.GapfillStream.dailyFinal(
      in.toDF().toDF("ts", "event_type"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gapfill_final_epoch").start()
    val ql = Jobs.GapfillStream.lateLedger(
      in.toDF().toDF("ts", "event_type"))
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("gapfill_late_epoch").start()
    try {
      // every event within slackDays(=10) of the epoch: the ledger's
      // lagged watermark clamps at 0, indistinguishable from unset —
      // the documented guard treats both as "nothing closed yet"
      in.addData(Seq((t(2 * day + 10), "a"), (t(8 * day + 10), "a")))
      qf.processAllAvailable(); ql.processAllAvailable()
      // day 3 is genuinely late for the MAIN query (its watermark is
      // day 8) — rejected there pre-operator...
      in.addData(Seq((t(3 * day + 1), "a")))
      qf.processAllAvailable(); ql.processAllAvailable()
      val finals = spark.table("gapfill_final_epoch")
        .as[(String, Long, Long)].collect()
        .map(r => (r._2, r._3)).toSet
      assert(finals == Set((2L, 1L), (3L, 0L), (4L, 0L), (5L, 0L),
        (6L, 0L), (7L, 0L)), s"finals wrong: $finals")
      // ...but the ledger must emit NOTHING: with a clamped (0)
      // watermark it cannot distinguish closed from open, and a false
      // "late" claim would be worse than the documented loss. The
      // epoch window is the audit blind spot, pinned here rather
      // than argued.
      assert(spark.table("gapfill_late_epoch").count() == 0L,
        "clamped-watermark ledger must not fabricate late deltas")
    } finally { qf.stop(); ql.stop() }
  }

  test("FreshnessStream: shuffled replay converges to per-type batch max/count; state bounded by |types|") {
    import spark.implicits._
    val rows = graft.Tables(spark, sfDir).events
      .select(col("event_type"), col("ts_sec"))
      .as[(String, Long)].collect()
    assert(rows.length > 10)
    val in = MemoryStream[(Timestamp, String)]
    val q = Jobs.FreshnessStream.lastSeen(
      in.toDF().toDF("ts", "event_type"))
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("freshness_live").start()
    try {
      // reversed then forward halves — arrival order must not matter
      val (h1, h2) = rows.reverse.splitAt(rows.length / 2)
      in.addData(h1.map { case (ty, s) => (new Timestamp(s * 1000), ty) })
      q.processAllAvailable()
      in.addData(h2.map { case (ty, s) => (new Timestamp(s * 1000), ty) })
      q.processAllAvailable()
      // update mode re-emits per batch; both columns are monotone per
      // type, so the final emission is the componentwise max
      val live = spark.table("freshness_live")
        .as[(String, Long, Long)].collect()
        .groupBy(_._1)
        .map { case (ty, xs) =>
          ty -> (xs.map(_._2).max, xs.map(_._3).max) }
      val want = rows.groupBy(_._1).map { case (ty, xs) =>
        ty -> (xs.map(_._2).max, xs.length.toLong) }
      assert(live == want,
        s"live last-seen diverges: $live vs $want")
      // one state row per type — the bounded-state contract
      val stateRows = q.recentProgress.flatMap(_.stateOperators)
        .lastOption.map(_.numRowsTotal)
      assert(stateRows.contains(want.size.toLong),
        s"state rows $stateRows != |types| ${want.size}")
    } finally q.stop()
  }

  test("InterleaveStream: live positions continue shipped residue classes gap-free; novel source dead-letters") {
    import spark.implicits._
    import Jobs.InterleaveStream.SourceCursor
    // shipped interleave artifact: S=2; source a shipped 3 ranks,
    // b shipped 5
    val boundary = Map("a" -> SourceCursor(0L, 3L),
      "b" -> SourceCursor(1L, 5L))
    val in = MemoryStream[(Long, String)]
    val q = Jobs.InterleaveStream.positions(
      in.toDF().toDF("doc_id", "source"), boundary)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("interleave_live").start()
    try {
      in.addData(Seq((101L, "a"), (102L, "b"), (103L, "a"),
        (104L, "zzz")))
      q.processAllAvailable()
      in.addData(Seq((105L, "a"), (106L, "b")))
      q.processAllAvailable()
      val got = spark.table("interleave_live")
        .as[(Long, String, Long)].collect()
      assert(got.length == 6)
      // novel source dead-letters with the sentinel, kills nothing
      assert(got.filter(_._2 == "zzz").map(_._3).toSeq == Seq(-1L))
      // residue classes continue exactly after the shipped ranks:
      // a → ranks 3,4,5 → positions {6,8,10}; b → ranks 5,6 → {11,13}
      assert(got.filter(_._2 == "a").map(_._3).toSet == Set(6L, 8L, 10L))
      assert(got.filter(_._2 == "b").map(_._3).toSet == Set(11L, 13L))
      // arrival order is the rank order across batches: batch-2 docs
      // rank after batch-1 docs of the same source
      val aPos = got.filter(_._2 == "a")
        .map { case (id, _, p) => (id, p) }.toMap
      assert(aPos(105L) == 10L, s"batch-2 arrival must take the last rank: $aPos")
      // one counter per KNOWN source
      val stateRows = q.recentProgress.flatMap(_.stateOperators)
        .lastOption.map(_.numRowsTotal)
      assert(stateRows.contains(2L), s"state rows $stateRows != 2")
    } finally q.stop()
  }

  test("Scd2Stream: in-order two-batch replay ≡ batch scd2_history; state = one row per user") {
    import spark.implicits._
    val rows = graft.Tables(spark, sfDir).events
      .select(col("user_id"), col("ts_sec"), col("event_id"),
        col("event_type"))
      .as[(Long, Long, Long, String)].collect()
      .sortBy(e => (e._2, e._3)) // global event-time order ⇒ per-user order
    assert(rows.length > 10)

    val in = MemoryStream[(Long, Long, Long, String)]
    val out = mutable.Buffer.empty[(Long, (Long, Long, String, Long, Option[Long], Long))]
    val q = Jobs.Scd2Stream.intervals(
      in.toDF().toDF("user_id", "ts_sec", "event_id", "event_type"))
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        df.collect().foreach { r =>
          out += id -> ((r.getLong(0), r.getLong(1), r.getString(2),
            r.getLong(3), if (r.isNullAt(4)) None else Some(r.getLong(4)),
            r.getLong(5)))
        }
        ()
      }.start()
    try {
      // split mid-timeline: open intervals from batch 1 must close or
      // grow correctly in batch 2
      in.addData(rows.take(rows.length / 2).toSeq)
      q.processAllAvailable()
      in.addData(rows.drop(rows.length / 2).toSeq)
      q.processAllAvailable()

      // upsert semantics: last batch's write per (user, version) wins
      val live = out.sortBy(_._1).map(_._2)
        .groupBy(e => (e._1, e._2)).map(_._2.last).toSet
      val batch = graft.operators.Timeline.scd2History(
        graft.Tables(spark, sfDir)).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5)))
        .toSet
      assert(live == batch,
        s"stream upsert view diverges from batch SCD-2: " +
          s"extra=${live -- batch} missing=${batch -- live}")

      // bounded state: exactly ONE open-interval row per user
      val nUsers = rows.map(_._1).distinct.length.toLong
      val stateRows = q.recentProgress.flatMap(_.stateOperators)
        .lastOption.map(_.numRowsTotal)
      assert(stateRows.contains(nUsers),
        s"state must be one row per user ($nUsers), got $stateRows")
    } finally q.stop()
  }
}
