package graft.perfbench

import graft.Tables
import graft.dedup.Dedup
import graft.pipeline.{ChunkSemantic, CorpusClean, Intake, Mixing}
import graft.textanalysis.TextAnalysis
import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** `corpus_intake`: a seeded base corpus grows by one landed segment per
  * round; each round runs `Intake.corpusAdmit` twice — right after the
  * landing (grow: the incremental stores append and inventory-keyed
  * stores rebuild) and again unchanged (warm: store reads only).
  *
  * The only workload that runs dedup, textanalysis, pipeline and the
  * stores, and the shuffle-heavy one. Grow vs warm puts store writes next
  * to store reads, so a store change that speeds one and slows the other
  * shows.
  */
object CorpusIntake {
  /** The six admission gates, each timed alone in traced rounds. */
  val Gates: Seq[(String, Tables => DataFrame)] = Seq(
    "clean" -> CorpusClean.corpusCleanUnsorted,
    "repetition" -> TextAnalysis.qualityRepetitionUnsorted,
    "neardup" -> Dedup.dedupMinhashBucketedUnsorted,
    "containment" -> Dedup.dedupContainmentUnsorted,
    "semdup" -> ChunkSemantic.docSemanticDupFracUnsorted,
    "ccnet" -> Mixing.ccnetBucketBoundedUnsorted)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def run(spark: SparkSession, cfg: Config, res: Result): Unit = {
    val dir = cfg.data.resolve("corpus")
    val docs = dir.resolve("documents.parquet")
    val landing = dir.resolve("landing")
    val warehouse = cfg.work.resolve("warehouse")
    val t = Tables(spark, dir.toString)
    // An admit call hands the admitted documents to the caller; the last
    // one's rows are checked after the run.
    var admitted = Seq.empty[String]
    def admit(): Unit = admitted = Intake.corpusAdmit(t).collect().map(_.toString).toSeq

    // Set-up: the cold base-store build (one cycle: a cold build is the
    // most expensive step of the whole benchmark).
    val off = new Tracer(spark, enabled = false)
    res.setup("warmup", Stats.secs(off.op(res.ops, "pipeline", "admit cold")(admit())))

    val segments = Files.list(landing).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    // Traced runs split the rounds: the first half untraced, the second
    // half traced, with every gate also timed alone.
    val untracedRounds = if (cfg.trace) segments.size / 2 else segments.size
    val tr = new Tracer(spark, enabled = true)
    val grow, warm, twarm = Seq.newBuilder[Double]
    var docsSeen, docSecs = 0.0
    var landedBytes, storeBytes = 0L
    var filesWritten, dirsCreated = 0L
    val gateGrow, gateWarm = collection.mutable.Map[String, Vector[Double]]()

    segments.zipWithIndex.foreach { case (seg, r) =>
      val traced = r >= untracedRounds
      if (traced && r == untracedRounds) tr.start()
      val ops = if (traced) tr else off
      landedBytes += Files.size(seg)
      Files.move(seg, docs.resolve(seg.getFileName), StandardCopyOption.ATOMIC_MOVE)
      val n = spark.read.parquet(docs.toString).count().toDouble

      // store writes: everything the grown corpus causes before the warm
      // admit (in traced rounds the gates alone run first and build)
      val before = Tree.of(warehouse)
      val written0 = fsBytesWritten
      if (traced) timeGates(tr, res, t, gateGrow)
      val g = ops.op(res.ops, "pipeline", "admit grow")(admit())
      storeBytes += fsBytesWritten - written0
      val after = Tree.of(warehouse)
      filesWritten += after.files.diff(before.files).size
      dirsCreated += after.dirs.diff(before.dirs).size
      if (traced) timeGates(tr, res, t, gateWarm)
      val w = ops.op(res.ops, "pipeline", "admit warm")(admit())
      if (!traced) {
        g.foreach(grow += _)
        w.foreach(warm += _)
        for (a <- g; b <- w) { docsSeen += 2 * n; docSecs += (a + b) / 1000 }
      } else w.foreach(twarm += _)
    }

    val warmMs = warm.result()
    Main.log(s"grow ${grow.result().map(_.round)} warm ${warmMs.map(_.round)}")
    res.put("throughput_per_s", docsSeen / docSecs)
    res.put("op_latency_ms", Stats.median(warmMs))
    res.put("op_latency_tail_ms", Stats.median(grow.result()))

    if (cfg.trace) {
      tr.drain()
      tr.stop()
      Layers.common(tr, res, Stats.median(twarm.result()), Stats.median(warmMs))
      Gates.foreach { case (g, _) =>
        res.put(s"gate.${g}_s", Stats.median(gateWarm(g)) / 1000)
        res.put(s"gate.${g}_grow_s", Stats.median(gateGrow(g)) / 1000)
      }
      res.put("store.bytes_written", storeBytes)
      res.put("store.files_written", filesWritten)
      res.put("store.dirs_created", dirsCreated)
      res.put("store.write_amp", storeBytes.toDouble / landedBytes)
      res.put("store.bytes_live", Tree.of(warehouse).bytes)
      tr.writeSpans(cfg.work.resolve("trace.jsonl"))
    }

    // Correctness, outside every timed window: the grown corpus's
    // admissions equal a from-scratch admit of the same files in a fresh
    // directory, whose stores are built cold. (The DuckDB oracle of
    // corpus_admit is checked by selfcheck.py on a traced run's output:
    // binding its SQL alone takes DuckDB over 30 s, more than a run.)
    val scratch = cfg.data.resolve("corpus-scratch").resolve("documents.parquet")
    Files.createDirectories(scratch)
    Files.list(docs).iterator().asScala.filter(_.toString.endsWith(".parquet"))
      .foreach(f => Files.copy(f, scratch.resolve(f.getFileName)))
    val grown = admitted.sorted
    val fresh = Intake.corpusAdmit(Tables(spark, scratch.getParent.toString))
      .collect().map(_.toString).sorted.toSeq
    res.check("corpus_intake.grown_equals_fresh", grown.nonEmpty && grown == fresh,
      s"${grown.size} rows grown vs ${fresh.size} from scratch; first difference " +
        s"${grown.zipAll(fresh, "-", "-").find(p => p._1 != p._2)}")
    if (cfg.trace) {
      val out = cfg.work.resolve("out")
      Intake.corpusAdmit(t).write.mode("overwrite").parquet(out.resolve("corpus_admit").toString)
      Oracle.writeSql(out, Seq("corpus_admit"))
    }
  }

  private def timeGates(tr: Tracer, res: Result, t: Tables,
                        into: collection.mutable.Map[String, Vector[Double]]): Unit =
    Gates.foreach { case (g, f) =>
      tr.op(res.ops, "gates", s"gate $g")(noop(f(t)))
        .foreach(ms => into(g) = into.getOrElse(g, Vector.empty) :+ ms)
    }

  /** Bytes written through Hadoop's local file system, all threads. */
  private def fsBytesWritten: Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
      .map(_.getBytesWritten).sum

  /** Files and directories under a root, with the bytes they hold. */
  private final case class Tree(files: Set[String], dirs: Set[String], bytes: Long)
  private object Tree {
    def of(root: Path): Tree =
      if (!Files.exists(root)) Tree(Set.empty, Set.empty, 0L)
      else {
        val all = Files.walk(root)
        try {
          val ps = all.iterator().asScala.toSeq
          val (d, f) = ps.partition(Files.isDirectory(_))
          Tree(f.map(_.toString).toSet, d.map(_.toString).toSet, f.map(Files.size).sum)
        } finally all.close()
      }
  }
}
