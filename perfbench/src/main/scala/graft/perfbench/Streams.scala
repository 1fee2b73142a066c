package graft.perfbench

import graft.streaming.{Jobs, Sinks, Sources}
import org.apache.spark.sql.{ForeachWriter, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import java.util.SplittableRandom
import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable

/** `stream_persist`: PersistWordCount + UpdateStateByKey. Zipf word lines
  * as Kafka-shaped records → running counts (RocksDB state, checkpointed)
  * → pooled JDBC inserts into embedded in-memory Derby, one row per
  * (epoch, word).
  *
  * A query is measured in windows of two phases:
  *
  *  1. open loop — a generator thread adds one chunk to a MemoryStream
  *     every `period`, on a schedule that does not slow when the query
  *     slows. A chunk's latency runs from its scheduled time to the end
  *     of the trigger that committed it.
  *  2. closed loop — one client adds a large chunk and waits for it to
  *     commit, again and again: the input rows committed per second is
  *     the stream's capacity.
  *
  * Trigger time keeps falling over a JVM's first windows as the JIT
  * compiles the per-trigger paths, so set-up runs `WarmWindows` windows
  * and the measured windows follow on the same query. Each metric is the
  * median over the measured windows, so a host stall during one window
  * does not set it. Every window pushes a fixed number of chunks, so two
  * runs of one seed feed identical input.
  */
object Streams {
  val OpenChunks = 300
  val WarmWindows = 2
  val MeasuredWindows = 3
  val OpenRowsPerSecond = 800
  val ClosedChunkRows = 5000
  val ClosedChunksPerSecond = 1.5

  def persist(spark: SparkSession, cfg: Config, res: Result): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    Class.forName(Derby.Driver)
    val rng = new SplittableRandom(cfg.seed)
    val zipf = new Zipf(20000, 1.0)
    var line = 0L
    def chunk(rows: Int): Seq[String] = Seq.fill(rows) {
      line += 1
      s"words\t$line\t" + Seq.fill(10)("w" + zipf.sample(rng)).mkString(" ")
    }
    var tables = 0
    var table = ""
    var tracedPool = ""
    def start(in: MemoryStream[String], traced: Boolean): StreamingQuery = {
      tables += 1
      table = s"wc$tables"
      Derby.exec(s"CREATE TABLE $table (epoch BIGINT NOT NULL, word VARCHAR(32) NOT NULL, " +
        "cnt BIGINT NOT NULL, PRIMARY KEY (epoch, word))")
      val writer = Sinks.jdbcWriter[(String, Long)](Derby.Url, Derby.Driver,
        s"INSERT INTO $table (epoch, word, cnt) VALUES (?, ?, ?)",
        (ps, row, epoch) => { ps.setLong(1, epoch); ps.setString(2, row._1); ps.setLong(3, row._2) },
        poolSize = Main.cores)
      if (traced) tracedPool = writer.poolId
      val sink: ForeachWriter[(String, Long)] = if (traced) new TimedWriter(writer) else writer
      val ckpt = cfg.work.resolve(s"ckpt$tables").toString
      Jobs.RunningCounts.writer(Sources.kafkaShaped(in.toDF()), ckpt).foreach(sink).start()
    }

    // A window's open loop takes six tenths of `seconds`, its closed loop
    // about two tenths.
    val period = cfg.seconds * 0.6 / OpenChunks
    val openRows = math.max(1, math.round(OpenRowsPerSecond * period).toInt)
    val closedChunks = math.max(2, math.round(cfg.seconds * 0.2 * ClosedChunksPerSecond).toInt)

    var lastFed = Seq.empty[String]
    /** A fresh query, primed by one untimed trigger that opens its state
      * stores. Its lines stay in `lastFed` for the check.
      */
    final class Query(tr: Tracer) {
      // A fixed partition count, as a topic has: by default MemoryStream
      // makes one partition per addData, so a trigger that ran slow would
      // give the next one more tasks, and the open loop would measure that.
      private val in = MemoryStream[String](Main.cores)
      private val q = start(in, traced = tr.enabled)
      private val fed = Seq.newBuilder[String]
      private val windows = Seq.newBuilder[Phase]
      feed(chunk(ClosedChunkRows / 2))
      q.processAllAvailable()

      /** Adds a chunk; returns the stream offset it ends at. */
      private def feed(c: Seq[String]): Long = { fed ++= c; in.addData(c).json().toLong }

      def window(): Phase = {
        val open = Seq.fill(OpenChunks)(chunk(openRows))
        val closed = Seq.fill(closedChunks)(chunk(ClosedChunkRows))
        val phase = new Phase
        phase.openLoop(open, period, res, tr, feed, () => q.processAllAvailable())
        phase.closedLoop(closed, res, tr, feed, () => q.processAllAvailable())
        windows += phase
        phase
      }

      /** Stops the query and hands every window its trigger progress. */
      def stop(): Unit = {
        q.stop()
        lastFed = fed.result()
        val progress = q.recentProgress.toSeq
        windows.result().foreach { p =>
          p.progress = progress
          val lat = p.latencies
          Main.log(f"window: open loop ${lat.size} chunks, p50 ${Stats.median(lat)}%.0f ms; " +
            f"closed loop ${p.closedRows} rows in ${p.closedSecs}%.2f s")
        }
      }
    }

    val off = new Tracer(spark, enabled = false)
    var query: Query = null
    res.setup("warmup", Stats.secs {
      query = new Query(off)
      (1 to WarmWindows).foreach(_ => query.window())
    })
    val measured = try Seq.fill(MeasuredWindows)(query.window()) finally query.stop()
    def median(f: Phase => Double) = Stats.median(measured.map(f))
    res.put("throughput_per_s", median(p => p.closedRows / p.closedSecs))
    res.put("op_latency_ms", median(p => Stats.median(p.latencies)))
    res.put("op_latency_tail_ms", median(p => Stats.quantile(p.latencies, 0.95)))

    if (cfg.trace) {
      // Traced run: a fresh query with spans and listeners on, one window
      // after priming; the per-layer numbers come from it alone, and the
      // overhead compares its median latency with the measured windows'.
      SinkTiming.reset()
      val tr = new Tracer(spark, enabled = true)
      tr.start()
      val tq = new Query(tr)
      val tp = try tq.window() finally tq.stop()
      tr.drain()
      tr.stop()
      Layers.common(tr, res, Stats.median(tp.latencies), median(p => Stats.median(p.latencies)))
      tp.report(tr, res)
      res.put("sink.rows", SinkTiming.rows.sum.toDouble)
      res.put("sink.conns_created",
        Sinks.ConnectionPools.getOrCreate[java.sql.Connection](tracedPool, () => null, 1).createdCount)
      res.put("sink.open_ms", SinkTiming.openNs.sum / 1e6)
      res.put("sink.process_ms", SinkTiming.processNs.sum / 1e6)
      res.put("sink.close_ms", SinkTiming.closeNs.sum / 1e6)
      tr.writeSpans(cfg.work.resolve("trace.jsonl"))
    }

    // Correctness: every word's last running total in the last query's
    // Derby table equals the exact count of that word in its lines.
    val expected = mutable.HashMap[String, Long]()
    lastFed.foreach(_.split('\t')(2).split(' ')
      .foreach(w => expected(w) = expected.getOrElse(w, 0L) + 1))
    val got = Derby.query(s"SELECT word, MAX(cnt) FROM $table GROUP BY word")
      .map(r => r(0) -> r(1).toLong).toMap
    val bad = expected.find { case (w, c) => !got.get(w).contains(c) }
    res.check("stream_persist.counts", bad.isEmpty && got.size == expected.size,
      s"${got.size} words in sink vs ${expected.size} generated; first bad ${bad.map(b => s"${b._1}: ${got.get(b._1)} vs ${b._2}")}")
  }

  /** One window's two phases and what they observed. */
  private final class Phase {
    private var due = Array.empty[Double]
    private var offsets = Array.empty[Long]
    private var lateMs = Array.empty[Double]
    private var openRows = Array.empty[Long]
    private var genEndMs = 0.0
    var closedRows = 0L
    var closedSecs = 0.0
    var progress: Seq[StreamingQueryProgress] = Nil

    def openLoop(chunks: Seq[Seq[String]], period: Double, res: Result, tr: Tracer,
                 feed: Seq[String] => Long, drain: () => Unit): Unit = {
      val n = chunks.size
      due = new Array[Double](n)
      offsets = new Array[Long](n)
      lateMs = new Array[Double](n)
      openRows = chunks.map(_.size.toLong).toArray
      val t0 = tr.now + 100
      val gen = new Thread(() => {
        var i = 0
        while (i < n) {
          due(i) = t0 + i * period * 1000
          val wait = due(i) - tr.now
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          lateMs(i) = tr.now - due(i)
          offsets(i) = feed(chunks(i))
          i += 1
        }
        genEndMs = tr.now
      }, "perfbench-generator")
      gen.start()
      gen.join()
      res.ops.attempted += 1
      try drain()
      catch { case e: Exception =>
        res.ops.failed += 1
        System.err.println(s"[perfbench] open loop failed: $e")
      }
    }

    def closedLoop(chunks: Seq[Seq[String]], res: Result, tr: Tracer,
                   feed: Seq[String] => Long, drain: () => Unit): Unit =
      chunks.foreach { c =>
        tr.op(res.ops, "streaming.Jobs", "closed-loop trigger") {
          feed(c)
          drain()
        }.foreach { ms => closedRows += c.size; closedSecs += ms / 1000 }
      }

    private def endMs(p: StreamingQueryProgress): Double =
      java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.getOrDefault("triggerExecution", 0L).toDouble

    private def endOffset(p: StreamingQueryProgress): Long =
      Option(p.sources.head.endOffset).map(_.toLong).getOrElse(-1L)

    /** Per open-loop chunk: end of the first trigger whose end offset
      * covers the chunk, minus the chunk's scheduled time.
      */
    def latencies: Seq[Double] = {
      val commits = progress.filter(_.numInputRows > 0).map(p => (endOffset(p), endMs(p)))
      offsets.indices.flatMap { i =>
        commits.find(_._1 >= offsets(i)).map(_._2 - due(i))
      }
    }

    def report(tr: Tracer, res: Result): Unit = {
      val data = progress.filter(_.numInputRows > 0)
      data.foreach { p =>
        val e = endMs(p)
        tr.record(0, "streaming.Jobs", s"trigger ${p.batchId}",
          e - p.durationMs.getOrDefault("triggerExecution", 0L), e,
          Map("rows" -> p.numInputRows.toDouble))
      }
      def p50(key: String) = Stats.median(data.map(_.durationMs.getOrDefault(key, 0L).toDouble))
      res.put("trigger.count", data.size)
      res.put("trigger.rows_p50", Stats.median(data.map(_.numInputRows.toDouble)))
      res.put("trigger.latestOffset_ms", p50("latestOffset"))
      res.put("trigger.getBatch_ms", p50("getBatch"))
      res.put("trigger.addBatch_ms_p50", p50("addBatch"))
      res.put("trigger.queryPlanning_ms_p50", p50("queryPlanning"))
      res.put("trigger.walCommit_ms_p50", p50("walCommit"))
      res.put("trigger.commitOffsets_ms_p50", p50("commitOffsets"))
      // backlog when the generator stopped: rows added but not committed
      val committed = progress.filter(p => endMs(p) <= genEndMs)
        .map(endOffset).foldLeft(-1L)(math.max)
      res.put("source.backlog_rows_end",
        offsets.indices.filter(i => offsets(i) > committed).map(openRows(_)).sum)
      res.put("source.gen_late_ms_p95", Stats.quantile(lateMs.toSeq, 0.95))
      val st = progress.flatMap(_.stateOperators.headOption)
      res.put("state.rows_total", st.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0))
      res.put("state.rows_updated", st.map(_.numRowsUpdated).sum)
      res.put("state.rows_removed", st.map(_.numRowsRemoved).sum)
      res.put("state.rows_dropped_by_watermark", st.map(_.numRowsDroppedByWatermark).sum)
      res.put("state.memory_bytes", st.map(_.memoryUsedBytes.toDouble).foldLeft(0.0)(math.max))
      res.put("state.commit_ms", st.map(_.commitTimeMs).sum)
    }
  }

  /** Times the pooled writer's open / process / close from outside. */
  private final class TimedWriter[T](inner: ForeachWriter[T]) extends ForeachWriter[T] {
    override def open(partitionId: Long, epochId: Long): Boolean = {
      val t = System.nanoTime()
      try inner.open(partitionId, epochId) finally SinkTiming.openNs.add(System.nanoTime() - t)
    }
    override def process(value: T): Unit = {
      val t = System.nanoTime()
      try inner.process(value) finally SinkTiming.processNs.add(System.nanoTime() - t)
      SinkTiming.rows.increment()
    }
    override def close(errorOrNull: Throwable): Unit = {
      val t = System.nanoTime()
      try inner.close(errorOrNull) finally SinkTiming.closeNs.add(System.nanoTime() - t)
    }
  }
}

/** JVM-wide sink timers: writers are serialized into tasks, so the timers
  * they feed must live outside them.
  */
object SinkTiming {
  val openNs = new LongAdder
  val processNs = new LongAdder
  val closeNs = new LongAdder
  val rows = new LongAdder
  def reset(): Unit = Seq(openNs, processNs, closeNs, rows).foreach(_.reset())
}

/** Embedded in-memory Derby: the JDBC sink target. Derby 10.16 throws
  * inside executor tasks on `MERGE ... USING SYSIBM.SYSDUMMY1` with bound
  * parameters, so the sink table is insert-only, keyed on (epoch, word).
  */
object Derby {
  val Url = "jdbc:derby:memory:perfbench;create=true"
  val Driver = "org.apache.derby.jdbc.EmbeddedDriver"

  private def withConn[A](f: java.sql.Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(Url)
    try f(c) finally c.close()
  }

  def exec(sql: String): Unit = withConn { c =>
    val s = c.createStatement()
    try s.execute(sql) finally s.close()
  }

  def query(sql: String): Seq[Seq[String]] = withConn { c =>
    val s = c.createStatement()
    try {
      val rs = s.executeQuery(sql)
      val n = rs.getMetaData.getColumnCount
      val out = Seq.newBuilder[Seq[String]]
      while (rs.next()) out += (1 to n).map(rs.getString)
      out.result()
    } finally s.close()
  }
}

/** Zipf(s) sampler over ranks 1..n by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def sample(rng: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
    (if (i >= 0) i else -i - 1) + 1
  }
}
