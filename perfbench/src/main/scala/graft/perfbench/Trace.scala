package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are epoch millis, so
  * spans from the driver clock, Spark's scheduler events and streaming
  * progress line up on one axis.
  */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Double] = Map.empty) {
  def durMs: Double = endMs - startMs
}

/** Span recorder and counter sink for the traced run. Spans are held in
  * memory and written as JSON lines once the run ends. Every operation
  * span sets the Spark job group to its own id, so Spark job and stage
  * spans link back to the operation that caused them.
  *
  * With `enabled = false` nothing is registered with Spark and `op`
  * only times its body: the untraced run pays for no listener.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  def now: Double = System.nanoTime() / 1e6 + Tracer.NanoOffsetMs

  def add(name: String, v: Double): Unit =
    if (enabled) counters.merge(name, v, (a: Double, b: Double) => a + b)

  def max(name: String, v: Double): Unit =
    if (enabled) counters.merge(name, v, (a: Double, b: Double) => math.max(a, b))

  def counter(name: String): Double = counters.getOrDefault(name, 0.0)

  def record(parent: Long, layer: String, name: String, startMs: Double,
             endMs: Double, attrs: Map[String, Double] = Map.empty): Long = {
    val id = ids.incrementAndGet()
    if (enabled) spans.add(Span(id, parent, layer, name, startMs, endMs, attrs))
    id
  }

  /** Run one operation: a query, a trigger or an admit call. Returns the
    * elapsed millis, or None when it threw; a failed operation is never
    * timed as if it had succeeded.
    */
  def op(ops: Ops, layer: String, name: String)(body: => Unit): Option[Double] = {
    ops.attempted += 1
    val id = ids.incrementAndGet()
    if (enabled) spark.sparkContext.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    val s = now
    val ok = try { body; true } catch {
      case e: Exception =>
        ops.failed += 1
        System.err.println(s"[perfbench] $name failed: $e")
        false
    }
    val e = now
    if (enabled) {
      spark.sparkContext.clearJobGroup()
      spans.add(Span(id, 0, layer, name, s, e, Map("ok" -> (if (ok) 1.0 else 0.0))))
    }
    if (ok) Some(e - s) else None
  }

  private var sparkListener: SparkListener = _
  private var qeListener: QueryExecutionListener = _

  def start(): Unit = if (enabled) {
    sparkListener = new SparkListener {
      // Spark job id -> (span id, start, operation span id)
      private val jobs = mutable.Map[Int, (Long, Double, Long)]()
      private val stageJob = mutable.Map[Int, Long]()
      // stages of the benchmark's own drain marker, kept out of every count
      private val marker = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      private val markerJobs = mutable.Set[Int]()
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val group = Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (group == Tracer.DrainGroup) {
          e.stageIds.foreach(marker.add)
          markerJobs += e.jobId
        } else {
          val parent = if (group.startsWith("op-")) group.drop(3).toLong else 0L
          val jid = ids.incrementAndGet()
          jobs(e.jobId) = (jid, e.time.toDouble, parent)
          e.stageIds.foreach(s => stageJob(s) = jid)
          add("exec.jobs", 1)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        if (markerJobs.remove(e.jobId)) drained.incrementAndGet()
        jobs.remove(e.jobId).foreach { case (jid, s, parent) =>
          spans.add(Span(jid, parent, "exec", s"job ${e.jobId}", s, e.time.toDouble))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val i = e.stageInfo
        if (!marker.contains(i.stageId)) {
          add("exec.stages", 1)
          for (s <- i.submissionTime; c <- i.completionTime)
            record(stageJob.getOrElse(i.stageId, 0L), "exec", s"stage ${i.stageId}",
              s.toDouble, c.toDouble, Map("tasks" -> i.numTasks.toDouble))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (!marker.contains(e.stageId)) {
        add("exec.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("exec.task_run_ms", m.executorRunTime.toDouble)
          add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
          add("exec.gc_ms", m.jvmGCTime.toDouble)
          max("exec.peak_mem_bytes", m.peakExecutionMemory.toDouble)
          add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          add("shuffle.records", m.shuffleWriteMetrics.recordsWritten.toDouble)
          add("spill.disk_bytes", m.diskBytesSpilled.toDouble)
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = ()
    }
    spark.sparkContext.addSparkListener(sparkListener)
    qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val ph = qe.tracker.phases
        Seq("analysis", "optimization", "planning").foreach { p =>
          ph.get(p).foreach(s => add(s"plan.${p}_ms", s.durationMs.toDouble))
        }
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(qeListener)
  }

  private val drained = new AtomicLong(0)

  /** Wait until the listener bus has delivered everything posted so far.
    * Spark delivers each listener queue in order, and both listeners sit
    * on the shared queue, so once a marker job's end reaches the Spark
    * listener every earlier event has reached both.
    */
  def drain(): Unit = if (enabled) {
    val before = drained.get()
    spark.sparkContext.setJobGroup(Tracer.DrainGroup, "drain", interruptOnCancel = false)
    spark.sparkContext.parallelize(Seq(1), 1).count()
    spark.sparkContext.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000
    while (drained.get() == before && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def stop(): Unit = {
    if (sparkListener != null) spark.sparkContext.removeSparkListener(sparkListener)
    if (qeListener != null) spark.listenerManager.unregister(qeListener)
  }

  /** Driver-only time: the part of each operation span that no Spark job
    * span overlaps (planning, scheduling, driver-side collection). Jobs
    * are matched by time, not by job group: a stream's jobs run under the
    * query's own group on its own thread. Operations run one at a time,
    * so a job overlapping one is that operation's.
    */
  def driverOnlyMs: Double = {
    val all = spans.asScala.toSeq
    val jobs = all.filter(s => s.layer == "exec" && s.name.startsWith("job"))
    all.filter(s => s.parent == 0 && s.layer != "exec" && s.attrs.contains("ok")).map { op =>
      val covered = union(jobs
        .map(j => (math.max(j.startMs, op.startMs), math.min(j.endMs, op.endMs))))
      math.max(0.0, op.durMs - covered)
    }.sum
  }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var end = Double.NegativeInfinity
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s >= end) { total += e - s; end = e }
      else if (e > end) { total += e - end; end = e }
    }
    total
  }

  def writeSpans(path: java.nio.file.Path): Unit = if (enabled) {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(_.startMs).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => "\"" + k + "\":" + v }.mkString(",")
      w.write(s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${Json.esc(s.name)}","start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs},"attrs":{$attrs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val DrainGroup = "perfbench-drain"

  /** nanoTime → epoch millis, fixed once so spans share one clock. */
  val NanoOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6
}

/** Per-layer numbers every workload reports from its traced run. */
object Layers {
  private val Counters = Seq("exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_ms", "exec.task_cpu_ms", "exec.gc_ms", "exec.peak_mem_bytes",
    "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.records",
    "spill.disk_bytes", "plan.analysis_ms", "plan.optimization_ms",
    "plan.planning_ms")

  def common(tr: Tracer, res: Result, traced: Double, untraced: Double): Unit = {
    Counters.foreach(n => res.put(n, tr.counter(n)))
    res.put("exec.driver_only_ms", tr.driverOnlyMs)
    res.put("trace.overhead_pct", 100 * (traced - untraced) / untraced)
  }
}

/** Attempted/failed operation tally — the `error_rate` inputs. */
final class Ops {
  var attempted: Long = 0
  var failed: Long = 0
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
}
