package graft.perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Benchmark JVM entry point. `run.py` generates the batch inputs, starts
  * this with the workload's arguments and reads back the result file:
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir>        private working directory (data, warehouse, spill)
  *   --launched <ms>     epoch millis at which run.py started the JVM
  *   --result <file>     where to write the result JSON
  *
  * graft is called through its public entry points (plus one
  * `private[graft]` gate, reachable from this package) and observed only
  * through Spark listeners, streaming progress and Hadoop FileSystem
  * statistics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opt("work")).toAbsolutePath
    val cfg = Config(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", work)
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - opt("launched").toLong) / 1000.0
    val res = new Result
    log(f"session ready after $sessionS%.1f s")
    try {
      cfg.workload match {
        case "stream_persist" => Streams.persist(spark, cfg, res)
        case "batch_ref" => BatchRef.run(spark, cfg, res)
        case "corpus_intake" => CorpusIntake.run(spark, cfg, res)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      res.setup("session", sessionS)
      res.peakRss()
      log("workload done")
    } finally spark.stop()
    Files.write(Paths.get(opt("result")), res.json.getBytes("UTF-8"))
    log("session stopped")
  }

  /** Progress line in the JVM log, stamped with wall-clock time. */
  def log(msg: String): Unit =
    System.err.println(s"[perfbench] ${java.time.LocalTime.now()} $msg")

  def cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  private def session(work: Path): SparkSession = {
    val s = GraftSession.tuned(SparkSession.builder().master(s"local[$cores]"), cores)
      .appName("perfbench")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

final case class Config(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path) {
  def data: Path = work.resolve("data")
}

/** What the JVM hands back to run.py: metric values (units live in
  * BENCHMARK.json), the operation tally, correctness verdicts, and
  * output locations for the DuckDB oracle check run.py does.
  */
final class Result {
  val ops = new Ops
  val metrics = mutable.LinkedHashMap[String, Double]()
  val checks = mutable.LinkedHashMap[String, String]()
  private val setupParts = mutable.LinkedHashMap[String, Double]()
  var oracleDir: Option[String] = None
  var oracleData: Option[String] = None

  def setup(part: String, s: Double): Unit = {
    Main.log(f"set-up $part: $s%.2f s")
    setupParts(part) = s
  }
  def put(name: String, v: Double): Unit = metrics(name) = v
  def check(name: String, ok: Boolean, detail: String): Unit =
    checks(name) = (if (ok) "ok" else s"MISMATCH: $detail")

  /** `VmHWM` of this JVM: the resident-set high-water mark. */
  def peakRss(): Unit = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.foreach(l => put("peak_rss_mb", l.split("\\s+")(1).toDouble / 1024))
  }

  def json: String = {
    def obj(m: Iterable[(String, String)]) =
      m.map { case (k, v) => "\"" + Json.esc(k) + "\":" + v }.mkString("{", ",", "}")
    val fields = Seq(
      "attempted" -> ops.attempted.toString,
      "failed" -> ops.failed.toString,
      "metrics" -> obj(metrics.map { case (k, v) => k -> v.toString }),
      "setup_parts" -> obj(setupParts.map { case (k, v) => k -> v.toString }),
      "checks" -> obj(checks.map { case (k, v) => k -> ("\"" + Json.esc(v) + "\"") }),
      "oracle_out" -> oracleDir.map("\"" + _ + "\"").getOrElse("null"),
      "oracle_data" -> oracleData.map("\"" + _ + "\"").getOrElse("null"))
    obj(fields)
  }
}

object Stats {
  /** Linear-interpolated quantile, the definition numpy and DuckDB share. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Wall time of `body` in seconds. */
  def secs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}
