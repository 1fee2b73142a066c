package graft.perfbench

import graft.SparkEntry
import org.apache.spark.sql.{DataFrame, SparkSession}

/** `batch_ref`: one closed-loop client running the reference's batch mix
  * over the generated star schema, pass after pass.
  *
  * Plans here are small, so Catalyst planning and job scheduling take
  * most of each query's time: this is where driver-side changes show,
  * while the stores, dedup and the streams do no work.
  */
object BatchRef {
  val Mix: Seq[String] = Seq("word_count", "hdfs_word_count",
    "persist_word_count", "running_count", "sliding_counts",
    "window_hot_word", "top3_per_category", "blacklist_filter",
    "kv_extract_count", "q1_pricing", "q3_shipping", "q5_region_rollup",
    "q18_large_orders")

  /** Measured passes over the mix for `seconds`: a warm pass takes about
    * 5–6 s on a 4-core box. Fixed work, so two runs of one seed execute
    * the same queries and their counters repeat.
    */
  def passes(seconds: Double): Int = math.max(2, math.round(seconds / 3).toInt)

  def run(spark: SparkSession, cfg: Config, res: Result): Unit = {
    val dir = cfg.data.resolve("star").toString
    val out = cfg.work.resolve("out")
    def noop(name: String, df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def pass(tr: Tracer, lat: Option[collection.mutable.Map[String, Vector[Double]]],
             sink: (String, DataFrame) => Unit = noop): Unit =
      Mix.foreach { name =>
        val ms = tr.op(res.ops, "operators", name)(sink(name, SparkEntry.queries(name)(spark, dir)))
        for (m <- lat; d <- ms) m(name) = m.getOrElse(name, Vector.empty) :+ d
      }

    // Set-up: the first pass over the mix, which pays most of the code
    // generation and JIT warm-up (a pass takes ~15 s cold, ~6.5 s second,
    // ~5.5 s after). It writes every output for the DuckDB oracle check
    // run.py makes after the run.
    val off = new Tracer(spark, enabled = false)
    res.setup("warmup", Stats.secs(pass(off, None,
      (name, df) => df.write.mode("overwrite").parquet(out.resolve(name).toString))))
    res.oracleDir = Some(out.toString)
    res.oracleData = Some(dir)
    Oracle.writeSql(out, Mix)

    def measure(tr: Tracer) = {
      val lat = collection.mutable.Map[String, Vector[Double]]()
      val wall = Stats.secs((1 to passes(cfg.seconds)).foreach(_ => pass(tr, Some(lat))))
      (lat, wall)
    }
    val (lat, wall) = measure(off)
    val all = lat.values.flatten.toSeq
    res.put("throughput_per_s", all.size / wall)
    res.put("op_latency_ms", Stats.median(all))
    // The slow path of the mix: its slowest entry. A run holds too few
    // executions per entry for a high percentile of the pooled sample.
    res.put("op_latency_tail_ms", lat.values.map(Stats.median).max)

    if (cfg.trace) {
      // Traced passes after the untraced ones: the overhead compares the
      // two sets' median latencies.
      val tr = new Tracer(spark, enabled = true)
      tr.start()
      val (tlat, _) = measure(tr)
      tr.drain()
      tr.stop()
      Layers.common(tr, res, Stats.median(tlat.values.flatten.toSeq), Stats.median(all))
      Mix.foreach(n => res.put(s"op.${n}_s", Stats.median(tlat.getOrElse(n, Vector(0.0))) / 1000))
      tr.writeSpans(cfg.work.resolve("trace.jsonl"))
    }
  }
}

object Oracle {
  /** The DuckDB twin of each checked entry, for run.py's compare. */
  def writeSql(out: java.nio.file.Path, names: Seq[String]): Unit = {
    val body = names.map { n =>
      "\"" + n + "\":\"" + Json.esc(SparkEntry.oracleSql(n)) + "\""
    }.mkString("{", ",", "}")
    java.nio.file.Files.createDirectories(out)
    java.nio.file.Files.write(out.resolve("oracle_sql.json"), body.getBytes("UTF-8"))
  }
}
