package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // dev filter: comma-separated query names to time a subset while
    // iterating (the driver never sets it — full surface by default)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val spark = GraftSession.tuned(
      SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // WindowExec's "No Partition Defined ... single partition" warning
    // fires for top_ngrams' final global rank and the q3/q18 output
    // sorts. PlanSpec pins that the top_ngrams window input is already
    // truncated to k rows by TakeOrderedAndProject below it, so the
    // single-partition stage is k-row by construction — the warning is
    // noise here and would misread as a perf bug in bench tails.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    // Full untimed warmup pass: every query's first execution pays
    // whole-stage-codegen compilation + JIT; timing later runs makes
    // the numbers attributable to the plans (steady-state varies ~2-4x
    // less than first-run on this corpus size).
    val queries = only match {
      case Some(names) => SparkEntry.queries.filter(p => names(p._1))
      case None => SparkEntry.queries
    }
    queries.foreach { case (_, fn) =>
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    // Median of 3 INTERLEAVED timed passes. A single timed run can
    // record a GC pause or JIT recompile as an 8x outlier and ship it
    // as the official per-round number (a 1.97s query was once recorded
    // at 12.5s); the median tolerates one bad run per query, and
    // interleaving whole passes (run all queries, then repeat) keeps a
    // slow JVM phase from poisoning all three samples of one query.
    val Passes = 3
    val samples = (0 until Passes).map { _ =>
      queries.map { case (name, fn) =>
        val t0 = System.nanoTime()
        // noop sink executes the FULL plan (orderBy, projections) —
        // count() would let Spark skip work that can't change row counts
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}"); false
          }
        name -> Option.when(ok)((System.nanoTime() - t0) / 1e9)
      }
    }
    val (results, failed) = medians(samples)
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // candidate-pair count next to the timings (VERDICT r8 #5): the
    // multiprobe entry's cost driver as deterministic DATA, so a scale
    // run separates candidate growth from wall-clock noise
    val mpPairs =
      try graft.dedup.Dedup.multiprobeCandidates(Tables(spark, sfDir)).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] mp_pairs failed: $e"); -1L }
    def json(rs: Iterable[(String, Double)]): String = rs
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val full =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${json(results)},"mp_pairs":$mpPairs,"sf":"$sfDir","failed":$failedJson}"""
    // The driver's round artifact keeps only the LAST ~2000 chars of
    // stdout, so a 148-entry queries map on the final line arrives
    // truncated and unparseable (VERDICT r12 #7). Three outputs:
    //   1. the complete per-query JSON as the FIRST stdout line,
    //   2. the same JSON as a repo artifact (BENCH_FULL.json — the
    //      driver's end-of-round commit preserves it, so cross-round
    //      per-query comparison covers the whole registry via git),
    //   3. a final contract line small enough to survive the tail
    //      whole: total + the 40 slowest queries + a pointer.
    println(full)
    // resolve against the repo root, not the JVM cwd — run from
    // anywhere the artifact must land where the driver commit looks
    // for it (ADVICE r13); fall back to cwd only when the marker is
    // absent, and always print the ABSOLUTE path written
    val root = Seq(sys.env.getOrElse("GRAFT_REPO_DIR", ""), ".")
      .filter(_.nonEmpty)
      .map(java.nio.file.Paths.get(_).toAbsolutePath.normalize)
      .find(p => java.nio.file.Files.exists(p.resolve("build.sbt")))
      .getOrElse(java.nio.file.Paths.get(".").toAbsolutePath.normalize)
    val artifact = root.resolve("BENCH_FULL.json")
    try {
      java.nio.file.Files.write(artifact, (full + "\n").getBytes("UTF-8"))
      System.err.println(s"[bench] wrote $artifact")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $artifact write failed: $e") }
    val slowest = results.toSeq.sortBy(-_._2).take(40)
      .map { case (k, v) => k -> math.rint(v * 1000) / 1000 }
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":${json(slowest)},"n_queries":${results.size},"queries_full":"BENCH_FULL.json","mp_pairs":$mpPairs,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Per-query median over passes (`None` = the pass threw), and the
    * queries that failed in any pass. A failed query has no time — its
    * time-to-throw would read as a fast sample — so it is listed apart,
    * outside the medians and the total.
    */
  def medians(passes: Seq[Map[String, Option[Double]]])
      : (Map[String, Double], Seq[String]) = {
    val names = passes.flatMap(_.keys).distinct
    val failed = names.filter(n => passes.exists(_(n).isEmpty)).sorted
    val ok = names.filterNot(failed.contains).map { n =>
      n -> passes.map(_(n).get).sorted.apply(passes.size / 2)
    }.toMap
    (ok, failed)
  }
}
