package graft

import graft.pipeline.{Intake, Mixing}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** graft.storage.PlanStats through its first user: the CCNet / quantile
  * boundary tables are derived once per inventory of the LM-score store.
  */
class PlanStatsSpec extends SparkSpec {

  private def bounds(df: DataFrame): Seq[(String, Seq[Double])] =
    df.collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toSeq.sortBy(_._1)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a second boundary-bucketed build over an unchanged corpus launches no job") {
    TempCorpus.withCopy(spark, sfDir, "graft-planstats-warm", "documents") { t =>
      Mixing.lmScoresMaterialized(t).count() // the score store, built
      val (first, firstJobs) =
        JobCount.of(spark)(Mixing.ccnetBucketBoundedUnsorted(t))
      val (second, secondJobs) =
        JobCount.of(spark)(Mixing.ccnetBucketBoundedUnsorted(t))
      assert(firstJobs > 0 && secondJobs == 0,
        s"jobs: first $firstJobs, second $secondJobs")
      assert(rows(second) == rows(first))
    }
  }

  test("a landed part file derives the bounds again, equal to an unmemoized derivation") {
    TempCorpus.withCopy(spark, sfDir, "graft-planstats-grow", "documents") { t =>
      val before = bounds(Mixing.quantileBounds(t, 3))
      // 60 low-fluency docs: the tail tercile grows, so the cuts move
      val maxId = t.documents.agg(max(col("doc_id"))).head.getLong(0)
      TempCorpus.land(t, "documents", t.documents
        .orderBy(col("doc_id")).limit(60)
        .withColumn("doc_id", col("doc_id") + lit(maxId))
        .withColumn("text", concat_ws(" ", reverse(split(col("text"), " "))))
        .withColumn("n_chars", length(col("text")).cast("long")))
      val (grown, jobs) = JobCount.of(spark)(bounds(Mixing.quantileBounds(t, 3)))
      assert(jobs > 0, "the grown corpus was served the memoized bounds")
      assert(grown != before, "the landing did not move the cuts")
      assert(grown == bounds(Mixing.quantileBoundsOf(Mixing.lmScoresMaterialized(t), 3)))
    }
  }

  test("quantile bounds at different q keep different entries") {
    TempCorpus.withCopy(spark, sfDir, "graft-planstats-q", "documents") { t =>
      val terciles = bounds(Mixing.quantileBounds(t, 3))
      val (deciles, decileJobs) = JobCount.of(spark)(bounds(Mixing.quantileBounds(t, 10)))
      val (again, againJobs) = JobCount.of(spark)(bounds(Mixing.quantileBounds(t, 3)))
      assert(decileJobs > 0 && againJobs == 0,
        s"jobs: deciles $decileJobs, terciles again $againJobs")
      assert(terciles.forall(_._2.length == 2) && deciles.forall(_._2.length == 9))
      assert(again == terciles)
    }
  }

  test("a warm corpus_admit runs no boundary search") {
    Intake.corpusAdmit(tables).collect()
    val (_, jobs) = JobCount.of(spark)(Intake.corpusAdmit(tables).collect())
    // with the boundary table derived on every call, this warm admit ran
    // 35 jobs, 10 of them the boundary search
    assert(jobs <= 35 - 9, s"warm corpus_admit ran $jobs jobs")
  }
}
