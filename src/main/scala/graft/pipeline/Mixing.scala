package graft.pipeline

import graft.Tables
import graft.functions.Portable.round6Sql
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-MIX operators: the deterministic sampling / splitting /
  * quality-bucketing decisions a pipeline makes after cleaning and
  * dedup, when it assembles the actual training distribution.
  *
  * All decisions hash DOCUMENT IDENTITY, never position: `u(doc) =
  * int(md5(seed|doc_id)[0:8]) / 2^32` is reproducible across runs,
  * engines, partitionings and corpus orderings — re-running the
  * pipeline after adding documents never flips an existing doc's
  * sample/split assignment (the property a random() sample silently
  * lacks, and the reason every decision here is oracle-checkable:
  * md5 is the one hash both engines share, and division by 2^32 is
  * exact in doubles). Scale: sampling and splitting are map-side
  * projection + filter; quality bucketing assigns against a broadcast
  * boundary table ([[ccnetBucketBounded]]) — nothing shuffles more
  * than the final output sort.
  */
object Mixing {

  /** Per-language keep rates for [[sampleStratified]] — the language
    * rebalancing dial: downsample the dominant language, keep the
    * rest. Rates are part of the operator definition (mirrored in the
    * oracle), not tuning.
    */
  val SampleRates: Seq[(String, Double)] = Seq("en" -> 0.5)
  val DefaultRate = 1.0

  val TrainFrac = 0.8
  val ValFrac = 0.1 // test = remainder

  /** Uniform [0,1) from document identity: first 8 md5 hex digits of
    * `seed|doc_id` over 2^32. Seeds namespace decisions — the sample
    * coin and the split coin are independent.
    */
  private[graft] def u(seed: String, id: Column): Column =
    conv(substring(md5(concat(lit(s"$seed|"), id.cast("string"))), 1, 8),
      16, 10).cast("double") / lit(4294967296.0)

  private[pipeline] def uSql(seed: String): String =
    s"(('0x' || substr(md5('$seed|' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0)"

  /** Language-stratified downsampling: keep a doc iff its identity
    * coin clears its language's rate. (doc_id, lang, source, u) for
    * kept docs — u rides along so consumers can sub-sample further
    * without a second scan.
    */
  def sampleStratified(t: Tables): DataFrame = {
    val rate = SampleRates.foldLeft(lit(DefaultRate): Column) {
      case (acc, (l, r)) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    t.documents
      .select(col("doc_id"), col("lang"), col("source"))
      .withColumn("u", u("smp", col("doc_id")))
      .filter(col("u") < rate)
      .orderBy(col("doc_id"))
  }

  def sampleStratifiedSql: String = {
    val rateCase = SampleRates
      .map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
      .mkString("CASE ", " ", s" ELSE $DefaultRate END")
    s"""SELECT doc_id, lang, source, ${uSql("smp")} AS u
       |FROM documents
       |WHERE ${uSql("smp")} < $rateCase
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic train/val/test assignment for EVERY doc:
    * train < [[TrainFrac]] ≤ val < [[TrainFrac]]+[[ValFrac]] ≤ test.
    * Identity-hashed, so the split is stable under corpus growth —
    * adding documents never migrates an old doc across splits (no
    * train/test leakage from re-runs).
    */
  def corpusSplit(t: Tables): DataFrame =
    t.documents
      .select(col("doc_id"))
      .withColumn("u", u("spl", col("doc_id")))
      .select(col("doc_id"),
        when(col("u") < TrainFrac, "train")
          .when(col("u") < TrainFrac + ValFrac, "val")
          .otherwise("test").as("split"))
      .orderBy(col("doc_id"))

  def corpusSplitSql: String =
    s"""SELECT doc_id,
       |  CASE WHEN ${uSql("spl")} < $TrainFrac THEN 'train'
       |       WHEN ${uSql("spl")} < ${TrainFrac + ValFrac} THEN 'val'
       |       ELSE 'test' END AS split
       |FROM documents ORDER BY doc_id""".stripMargin

  /** CCNet-style QUALITY BUCKETS: per-language terciles of the corpus
    * LM score ([[graft.textanalysis.TextAnalysis.lmBigramScore]] — the
    * fluency gate's scoring, reused verbatim so the two can never
    * disagree). head = most fluent third of its language, tail =
    * least; the mixing decision CCNet makes before sampling more from
    * head than tail. ntile is deterministic under the (score desc,
    * doc_id) total order and identical in both engines. Docs under 2
    * tokens carry no LM score and stay out, same as the gate.
    *
    * Scale note (honest): `Window.partitionBy(lang)` sends each
    * language to ONE task, and a real corpus is skewed toward one
    * language — at 100 TB the en partition is a single-task sort and
    * this exact-ntile plan does not survive. It stays as the live
    * pedagogical baseline; the production path is
    * [[ccnetBucketBounded]] — per-language boundary scores found by
    * distributed histogram search, broadcast, assigned map-side —
    * identical away from boundary ties (PipelineSpec pins it).
    */
  def ccnetBucket(t: Tables): DataFrame = {
    val scored = graft.textanalysis.TextAnalysis.lmBigramScore(t)
      .select(col("doc_id"), col("lm_score"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("lm_score").desc, col("doc_id"))
    scored
      .join(t.documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("nt", ntile(3).over(w))
      .select(col("doc_id"), col("lang"), col("lm_score"),
        when(col("nt") === 1, "head").when(col("nt") === 2, "middle")
          .otherwise("tail").as("bucket"))
      .orderBy(col("doc_id"))
  }

  def ccnetBucketSql: String =
    s"""WITH lm AS (${graft.textanalysis.TextAnalysis.lmBigramScoreSql}),
       |j AS (SELECT lm.doc_id, d.lang, lm.lm_score
       |      FROM lm JOIN documents d USING (doc_id)),
       |b AS (SELECT doc_id, lang, lm_score,
       |        ntile(3) OVER (PARTITION BY lang
       |                       ORDER BY lm_score DESC, doc_id) nt
       |      FROM j)
       |SELECT doc_id, lang, lm_score,
       |  CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |          ELSE 'tail' END AS bucket
       |FROM b ORDER BY doc_id""".stripMargin

  /** The per-corpus LM-score store: (doc_id, lang, lm_score) —
    * [[graft.textanalysis.TextAnalysis.lmBigramScore]] joined to the
    * language column, written once per corpus (storage.Materialize
    * inventory-keyed), read back as a 3-column columnar scan by every
    * mixing decision that consumes scores. Fluency is scored ONCE per
    * corpus; bucketing, re-bucketing, and boundary audits never re-run
    * the bigram model.
    */
  private[graft] val LmScoresStore = graft.storage.Materialize.StoreDef(
    "graft_lm_scores", "documents", "lm=bigram-fixed1e12")

  private[graft] def lmScoresMaterialized(t: Tables): DataFrame =
    graft.storage.Materialize.ensureStore(t, LmScoresStore,
      graft.textanalysis.TextAnalysis.lmBigramScore(t)
        .select(col("doc_id"), col("lm_score"))
        .join(t.documents.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("lm_score")))

  /** ntile cut RANKS for n rows in q buckets (1-based, descending
    * order): the standard-SQL ntile rule gives the first n mod q
    * buckets one extra row, so bucket i ends at rank
    * `i*(n/q) + min(i, n mod q)`. Returns the q−1 interior cuts;
    * [[tercileCuts]] is the q=3 case. Mirrored literally in
    * [[ccnetBucketBoundedSql]] / [[qualityDecileSql]]. When n < q
    * several cuts share a rank (and therefore a boundary value) —
    * the count-based assignment leaves those buckets empty, which is
    * what ntile does too.
    */
  private[graft] def quantileCutRanks(n: Long, q: Int): Seq[Long] =
    (1 until q).map(i => i * (n / q) + math.min(i.toLong, n % q))

  private[graft] def tercileCuts(n: Long): (Long, Long) = {
    val Seq(c1, c12) = quantileCutRanks(n, 3)
    (c1, c12)
  }

  /** [[ccnetBucket]]'s PRODUCTION twin — boundary-table bucketing, no
    * per-language single-task sort. `Window.partitionBy(lang)` runs
    * each language as one task; a real corpus is skewed toward one
    * language, so at 100 TB the exact-ntile plan is a single-task sort
    * of most of the corpus. This twin does what CCNet itself does:
    * find each language's two tercile BOUNDARY scores (the values at
    * the ntile cut ranks — [[graft.functions.OrderStat]]'s histogram
    * narrowing, O(log n) distributed aggregations, never a group
    * sort), broadcast the langs×2 boundary table, and assign buckets
    * with one map-side comparison.
    *
    * Tie semantics — the ONE deliberate difference from the ntile
    * form: ties AT a boundary score all take the higher bucket (the
    * assignment reads only the score), where ntile splits them by
    * doc_id to force exact tercile counts. Away from boundary ties the
    * two are identical (PipelineSpec pins it); the oracle mirrors the
    * boundary rule, so this entry is exact at every sf. Degenerate
    * corner the rule implies: if both cuts land on one score value
    * (s1 = s2), 'middle' is empty by construction.
    */
  def ccnetBucketBounded(t: Tables): DataFrame =
    ccnetBucketBoundedUnsorted(t).orderBy(col("doc_id"))

  /** [[ccnetBucketBounded]] without the presentation sort — the
    * composition form consumed by `corpus_admit` and the weighted
    * sampler (the `minhashCandidates` pattern: composed plans must not
    * rely on `EliminateSorts` to stay shuffle-clean).
    */
  def ccnetBucketBoundedUnsorted(t: Tables): DataFrame = {
    val scores = lmScoresMaterialized(t)
    scores.join(broadcast(ccnetBounds(t)), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("lm_score"),
        bucketExpr.as("bucket"))
  }

  /** The per-language tercile BOUNDARY TABLE (lang, s1, s2) —
    * [[ccnetBucketBounded]]'s broadcast side, exposed so consumers
    * that assign buckets elsewhere (the weighted sampler, the
    * streaming intake twin) share the identical cut values. langs×2
    * doubles: derived once per score-store inventory ([[quantileBounds]]
    * at q = 3, same memo), broadcast everywhere.
    */
  private[graft] def ccnetBounds(t: Tables): DataFrame =
    quantileBounds(t, 3).select(col("lang"),
      col("cuts")(0).as("s1"), col("cuts")(1).as("s2"))

  /** [[ccnetBounds]] over an arbitrary (doc_id, lang, lm_score)
    * frame — see [[quantileBoundsOf]].
    */
  private[graft] def ccnetBoundsOf(scores: DataFrame): DataFrame =
    quantileBoundsOf(scores, 3).select(col("lang"),
      col("cuts")(0).as("s1"), col("cuts")(1).as("s2"))

  /** Per-language q-quantile BOUNDARY TABLE (lang, cuts: array of q−1
    * descending scores) — [[ccnetBounds]] at arbitrary q. Each cut is
    * the exact score at an ntile cut rank ([[quantileCutRanks]]),
    * found by [[graft.functions.OrderStat]]'s histogram narrowing —
    * O(log n) distributed aggregations per batch of targets, never a
    * per-language sort, so the boundary table costs the same a few
    * scans whether q is 3 or 100. langs×(q−1) doubles, broadcast
    * everywhere, and kept in [[graft.storage.PlanStats]] under
    * (`LmScoresStore.tag(t)`, q), the store's inventory-plus-config tag:
    * a landing or a scorer retune derives them again; over an unchanged
    * store a call launches no job and rebuilds the small local frame.
    */
  private[graft] def quantileBounds(t: Tables, q: Int): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    graft.storage.PlanStats((LmScoresStore.tag(t), q))(
      quantileBoundsOf(lmScoresMaterialized(t), q).as[(String, Seq[Double])]
        .collect().toSeq).toDF("lang", "cuts")
  }

  /** [[quantileBounds]] over an ARBITRARY (doc_id, lang, lm_score)
    * frame — the boundary search parameterized by which slice of the
    * score store it ranks, so a rebucket audit ([[rebucketDelta]]) can
    * reconstruct the boundary table an EARLIER corpus prefix would
    * have published without a second score run. Not memoized: the
    * frame has no inventory tag.
    */
  private[graft] def quantileBoundsOf(scores: DataFrame, q: Int): DataFrame = {
    import graft.functions.OrderStat
    import graft.functions.OrderStat.RankTarget
    val spark = scores.sparkSession
    import spark.implicits._
    // ONE scan of the score frame: per-language totals come from the
    // search's own seed aggregate (OrderStat.searchWithTotals) instead
    // of a separate count-the-languages pass, and the seed + narrowing
    // rounds all run over the one persisted multiplicity frame
    // (optimization guide §1.2 "remove passes" — the r21 form scanned
    // `scores` twice and paid one extra driver job per derivation).
    val counts = scores.groupBy(col("lang").as("g"),
      col("lm_score").as("v")).agg(count(lit(1)).as("cnt"))
    val (totals, cut) = OrderStat.searchWithTotals(counts) { ns =>
      ns.toSeq.flatMap { case (l, n) =>
        quantileCutRanks(n, q).distinct.map(RankTarget(l, _))
      }
    }
    totals.toSeq.sortBy(_._1).map { case (l, n) =>
      (l, quantileCutRanks(n, q).map(r => cut(RankTarget(l, r))))
    }.toDF("lang", "cuts")
  }

  /** The bucket CASE shared by every boundary-table consumer. */
  private[graft] def bucketExpr: Column = bucketExprOn(col("s1"), col("s2"))

  /** [[bucketExpr]] against EXPLICIT boundary columns, so one row can
    * be assigned under two boundary tables at once ([[rebucketDelta]]
    * joins the old and the new generation side by side). A null `s1`
    * (no boundary row for the language) assigns `unbucketed` — the
    * novel-language convention the streaming intake twin uses.
    */
  private[graft] def bucketExprOn(s1: Column, s2: Column): Column =
    when(s1.isNull, "unbucketed")
      .when(col("lm_score") >= s1, "head")
      .when(col("lm_score") >= s2, "middle")
      .otherwise("tail")

  /** Oracle for [[ccnetBucketBounded]]: the boundary scores are the
    * values at the ntile cut ranks (`rn = c1` / `rn = c12` under the
    * same (score desc, doc_id) order the ntile form uses), and the
    * assignment is the same two >= comparisons — DuckDB finds them
    * with a window (fine at oracle scale), Spark with the histogram
    * search; both name identical score values, so the outputs hash-
    * match exactly.
    */
  def ccnetBucketBoundedSql: String =
    s"""WITH lm AS (${graft.textanalysis.TextAnalysis.lmBigramScoreSql}),
       |j AS (SELECT lm.doc_id, d.lang, lm.lm_score
       |      FROM lm JOIN documents d USING (doc_id)),
       |r AS (SELECT doc_id, lang, lm_score,
       |        row_number() OVER (PARTITION BY lang
       |                           ORDER BY lm_score DESC, doc_id) rn,
       |        count(*) OVER (PARTITION BY lang) n
       |      FROM j),
       |cuts AS (SELECT lang,
       |    max(CASE WHEN rn = n // 3
       |          + (CASE WHEN n % 3 >= 1 THEN 1 ELSE 0 END)
       |        THEN lm_score END) AS s1,
       |    max(CASE WHEN rn = 2 * (n // 3) + n % 3
       |        THEN lm_score END) AS s2
       |  FROM r GROUP BY lang)
       |SELECT j.doc_id, j.lang, j.lm_score,
       |  CASE WHEN j.lm_score >= c.s1 THEN 'head'
       |       WHEN j.lm_score >= c.s2 THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM j JOIN cuts c USING (lang) ORDER BY doc_id""".stripMargin

  /** Per-bucket keep rates for [[sampleCcnet]] — the CCNet mixing
    * decision itself: oversample the fluent head, keep a thin slice of
    * the tail for diversity. Part of the operator definition (mirrored
    * in the oracle), not tuning.
    */
  val CcnetRates: Seq[(String, Double)] =
    Seq("head" -> 1.0, "middle" -> 0.6, "tail" -> 0.3)

  /** The WEIGHTED SAMPLE the buckets exist for: keep a doc iff its
    * identity coin (seed `ccn` — independent of the stratified
    * sampler's and the splitter's coins) clears its bucket's
    * [[CcnetRates]] rate. Composes the boundary-table bucketing
    * ([[ccnetBucketBounded]] — no per-language sort) with the
    * growth-stable hash coin of [[sampleStratified]]: re-running after
    * corpus growth never flips an old doc's keep decision unless its
    * language's boundary moved (in which case its BUCKET moved — the
    * correct dependence, and the reason the bucket rides the output).
    * Scale: bucket assign is a broadcast join + map-side CASE; the
    * keep decision is a filter; the only exchange is the output sort.
    */
  def sampleCcnet(t: Tables): DataFrame = {
    val rate = CcnetRates.foldLeft(lit(0.0): Column) {
      case (acc, (b, r)) => when(col("bucket") === b, lit(r)).otherwise(acc)
    }
    lmScoresMaterialized(t)
      .join(broadcast(ccnetBounds(t)), Seq("lang"))
      .select(col("doc_id"), col("lang"), bucketExpr.as("bucket"))
      .withColumn("u", u("ccn", col("doc_id")))
      .filter(col("u") < rate)
      .orderBy(col("doc_id"))
  }

  def sampleCcnetSql: String = {
    val rateCase = CcnetRates
      .map { case (b, r) => s"WHEN bucket = '$b' THEN $r" }
      .mkString("CASE ", " ", " ELSE 0.0 END")
    s"""WITH bb AS ($ccnetBucketBoundedSql)
       |SELECT doc_id, lang, bucket, ${uSql("ccn")} AS u
       |FROM bb
       |WHERE ${uSql("ccn")} < $rateCase
       |ORDER BY doc_id""".stripMargin
  }

  /** FINER mixing curves: per-language score DECILE (1 = most fluent
    * tenth of its language) instead of head/middle/tail — the dial a
    * pipeline turns when three buckets are too coarse (e.g. keep-rate
    * schedules that decay smoothly with quality). Same production
    * shape as [[ccnetBucketBounded]]: the 9 per-language boundary
    * scores come from [[quantileBounds]] (histogram narrowing, no
    * per-language sort), ride one broadcast array column, and the
    * assignment is a map-side count of boundaries the score falls
    * below — `1 + |{c : score < c}|`, which makes boundary ties take
    * the HIGHER bucket exactly like the tercile rule. Empty deciles
    * when a language has fewer than 10 docs mirror ntile's empties.
    */
  def qualityDecile(t: Tables): DataFrame = {
    val scores = lmScoresMaterialized(t)
    scores.join(broadcast(quantileBounds(t, 10)), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("lm_score"),
        (lit(1) + size(filter(col("cuts"),
          c => col("lm_score") < c))).cast("bigint").as("decile"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for [[qualityDecile]]: cut ranks from the same
    * [[quantileCutRanks]] formula (`i*(n//10) + least(i, n%10)` under
    * the (score desc, doc_id) row_number), boundary values by max-CASE,
    * assignment by the same count-of-boundaries-above rule.
    */
  def qualityDecileSql: String =
    s"""WITH lm AS (${graft.textanalysis.TextAnalysis.lmBigramScoreSql}),
       |j AS (SELECT lm.doc_id, d.lang, lm.lm_score
       |      FROM lm JOIN documents d USING (doc_id)),
       |r AS (SELECT doc_id, lang, lm_score,
       |        row_number() OVER (PARTITION BY lang
       |                           ORDER BY lm_score DESC, doc_id) rn,
       |        count(*) OVER (PARTITION BY lang) n
       |      FROM j),
       |cut AS (SELECT lang, i,
       |          max(CASE WHEN rn = i * (n // 10) + least(i, n % 10)
       |              THEN lm_score END) AS c
       |        FROM r CROSS JOIN unnest(generate_series(1, 9)) t(i)
       |        GROUP BY lang, i),
       |ctab AS (SELECT lang, list(c ORDER BY i) cuts FROM cut GROUP BY lang)
       |SELECT j.doc_id, j.lang, j.lm_score,
       |  1 + len(list_filter(ctab.cuts, c -> j.lm_score < c)) AS decile
       |FROM j JOIN ctab USING (lang) ORDER BY doc_id""".stripMargin

  /** The REBUCKET sweep between two explicit boundary tables: the docs
    * whose CCNet bucket CHANGED when `oldBounds` rolled to `newBounds`
    * — (doc_id, lang, lm_score, bucket_old, bucket_new), changed rows
    * only. This is the incremental answer to a [[graft.storage
    * .BoundsStore]] roll: downstream samplers re-coin exactly the
    * moved docs instead of re-running the corpus ([[sampleCcnet]]'s
    * keep decision depends on (doc_id, bucket) alone, so an unchanged
    * bucket means an unchanged decision by construction).
    *
    * Scale: one scan of the materialized score store, TWO broadcast
    * joins (langs×2 tables each) and a map-side neq filter — no
    * shuffle at all until the output sort, and the output is only the
    * moved docs (empty when boundaries did not move, a few per-mille
    * of the corpus on a typical drift). Languages absent from a
    * boundary table assign `unbucketed` ([[bucketExprOn]]), so a
    * language newly gaining boundaries emits its docs as
    * unbucketed→bucket moves — exactly the docs the sampler must now
    * coin for the first time.
    */
  def rebucketDeltaBounds(t: Tables, oldBounds: DataFrame,
                          newBounds: DataFrame): DataFrame =
    lmScoresMaterialized(t)
      .join(broadcast(oldBounds.select(col("lang"),
        col("s1").as("o1"), col("s2").as("o2"))), Seq("lang"), "left")
      .join(broadcast(newBounds.select(col("lang"),
        col("s1").as("n1"), col("s2").as("n2"))), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("lm_score"),
        bucketExprOn(col("o1"), col("o2")).as("bucket_old"),
        bucketExprOn(col("n1"), col("n2")).as("bucket_new"))
      .filter(col("bucket_old") =!= col("bucket_new"))
      .orderBy(col("doc_id"))

  /** [[rebucketDeltaBounds]] between two COMMITTED [[graft.storage
    * .BoundsStore]] generations — the maintained-store form a roll job
    * runs right after publishing: sweep gen n−1 → n, hand the moved
    * docs to the sampler.
    */
  def rebucketDeltaGens(t: Tables, root: String, oldGen: Long,
                        newGen: Long): DataFrame = {
    import graft.storage.BoundsStore
    rebucketDeltaBounds(t,
      BoundsStore.readBounds(t.spark, root, oldGen),
      BoundsStore.readBounds(t.spark, root, newGen))
  }

  /** The oracle-checked [[rebucketDeltaBounds]] instance: old = the
    * boundary table the FIRST-HALF corpus prefix (doc_id ≤
    * max(doc_id)/2) would have published, new = the full corpus's
    * [[ccnetBounds]] — the growth story that makes boundaries roll in
    * the first place, reconstructed deterministically from the score
    * store so DuckDB can name the identical cut values. Scores are the
    * CURRENT materialized store on both sides: a rebucket sweep
    * compares one score under two boundary tables — fluency is scored
    * once per corpus ([[lmScoresMaterialized]]), boundaries move.
    */
  def rebucketDelta(t: Tables): DataFrame = {
    val scores = lmScoresMaterialized(t)
    val cutoff = t.documents.agg(max(col("doc_id"))).head.getLong(0) / 2
    rebucketDeltaBounds(t,
      ccnetBoundsOf(scores.filter(col("doc_id") <= cutoff)),
      ccnetBounds(t))
  }

  /** Oracle for [[rebucketDelta]]: both boundary tables by the same
    * ntile-cut-rank window construction as [[ccnetBucketBoundedSql]] —
    * once over the prefix (doc_id ≤ max/2), once over the full corpus
    * — then the two-sided bucket CASE and the neq filter.
    */
  def rebucketDeltaSql: String = {
    def cuts(src: String) =
      s"""(SELECT lang,
         |    max(CASE WHEN rn = n // 3
         |          + (CASE WHEN n % 3 >= 1 THEN 1 ELSE 0 END)
         |        THEN lm_score END) AS s1,
         |    max(CASE WHEN rn = 2 * (n // 3) + n % 3
         |        THEN lm_score END) AS s2
         |  FROM (SELECT lang, lm_score,
         |          row_number() OVER (PARTITION BY lang
         |                             ORDER BY lm_score DESC, doc_id) rn,
         |          count(*) OVER (PARTITION BY lang) n
         |        FROM $src) GROUP BY lang)""".stripMargin
    s"""WITH lm AS (${graft.textanalysis.TextAnalysis.lmBigramScoreSql}),
       |j AS (SELECT lm.doc_id, d.lang, lm.lm_score
       |      FROM lm JOIN documents d USING (doc_id)),
       |jo AS (SELECT * FROM j WHERE doc_id <=
       |         (SELECT max(doc_id) // 2 FROM documents)),
       |co AS ${cuts("jo")},
       |cn AS ${cuts("j")},
       |b AS (SELECT j.doc_id, j.lang, j.lm_score,
       |        CASE WHEN co.s1 IS NULL THEN 'unbucketed'
       |             WHEN j.lm_score >= co.s1 THEN 'head'
       |             WHEN j.lm_score >= co.s2 THEN 'middle'
       |             ELSE 'tail' END AS bucket_old,
       |        CASE WHEN cn.s1 IS NULL THEN 'unbucketed'
       |             WHEN j.lm_score >= cn.s1 THEN 'head'
       |             WHEN j.lm_score >= cn.s2 THEN 'middle'
       |             ELSE 'tail' END AS bucket_new
       |      FROM j LEFT JOIN co USING (lang) LEFT JOIN cn USING (lang))
       |SELECT * FROM b WHERE bucket_old <> bucket_new
       |ORDER BY doc_id""".stripMargin
  }

  /** Temperature for [[sampleTemperature]] — T > 1 flattens the
    * language distribution toward uniform (the multilingual-corpus
    * convention; XLM-R/mC4-style resampling uses T in [2, 3.3]).
    */
  val Temperature = 2.0

  /** Temperature-based language resampling — the standard multilingual
    * mix op (sample languages ∝ share^(1/T)): per-language keep rate
    * r_l = round6(p_l^(1/T−1) / max_m p_m^(1/T−1)) — the rarest
    * language keeps everything (rate exactly 1.0), dominant languages
    * are thinned toward the temperature-flattened distribution — and a
    * doc survives iff its identity coin (seed `tmp`, independent of
    * the stratified/split/ccnet coins) clears its language's rate.
    *
    * Rates are |langs| scalars computed from one per-language count
    * aggregate (driver sees a bounded language list — the
    * [[quantileBoundsOf]] discipline), broadcast back; the keep
    * decision is a map-side filter. Cross-engine: the rate crosses the
    * oracle boundary only after [[graft.functions.Portable]] round6, so
    * a libm-level pow() ulp cannot flip a keep decision except exactly
    * at a 6-dp boundary against a coin with 2^-32 resolution.
    *
    * Growth-stable like every sampler here: corpus growth changes
    * rates (shares move) but never re-flips a doc's coin.
    */
  def sampleTemperature(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val perLang = t.documents.groupBy(col("lang")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val total = perLang.map(_._2).sum.toDouble
    val raw = perLang.map { case (l, n) =>
      (l, math.pow(n / total, 1.0 / Temperature - 1.0))
    }
    val mx = raw.map(_._2).max
    val rates = raw.toSeq
      .map { case (l, r) =>
        (l, graft.functions.Portable.round6Double(r / mx))
      }.toDF("lang", "rate")
    t.documents.select(col("doc_id"), col("lang"), col("source"))
      .withColumn("u", u("tmp", col("doc_id")))
      .join(broadcast(rates), Seq("lang"))
      .filter(col("u") < col("rate"))
      .select(col("doc_id"), col("lang"), col("source"), col("u"),
        col("rate"))
      .orderBy(col("doc_id"))
  }

  def sampleTemperatureSql: String =
    s"""WITH nl AS (SELECT lang, COUNT(*)::DOUBLE AS n
       |            FROM documents GROUP BY lang),
       |tr AS (SELECT lang,
       |         pow(n / (SELECT SUM(n) FROM nl),
       |             1.0 / $Temperature - 1.0) AS raw
       |       FROM nl),
       |rates AS (SELECT lang,
       |            ${graft.functions.Portable.round6Sql(
      "raw / MAX(raw) OVER ()")} AS rate
       |          FROM tr)
       |SELECT d.doc_id, d.lang, d.source, ${uSql("tmp")} AS u, r.rate
       |FROM documents d JOIN rates r USING (lang)
       |WHERE ${uSql("tmp")} < r.rate
       |ORDER BY doc_id""".stripMargin

  /** Exactly-N sample size for [[sampleFixed]] (capped at the corpus
    * size at tiny test sfs).
    */
  val SampleFixedN = 200L

  /** Per-language quota for [[sampleQuota]]. */
  val QuotaN = 100L

  /** EXACTLY-N uniform sample — the eval-set construction the rate
    * samplers can't do: [[sampleStratified]]'s keep-if-coin-clears
    * gives rate·n ± binomial noise, but "build a 200-doc audit sample"
    * needs an exact count. The naive plan is `ORDER BY coin LIMIT N` —
    * a top-N over the whole corpus, which at 100 TB funnels every
    * partition's N best through one driver-side merge. Instead the
    * N-th smallest coin is found by [[graft.functions.OrderStat]]
    * histogram narrowing (O(log n) scans, driver sees ≤1024-row
    * histograms), the corpus is FILTERED map-side at that threshold,
    * and only the equal-coin boundary tie-set (expected size n/2³² —
    * a handful of docs even at corpus scale) pays a sort, capped to
    * the remaining quota with doc_id as the tie-break. Identity coin
    * (seed `fix`): growth adds candidates but never re-flips an
    * existing doc's coin value.
    *
    * Exactness: threshold t = coin at ascending rank N (ties counted
    * by multiplicity), so count(u < t) ≤ N−1 and the tie take m =
    * N − count(u < t) ≥ 1 is always well-defined; the result is
    * bit-identical to the naive ORDER BY (u, doc_id) LIMIT N — the
    * oracle runs exactly that.
    */
  def sampleFixed(t: Tables): DataFrame =
    fixedKeep(t.documents, fixedThreshold(t)).orderBy(col("doc_id"))

  /** The fixed-sample membership rule itself, shared by the batch
    * entry and the streaming gate (`streaming.Jobs.FixedSampleStream`)
    * so the two cannot drift: coin strictly below `thr` is in;
    * exactly-at-`thr` is in up to doc_id `cutoff`. Pure map-side — no
    * join, no state. A pinned generation stays exact for the corpus
    * it was derived on; corpus growth admits ~rate·growth new docs
    * past N until a batch refresh republishes (the boundary-table
    * roll, same as every other published-rule gate).
    */
  private[graft] def fixedKeep(docs: DataFrame,
                               rule: (Double, Long)): DataFrame = {
    val (thr, cutoff) = rule
    docs.select(col("doc_id"), col("lang"), col("source"))
      .withColumn("u", u("fix", col("doc_id")))
      .filter(col("u") < thr ||
        (col("u") === thr && col("doc_id") <= cutoff))
  }

  /** The PUBLISHED membership rule behind [[sampleFixed]]: coin
    * strictly below `thr` is in; exactly-at-`thr` is in up to doc_id
    * `cutoff`. Two scalars — the generation a long-lived stream pins
    * (the BoundsStore shape) — derived once per corpus: OrderStat
    * finds the N-th smallest coin, one count fixes the residual tie
    * quota m, and the tie set (every doc at exactly that coin value —
    * expected multiplicity n/2³², a handful of rows at any corpus
    * size) is collected and its m-th lowest doc_id becomes the cutoff
    * (the bounded-collect discipline of the OrderStat histograms).
    */
  private[graft] def fixedThreshold(t: Tables): (Double, Long) = {
    import graft.functions.OrderStat
    val docs = t.documents.select(col("doc_id"))
      .withColumn("u", u("fix", col("doc_id")))
    // ONE corpus pass builds the multiplicity frame; the total row
    // count rides the search's own seed aggregate and the strict-below
    // count is a sum over the same persisted frame — the r21 form paid
    // three corpus scans (count, search build, below-count) for
    // numbers the one frame already held (guide §1.2). Persisted for
    // this call only — the OrderStat lifecycle discipline.
    val counts = docs.groupBy(lit("all").as("g"), col("u").as("v"))
      .agg(count(lit(1)).as("cnt")).persist()
    try {
      val (totals, vals) = OrderStat.searchWithTotals(counts) { ns =>
        val n = ns.getOrElse("all", 0L)
        if (n <= SampleFixedN) Seq.empty
        else Seq(OrderStat.RankTarget("all", n - SampleFixedN + 1))
      }
      val n = totals.getOrElse("all", 0L)
      if (n <= SampleFixedN) return (2.0, Long.MaxValue) // keep everything
      val tgt = OrderStat.RankTarget("all", n - SampleFixedN + 1) // N-th smallest
      val thr = vals(tgt)
      val below = counts.filter(col("v") < thr)
        .agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
      val m = SampleFixedN - below
      val ties = docs.filter(col("u") === thr)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted
      (thr, ties(m.toInt - 1))
    } finally counts.unpersist(false)
  }

  def sampleFixedSql: String =
    s"""SELECT doc_id, lang, source, u FROM (
       |  SELECT doc_id, lang, source, ${uSql("fix")} AS u
       |  FROM documents ORDER BY u, doc_id LIMIT $SampleFixedN) s
       |ORDER BY doc_id""".stripMargin

  /** Exactly-[[QuotaN]]-per-language sample — the BALANCED eval set
    * (equal representation per language regardless of corpus skew; a
    * language with fewer than the quota keeps every doc). The same
    * OrderStat threshold discipline as [[sampleFixed]], per group: one
    * bounded per-language count, one histogram search batching every
    * over-quota language's rank target, a broadcast (lang, threshold)
    * join + map-side filter, and a tie-set window whose input is a few
    * rows per language — never a per-language sort of the corpus (the
    * exact plan smell [[ccnetBucketBounded]] exists to avoid).
    * Identity coin in its own seed namespace (`qta`).
    */
  def sampleQuota(t: Tables): DataFrame =
    quotaKeep(t.documents.select(col("doc_id"), col("lang"), col("source")),
      quotaThresholds(t))
      .select(col("doc_id"), col("lang"), col("source"), col("u"))
      .orderBy(col("doc_id"))

  /** The shared membership rule: coin strictly below the language's
    * `thr`, or exactly at it with doc_id ≤ `cutoff`. One broadcast
    * join + a map-side filter — consumed verbatim by the batch entry
    * AND `streaming.SampleQuotaStream`, so the two cannot drift. A
    * language absent from the threshold table drops (the ccnet
    * novel-language convention).
    */
  private[graft] def quotaKeep(docs: DataFrame,
                               thresholds: DataFrame): DataFrame =
    docs.withColumn("u", u("qta", col("doc_id")))
      .join(broadcast(thresholds), Seq("lang"))
      .filter(col("u") < col("thr") ||
        (col("u") === col("thr") && col("doc_id") <= col("cutoff")))
      .drop("thr", "cutoff")

  /** The PUBLISHED per-language membership table behind
    * [[sampleQuota]]: (lang, thr, cutoff) — [[fixedThreshold]]'s rule
    * per group, every over-quota language's rank target batched into
    * ONE OrderStat histogram search. Under-quota languages publish
    * thr = 2.0 (keep everything). |langs| rows of three scalars — the
    * generation a long-lived intake stream pins at start and observes
    * on roll (the BoundsStore deployment shape).
    */
  private[graft] def quotaThresholds(t: Tables): DataFrame = {
    import graft.functions.OrderStat
    import graft.functions.OrderStat.RankTarget
    val spark = t.spark
    import spark.implicits._
    val docs = t.documents.select(col("doc_id"), col("lang"))
      .withColumn("u", u("qta", col("doc_id")))
    // ONE corpus pass builds the per-(lang, coin) multiplicity frame;
    // language totals ride the search's seed aggregate and the
    // strict-below counts are sums over the same persisted frame — the
    // r21 form paid three corpus scans (per-lang count, search build
    // over the over-quota slice, below-count) for numbers the one
    // frame already held (guide §1.2). Persisted for this call only.
    val counts = docs.groupBy(col("lang").as("g"), col("u").as("v"))
      .agg(count(lit(1)).as("cnt")).persist()
    try {
      val (totals, thrs) = OrderStat.searchWithTotals(counts) { ns =>
        ns.toSeq.filter(_._2 > QuotaN)
          .map { case (l, nl) => RankTarget(l, nl - QuotaN + 1) }
      }
      val perLang = totals.toSeq.sortBy(_._1)
      val whole = perLang.filter(_._2 <= QuotaN)
        .map { case (l, _) => (l, 2.0, Long.MaxValue) }
      val over = perLang.filter(_._2 > QuotaN)
      if (over.isEmpty) return whole.toDF("lang", "thr", "cutoff")
      val thrByLang = over.map { case (l, nl) =>
        l -> thrs(RankTarget(l, nl - QuotaN + 1))
      }.toMap
      val thrDf = broadcast(thrByLang.toSeq.toDF("g", "thr"))
      // strict-below count per language fixes each residual tie quota m;
      // the tie sets (docs at exactly the threshold coin — expected
      // multiplicity n_l/2³²) are a bounded collect, sorted driver-side
      val belowCnt = counts.join(thrDf, Seq("g"))
        .filter(col("v") < col("thr"))
        .groupBy(col("g")).agg(sum(col("cnt")).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val tiesByLang = docs
        .join(thrDf.withColumnRenamed("g", "lang"), Seq("lang"))
        .filter(col("u") === col("thr"))
        .select(col("lang"), col("doc_id")).collect()
        .groupBy(_.getString(0))
      val cut = over.map { case (l, _) =>
        val m = (QuotaN - belowCnt.getOrElse(l, 0L)).toInt
        val ids = tiesByLang(l).map(_.getLong(1)).sorted
        (l, thrByLang(l), ids(m - 1))
      }
      (whole ++ cut).toDF("lang", "thr", "cutoff")
    } finally counts.unpersist(false)
  }

  def sampleQuotaSql: String =
    s"""SELECT doc_id, lang, source, u FROM (
       |  SELECT doc_id, lang, source, ${uSql("qta")} AS u,
       |    ROW_NUMBER() OVER (PARTITION BY lang
       |      ORDER BY ${uSql("qta")}, doc_id) AS rn
       |  FROM documents) s
       |WHERE rn <= $QuotaN
       |ORDER BY doc_id""".stripMargin

  /** Sample size for [[samplePriority]] — small enough that even the
    * sf0.001 spec corpus exercises the real selection branch.
    */
  val PriorityN = 20L

  /** Exactly-N WEIGHTED sample, inclusion probability ∝ `n_chars` —
    * priority sampling (Duffield–Lund–Thorup, JACM 2007): per doc the
    * priority q = u / w (identity coin over weight, ONE portable IEEE
    * division), keep the N smallest q. A char-budget pipeline wants
    * heavy documents overrepresented exactly this way: the naive
    * implementation is `ORDER BY u/w LIMIT N` — a corpus sort — while
    * this reuses [[sampleFixed]]'s OrderStat threshold discipline
    * (O(log n) scans, map-side filter, tie-set bounded-collect)
    * unchanged on the weighted priority.
    *
    * Each kept doc also carries the DLT unbiased weight estimate
    * `est6 = round6(max(w, τ))` where τ = 1/q₍N+1₎ (the N+1-st
    * priority fixes the inclusion threshold): Σ est6 over the sample
    * estimates Σ n_chars over the CORPUS — the property that makes a
    * tiny sample answer "how many chars does the corpus hold per
    * slice" (spec-pinned within the DLT error bound; the estimator
    * rides from the same OrderStat batch, one extra rank target).
    */
  def samplePriority(t: Tables): DataFrame = {
    val (thr, cutoff, tau) = priorityThreshold(t)
    priorityKeep(
      t.documents.select(col("doc_id"), col("lang"), col("source"),
        col("n_chars")), thr, cutoff, tau)
      .orderBy(col("doc_id"))
  }

  /** The shared membership + estimator projection: priority below
    * `thr` (or at it up to the tie `cutoff`) is in, carrying the DLT
    * estimate against the published τ. Map-side only — consumed
    * verbatim by the batch entry AND `streaming.SamplePriorityStream`
    * so the two cannot drift (the quotaKeep pattern).
    */
  private[graft] def priorityKeep(docs: DataFrame, thr: Double,
                                  cutoff: Long, tau: Double): DataFrame = {
    import graft.functions.Portable.round6
    docs
      .withColumn("prio",
        u("pri", col("doc_id")) / col("n_chars").cast("double"))
      .filter(col("prio") < thr ||
        (col("prio") === thr && col("doc_id") <= cutoff))
      .withColumn("est6",
        round6(greatest(col("n_chars").cast("double"), lit(tau))))
  }

  /** The published membership rule + estimator scalar behind
    * [[samplePriority]]: (thr, cutoff, τ). [[fixedThreshold]]'s
    * protocol on the weighted priority, with the N+1-st rank riding
    * the same OrderStat batch for τ; n ≤ N publishes keep-everything
    * and τ = 0 (estimate = own weight — the exact-census case).
    */
  private[graft] def priorityThreshold(t: Tables): (Double, Long, Double) = {
    import graft.functions.OrderStat
    val docs = t.documents.select(col("doc_id"), col("n_chars"))
      .withColumn("prio",
        u("pri", col("doc_id")) / col("n_chars").cast("double"))
    // one corpus pass + cached sums — the [[fixedThreshold]] shape
    val counts = docs.groupBy(lit("all").as("g"), col("prio").as("v"))
      .agg(count(lit(1)).as("cnt")).persist()
    try {
      val (totals, vals) = OrderStat.searchWithTotals(counts) { ns =>
        val n = ns.getOrElse("all", 0L)
        if (n <= PriorityN) Seq.empty
        else Seq(OrderStat.RankTarget("all", n - PriorityN + 1),
          OrderStat.RankTarget("all", n - PriorityN))
      }
      val n = totals.getOrElse("all", 0L)
      if (n <= PriorityN) return (2.0, Long.MaxValue, 0.0)
      val tgtN = OrderStat.RankTarget("all", n - PriorityN + 1)
      val tgtN1 = OrderStat.RankTarget("all", n - PriorityN)
      val thr = vals(tgtN)
      val below = counts.filter(col("v") < thr)
        .agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
      val m = PriorityN - below
      val ties = docs.filter(col("prio") === thr)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted
      (thr, ties(m.toInt - 1), 1.0 / vals(tgtN1))
    } finally counts.unpersist(false)
  }

  def samplePrioritySql: String = {
    import graft.functions.Portable.round6Sql
    s"""WITH s AS (SELECT doc_id, lang, source, n_chars,
       |             (${uSql("pri")} / n_chars::DOUBLE) AS prio
       |           FROM documents),
       |tau AS (SELECT CASE WHEN t.p IS NULL THEN 0.0 ELSE 1.0 / t.p END
       |            AS tv
       |        FROM (SELECT (SELECT prio FROM s ORDER BY prio, doc_id
       |                      OFFSET $PriorityN LIMIT 1) AS p) t),
       |sel AS (SELECT * FROM s ORDER BY prio, doc_id LIMIT $PriorityN)
       |SELECT doc_id, lang, source, n_chars, prio,
       |  ${round6Sql("GREATEST(n_chars::DOUBLE, tv)")} AS est6
       |FROM sel, tau ORDER BY doc_id""".stripMargin
  }

  /** Block-sampling inverse rate: shards whose identity coin clears
    * 1/[[BlockDiv]] are read; every sampled row weighs [[BlockDiv]].
    */
  val BlockDiv = 4

  /** Shard coin for [[sampleBlock]]: uniform from SHARD identity (own
    * seed namespace) — every doc in a shard shares one coin, so the
    * sample is a union of whole shards.
    */
  private def shardCoin(shard: Column): Column =
    conv(substring(md5(concat(lit("blk|"), shard.cast("string"))), 1, 8),
      16, 10).cast("double") / lit(4294967296.0)

  private def shardCoinSql(shard: String): String =
    s"(('0x' || substr(md5('blk|' || CAST($shard AS VARCHAR)), 1, 8))::BIGINT / 4294967296.0)"

  /** BLOCK (cluster) sampling audit — the corpus-statistics shape that
    * actually scales to 100 TB: row-Bernoulli sampling touches every
    * file (the coin is per ROW, so no block can be skipped), while
    * block sampling keeps whole shards whose IDENTITY coin clears
    * 1/[[BlockDiv]] and reads nothing else — on a shard-partitioned
    * layout the unselected ~¾ of the corpus is pruned at the manifest,
    * IO proportional to the sampling rate. Every kept row carries the
    * Horvitz-Thompson weight [[BlockDiv]] (inclusion probability
    * 1/[[BlockDiv]], an exact integer — no float weight arithmetic).
    *
    * This table is the ESTIMATOR'S AUDIT, so it deliberately reads the
    * unsampled remainder too: per source, the shards/docs/chars the
    * sample kept, the weighted estimates (sampled × [[BlockDiv]]),
    * the true totals, and the round6 est/exact ratios. The ratio
    * spread across sources is the clustering penalty a design doc
    * cites when choosing block over row sampling (rows within a shard
    * are correlated; variance grows with intra-shard homogeneity —
    * Cochran's classic cluster-sampling tradeoff). The production
    * sample is the same map-side predicate WITHOUT the exact side.
    *
    * Scale: ONE fact scan collapsing map-side to the (source, shard,
    * sel) frame (≤ |sources|·[[Reports.NumShards]]·2 groups — the
    * two-phase discipline: shard counting never needs a distinct
    * aggregation because shard is already a group key), then a
    * |sources|-row reduction. No Expand, no Window, no second scan
    * (spec-pinned).
    */
  /** The PRODUCTION block-sampling membership predicate — the
    * map-side gate [[sampleBlock]]'s audit prices, without the exact
    * side: keep a doc iff its shard's IDENTITY coin clears
    * 1/[[BlockDiv]], carrying the exact-integer Horvitz-Thompson
    * weight. A pure function of doc_id — no published table, no join,
    * no state (the shard coin is derived, not sampled), so the
    * streaming twin (`streaming.Jobs.BlockSampleStream`) is this
    * function verbatim and membership is whole-shard by construction.
    */
  private[graft] def blockKeep(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"))
      .withColumn("shard", Reports.shardOf(col("doc_id")))
      .filter(shardCoin(col("shard")) < lit(1.0 / BlockDiv))
      .withColumn("ht_weight", lit(BlockDiv.toLong))

  def sampleBlock(t: Tables): DataFrame = {
    import graft.functions.Portable.round6
    val perCell = t.documents
      .select(col("source"), Reports.shardOf(col("doc_id")).as("shard"),
        col("n_chars"))
      .withColumn("sel", shardCoin(col("shard")) < lit(1.0 / BlockDiv))
      .groupBy(col("source"), col("shard"), col("sel"))
      .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
    val selN = sum(when(col("sel"), col("n")).otherwise(0L))
    val selChars = sum(when(col("sel"), col("chars")).otherwise(0L))
    perCell
      .groupBy(col("source"))
      .agg(sum(when(col("sel"), 1L).otherwise(0L)).as("n_shards_sel"),
        selN.as("n_docs_sampled"),
        (selN * lit(BlockDiv.toLong)).as("est_docs"),
        sum(col("n")).as("exact_docs"),
        (selChars * lit(BlockDiv.toLong)).as("est_chars"),
        sum(col("chars")).as("exact_chars"))
      .withColumn("docs_ratio6",
        round6(col("est_docs").cast("double") /
          col("exact_docs").cast("double")))
      .withColumn("chars_ratio6",
        round6(col("est_chars").cast("double") /
          col("exact_chars").cast("double")))
      .orderBy(col("source"))
  }

  def sampleBlockSql: String = {
    import graft.functions.Portable.round6Sql
    s"""WITH d AS (SELECT source, ${Reports.shardOfSql} AS shard, n_chars
       |           FROM documents),
       |c AS (SELECT source, shard,
       |        ${shardCoinSql("shard")} < ${1.0 / BlockDiv} AS sel,
       |        COUNT(*)::BIGINT AS n, SUM(n_chars)::BIGINT AS chars
       |      FROM d GROUP BY 1, 2, 3),
       |s AS (SELECT source,
       |        SUM(CASE WHEN sel THEN 1 ELSE 0 END)::BIGINT
       |          AS n_shards_sel,
       |        SUM(CASE WHEN sel THEN n ELSE 0 END)::BIGINT
       |          AS n_docs_sampled,
       |        (SUM(CASE WHEN sel THEN n ELSE 0 END) * $BlockDiv)::BIGINT
       |          AS est_docs,
       |        SUM(n)::BIGINT AS exact_docs,
       |        (SUM(CASE WHEN sel THEN chars ELSE 0 END) * $BlockDiv)
       |          ::BIGINT AS est_chars,
       |        SUM(chars)::BIGINT AS exact_chars
       |      FROM c GROUP BY 1)
       |SELECT source, n_shards_sel, n_docs_sampled, est_docs, exact_docs,
       |  est_chars, exact_chars,
       |  ${round6Sql("est_docs::DOUBLE / exact_docs::DOUBLE")}
       |    AS docs_ratio6,
       |  ${round6Sql("est_chars::DOUBLE / exact_chars::DOUBLE")}
       |    AS chars_ratio6
       |FROM s ORDER BY source""".stripMargin
  }

  /** Token-budget numerator/denominator for [[mixSolver]]: sample
    * half the corpus' tokens. A literal rational, part of the
    * operator definition.
    */
  val WaterfillBudgetNum = 1L
  val WaterfillBudgetDen = 2L

  /** The mix PLANNER — exact integer water-filling: given per-source
    * token inventories cap_s and a total budget N
    * ([[WaterfillBudgetNum]]/[[WaterfillBudgetDen]] of Σcap), find
    * the water level λ* = max{λ : Σ min(cap_s, λ) ≤ N} and allocate
    * alloc_s = min(cap_s, λ) — the balanced mix "equal tokens per
    * source, except sources that don't have that many, whose deficit
    * the rest absorb". This is the op that turns a mix TARGET into
    * executable per-source rates when capacities bind — the planning
    * step ahead of every `corpus_sample_*` sampler.
    *
    * λ* computes in closed form, no iteration: with caps ascending
    * c₁..c_S and exclusive prefixes P_k, f(λ) = Σ min(c_s, λ) is
    * concave, each segment line L_k(λ) = P_k + (S−k)·λ dominates f
    * everywhere, so every candidate λ_k = (N − P_k) div (S − k) is
    * feasible and λ* = max_k λ_k — one MAX over S integer
    * expressions, identical in both engines (ties in caps are
    * harmless: P and the candidates depend only on the multiset).
    *
    * Scale: ONE corpus scan (per-source token sums, map-side
    * partial), |sources| rows to the driver, literal output. Output
    * rows carry (cap, alloc, saturated, round6 rate, λ).
    */
  def mixSolver(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    import graft.functions.Portable.round6Double
    val caps = t.documents
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("cap"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)
    val n = caps.map(_._2).sum * WaterfillBudgetNum / WaterfillBudgetDen
    val asc = caps.map(_._2).sorted
    val s = asc.length
    var p = 0L
    val lam = (0 until s).map { k =>
      val cand = (n - p) / (s - k); p += asc(k); cand
    }.max
    caps.toSeq.map { case (src, cap) =>
      val alloc = math.min(cap, lam)
      (src, cap, alloc, cap <= lam,
        round6Double(alloc.toDouble / cap.toDouble), lam)
    }.toDF("source", "cap_tokens", "alloc_tokens", "saturated",
        "rate6", "water_level")
      .orderBy(col("source"))
  }

  def mixSolverSql: String = {
    import graft.functions.Portable.round6Sql
    s"""WITH caps AS (SELECT source,
       |         SUM(len(string_split(text, ' ')))::BIGINT AS cap
       |       FROM documents GROUP BY 1),
       |tot AS (SELECT (SUM(cap) * $WaterfillBudgetNum)
       |               // $WaterfillBudgetDen AS n,
       |               COUNT(*)::BIGINT AS s FROM caps),
       |o AS (SELECT cap,
       |        row_number() OVER (ORDER BY cap, source) AS k,
       |        COALESCE(SUM(cap) OVER (ORDER BY cap, source
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |          0)::BIGINT AS p
       |      FROM caps),
       |lam AS (SELECT MAX((n - p) // (s - k + 1)) AS lam
       |        FROM o, tot)
       |SELECT source, cap AS cap_tokens,
       |  LEAST(cap, lam)::BIGINT AS alloc_tokens,
       |  cap <= lam AS saturated,
       |  ${round6Sql("LEAST(cap, lam)::DOUBLE / cap::DOUBLE")} AS rate6,
       |  lam::BIGINT AS water_level
       |FROM caps, lam ORDER BY source""".stripMargin
  }

  /** The planner's CONSUMER — execute the water-filled mix: keep a
    * doc iff its identity coin clears its source's [[mixSolver]]
    * rate (saturated sources keep everything; the rest thin toward
    * the water level). The ccnet boundary-table shape with the
    * solver as the table: rates are |sources| driver scalars compiled
    * into the filter, the corpus pass is one map-side gate. Sampling
    * is per-doc Bernoulli on the token-mass rate, so the kept TOKEN
    * mass concentrates at alloc_s (spec-checked band) while staying
    * identity-deterministic and join-free.
    */
  def sampleWaterfill(t: Tables): DataFrame =
    waterfillKeep(t.documents, waterfillRates(t)).orderBy(col("doc_id"))

  /** The solver's published per-source rate table as driver scalars —
    * what a deployment hands the streaming gate
    * (`streaming.Jobs.WaterfillSampleStream`).
    */
  private[graft] def waterfillRates(t: Tables): Seq[(String, Double)] =
    mixSolver(t).collect()
      .map(r => r.getString(0) -> r.getDouble(4)).toSeq

  /** The water-fill membership rule itself, shared by the batch entry
    * and the streaming gate so the two cannot drift: keep a doc iff
    * its identity coin clears its source's published rate. The rates
    * compile into ONE case expression — pure map-side, no join, no
    * state; a source absent from the published table has no residue
    * in the solved mix and drops at rate 0.
    */
  private[graft] def waterfillKeep(docs: DataFrame,
                                   rates: Seq[(String, Double)]): DataFrame = {
    val rate = rates.foldLeft(lit(0.0): Column) {
      case (acc, (s, r)) => when(col("source") === s, lit(r)).otherwise(acc)
    }
    docs
      .select(col("doc_id"), col("source"))
      .withColumn("u", u("wfill", col("doc_id")))
      .filter(col("u") < rate)
      .select(col("doc_id"), col("source"))
  }

  def sampleWaterfillSql: String =
    s"""WITH caps AS (SELECT source,
       |         SUM(len(string_split(text, ' ')))::BIGINT AS cap
       |       FROM documents GROUP BY 1),
       |tot AS (SELECT (SUM(cap) * $WaterfillBudgetNum)
       |               // $WaterfillBudgetDen AS n,
       |               COUNT(*)::BIGINT AS s FROM caps),
       |o AS (SELECT cap,
       |        row_number() OVER (ORDER BY cap, source) AS k,
       |        COALESCE(SUM(cap) OVER (ORDER BY cap, source
       |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
       |          0)::BIGINT AS p
       |      FROM caps),
       |lam AS (SELECT MAX((n - p) // (s - k + 1)) AS lam
       |        FROM o, tot),
       |rt AS (SELECT source,
       |         ${graft.functions.Portable.round6Sql(
                   "LEAST(cap, lam)::DOUBLE / cap::DOUBLE")} AS rate
       |       FROM caps, lam)
       |SELECT d.doc_id, d.source
       |FROM documents d JOIN rt USING (source)
       |WHERE ${uSql("wfill")} < rate
       |ORDER BY d.doc_id""".stripMargin
}
