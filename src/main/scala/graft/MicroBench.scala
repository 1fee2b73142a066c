package graft

import org.apache.spark.sql.DataFrame

/** Stage-level micro-bench for optimization work: times named internal
  * frames (noop sink, median of 3 after a warmup — the Bench
  * methodology applied to plan FRAGMENTS) so a slow registry entry can
  * be attributed to the subtree that costs, not guessed at. Not a
  * registry surface — numbers here never feed BENCH artifacts.
  *
  * Usage: `sbt 'runMain graft.MicroBench <name1,name2,...|all> [sfDir]'`
  */
object MicroBench {

  private def frames(t: Tables): Seq[(String, () => DataFrame)] = Seq(
    "shingle_store_scan" ->
      (() => graft.dedup.Dedup.corpusShingleStore(t)),
    "minhash_bands" ->
      (() => graft.dedup.Dedup.bandsFrom(
        graft.dedup.Dedup.corpusShingleStore(t))),
    "minhash_candidates_mat" ->
      (() => graft.dedup.Dedup.dedupMinhashBucketedUnsorted(t)),
    "verified_pairs" ->
      (() => graft.dedup.Dedup.verifiedPairsUnsorted(t)),
    "ngram_capped_shingles" ->
      (() => graft.dedup.Dedup.cappedShingles(
        t, graft.dedup.Dedup.ShingleDocFreqCap)),
    "quality_per_doc" ->
      (() => graft.pipeline.CorpusClean.qualityPerDoc(t)),
    "chunk_vec_store_scan" ->
      (() => graft.pipeline.ChunkSemantic.chunkVectorsMat(t)),
    // corpus_admit gate attribution (r22): each composed leg alone
    "gate_clean" ->
      (() => graft.pipeline.CorpusClean.corpusCleanUnsorted(t)),
    "gate_repetition" ->
      (() => graft.textanalysis.TextAnalysis.qualityRepetitionUnsorted(t)),
    "gate_ndlosers" ->
      (() => graft.dedup.Dedup.dedupMinhashBucketedUnsorted(t)
        .select(org.apache.spark.sql.functions.col("doc_b")).distinct()),
    "gate_containment" ->
      (() => graft.dedup.Dedup.dedupContainmentUnsorted(t)),
    "gate_semdup" ->
      (() => graft.pipeline.ChunkSemantic.docSemanticDupFracUnsorted(t)),
    "gate_ccnet_bounded" ->
      (() => graft.pipeline.Mixing.ccnetBucketBoundedUnsorted(t)),
    "corpus_admit_full" ->
      (() => graft.pipeline.Intake.corpusAdmit(t)),
    "corpus_admit_verdicts_full" ->
      (() => graft.pipeline.Intake.corpusAdmitVerdicts(t))
  )

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("all")
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = GraftSession.tuned(
      org.apache.spark.sql.SparkSession.builder().master("local[32]"), 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t = Tables(spark, sfDir)
    val sel = frames(t).filter { case (n, _) =>
      names == "all" || names.split(",").contains(n) }
    for ((name, fn) <- sel) {
      def run(): Double = {
        val t0 = System.nanoTime()
        fn().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warmup
      val ts = (0 until 3).map(_ => run()).sorted
      println(f"[micro] $name%-28s ${ts(1)}%8.3f s")
    }
    spark.stop()
  }
}
