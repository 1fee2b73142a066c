package graft

import graft.dedup.Dedup

/** The 100 TB contract for the dedup family: candidate generation is
  * always a bucket equi-join — never a corpus cross product — and the
  * planted near-duplicates actually surface.
  */
class DedupSpec extends SparkSpec {

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("no dedup plan contains a cartesian or nested-loop join") {
    val plans = Seq(
      Dedup.dedupExact(tables), Dedup.dedupNgramJaccard(tables),
      Dedup.dedupMinhash(tables), Dedup.dedupSimhash(tables),
      Dedup.dedupEmbedding(tables)).map(physical)
    plans.foreach { p =>
      assert(!p.contains("CartesianProduct"), p.linesIterator.take(5).mkString("\n"))
      assert(!p.contains("BroadcastNestedLoopJoin"), p.linesIterator.take(5).mkString("\n"))
    }
  }

  test("minhash candidates contain the highest-jaccard planted pairs") {
    val jac = Dedup.dedupNgramJaccard(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val cand = Dedup.dedupMinhash(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.nonEmpty) // planted near-dups exist at sf0.001 too
    // LSH with 4 bands of 2 at jaccard>=0.8: every true pair collides
    // with prob 1-(1-0.8^2)^4 ≈ 0.98; at this sf all of them do
    assert((jac -- cand).isEmpty, s"missed pairs: ${jac -- cand}")
  }

  test("doc_freq cap bounds the posting-list join on a planted stop-shingle") {
    import spark.implicits._
    // 60 docs share one boilerplate shingle; each also has unique filler.
    // Two docs (9000, 9001) are true near-dups through RARE shingles.
    val boiler = "all rights reserved"
    val docs = (0 until 60).map { i =>
      (i.toLong, s"$boiler unique$i filler$i content$i")
    } ++ Seq(
      (9000L, "alpha beta gamma delta epsilon zeta"),
      (9001L, "alpha beta gamma delta epsilon zeta eta"))
    val dir = java.nio.file.Files.createTempDirectory("graft_stopshingle").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val t = Tables(spark, dir)
    // uncapped: every boilerplate doc pairs with every other → C(60,2)
    val uncapped = Dedup.ngramCandidates(t, cap = Int.MaxValue).count()
    assert(uncapped >= 60L * 59 / 2, s"expected quadratic blowup, got $uncapped")
    // capped: the stop-shingle's posting list is dropped; only genuinely
    // similar docs remain candidates
    val capped = Dedup.ngramCandidates(t, cap = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((9000L, 9001L)), s"got $capped")
    // and the rare-shingle near-dup pair still surfaces end to end
    val pairs = Dedup.dedupNgramJaccard(t, cap = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((9000L, 9001L)), s"got $pairs")
  }

  test("exact-copy flood never reaches the band join: keepers collapse it") {
    import spark.implicits._
    // 1000 EXACT copies of one template — at 100 TB this is the
    // boilerplate page crawled 10M times. Exact copies collide on every
    // band, so admitting them would emit C(1000,2) pairs per band;
    // candidate generation over exact-dedup keepers sees ONE of them.
    val docs = (0 until 1000).map { i =>
      (i.toLong, "terms of service apply to all users of this site")
    } ++ Seq(
      (9000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (9001L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val dir = java.nio.file.Files.createTempDirectory("graft_exactflood").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val t = Tables(spark, dir)
    val cand = Dedup.minhashCandidates(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the flood contributes nothing (its dedup already happened in the
    // O(n) exact pass); the genuine near-dup pair still surfaces
    assert(cand.forall { case (a, b) => a >= 9000L && b >= 9000L },
      s"flood pairs leaked into LSH: ${cand.take(5)}")
    assert(cand.contains((9000L, 9001L)), s"got $cand")
    assert(Dedup.dedupExact(t)
      .filter(org.apache.spark.sql.functions.col("n_copies") === 1000L)
      .count() == 1L) // and the exact op owns the flood
  }

  test("band-frequency cap bounds a near-identical template flood") {
    import spark.implicits._
    // 1000 DISTINCT near-copies: shared 30-word template + one unique
    // trailing token each. Most docs share full minhash signatures
    // (the unique tail contributes 1 of ~29 shingles), so without the
    // cap one band key holds ~900 docs → O(B²) candidate generation.
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val docs = (0 until 1000).map { i =>
      (i.toLong, s"$base uniq$i")
    } ++ Seq(
      (9000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (9001L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val dir = java.nio.file.Files.createTempDirectory("graft_bandflood").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val t = Tables(spark, dir)
    val uncapped = Dedup.minhashCandidates(t, bandCap = Int.MaxValue).count()
    assert(uncapped > 100000L, s"expected quadratic blowup, got $uncapped")
    val capped = Dedup.minhashCandidates(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // per small key the clique is at most C(cap, 2); a flooded key
    // emits STAR pairs (key min doc, member) — O(B) rows, so total
    // candidates are linear in the flood, never quadratic
    val n = 1002L
    val bound = Dedup.NumBands.toLong *
      (Dedup.BandDocFreqCap.toLong * Dedup.BandDocFreqCap.toLong + n)
    assert(capped.size.toLong <= bound,
      s"capped candidates ${capped.size} exceed clique+star bound $bound")
    assert(capped.contains((9000L, 9001L)), s"planted pair lost: $capped")
    // ...and the flood COLLAPSES instead of escaping dedup: nearly every
    // flood member is the doc_b of some candidate pair (the r7 drop-the-
    // key rule retained all of them — exactly the content the cap is
    // motivated by)
    val floodCaught = capped.collect {
      case (_, b) if b < 1000L => b
    }
    assert(floodCaught.size >= 900,
      s"flood escaped the star rule: only ${floodCaught.size}/1000 caught")
  }

  test("band-frequency cap bounds a simhash template flood") {
    import spark.implicits._
    // same flood shape for the simhash path: near-copies have identical
    // 48-bit signatures (one token out of 31 flips no bit sign), so all
    // 6 chunk-pair bands collide 1000-ways without the cap
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val docs = (0 until 1000).map(i => (i.toLong, s"$base uniq$i"))
    val dir = java.nio.file.Files.createTempDirectory("graft_simflood").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val t = Tables(spark, dir)
    val uncapped = Dedup.dedupSimhash(t, bandCap = Int.MaxValue).count()
    assert(uncapped > 50000L, s"expected quadratic blowup, got $uncapped")
    val capped = Dedup.dedupSimhash(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = 1000L
    val bound = 6L *
      (Dedup.BandDocFreqCap.toLong * Dedup.BandDocFreqCap.toLong + n)
    assert(capped.size.toLong <= bound,
      s"capped simhash pairs ${capped.size} exceed clique+star bound $bound")
    // near-identical docs share the signature (hamming 0), so the star
    // pairs survive the hamming gate and the flood collapses
    val caught = capped.map(_._2)
    assert(caught.size >= 900,
      s"simhash flood escaped the star rule: only ${caught.size}/1000 caught")
  }

  test("minhash_verified = candidates filtered by true full-set jaccard") {
    import org.apache.spark.sql.functions._
    val cand = Dedup.dedupMinhash(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // spec-side truth: full shingle sets of candidate docs only (small)
    val candDocs = cand.flatMap(p => Seq(p._1, p._2)).toSet
    val sets: Map[Long, Set[String]] = tables.documents
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .where(size(col("ts")) >= Dedup.ShingleSize)
      .select(col("doc_id"), explode(expr(
        graft.functions.Portable.shingleExpr(Dedup.ShingleSize))).as("s"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .filter(p => candDocs(p._1))
      .groupMapReduce(_._1)(p => Set(p._2))(_ ++ _)
    def round6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expected = cand.filter { case (a, b) =>
      val (sa, sb) = (sets(a), sets(b))
      round6((sa & sb).size.toDouble / (sa ++ sb).size) >= Dedup.JaccardMin
    }.toSet
    val got = Dedup.dedupMinhashVerified(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected, s"diff: ${(got -- expected) ++ (expected -- got)}")
    assert(got.nonEmpty) // the planted near-dups survive verification
  }

  test("whale-salted verify emits exactly the unsalted verified pairs") {
    import spark.implicits._
    // a star-routed flood makes its keeper a WHALE: doc 0 (the key-min
    // keeper) appears in ~999 candidate pairs after star routing, so
    // the salted path must scatter its verify work WITHOUT changing a
    // single row. whaleDegree=1/salts=4 additionally forces EVERY
    // candidate doc through the salted branch — both branches of the
    // salt logic are exercised against the same truth.
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val docs = (0 until 1000).map(i => (i.toLong, s"$base uniq$i")) ++ Seq(
      (9000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (9001L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val dir = java.nio.file.Files.createTempDirectory("graft_whale").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val t = Tables(spark, dir)
    val unsalted = Dedup.dedupMinhashVerified(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val salted = Dedup.dedupMinhashVerifiedSalted(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(salted == unsalted,
      s"salted verify drifted: ${(salted -- unsalted) ++ (unsalted -- salted)}")
    assert(unsalted.nonEmpty) // the flood actually produced verified pairs
    // every-doc-a-whale: whaleDegree=1 forces the replicated branch for
    // all candidate docs; rows must still be identical
    val allWhale = Dedup.verifiedPairsSaltedFrom(
      Dedup.corpusShingleStore(t), whaleDegree = 1, salts = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(allWhale == unsalted,
      s"all-whale salting drifted: ${(allWhale -- unsalted) ++ (unsalted -- allWhale)}")
  }

  test("salted verify routing: whale shingles replicated exactly salts x, non-whales 1x; whale list broadcasts") {
    import spark.implicits._
    // same star-routed flood: doc 0 is the structural whale (degree ≈
    // flood size); the planted (9000, 9001) near-pair stays non-whale
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val docs = (0 until 1000).map(i => (i.toLong, s"$base uniq$i")) ++ Seq(
      (9000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (9001L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"))
    val dir = java.nio.file.Files.createTempDirectory("graft_whalepin").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val t = Tables(spark, dir)
    val f = Dedup.saltedVerifyFrames(Dedup.corpusShingleStore(t))
    val whaleIds = f.whales.collect().map(_.getLong(0)).toSet
    assert(whaleIds.contains(0L), s"flood keeper not a whale: $whaleIds")
    assert(!whaleIds.contains(9000L) && !whaleIds.contains(9001L),
      "non-flood docs misclassified as whales")
    // THE routing property: shS holds each whale shingle exactly
    // VerifySalts times and every other candidate doc's exactly once
    val baseCnt = f.sh.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val saltCnt = f.shS.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    baseCnt.foreach { case (id, n) =>
      val want = if (whaleIds(id)) n * Dedup.VerifySalts else n
      assert(saltCnt.get(id).contains(want),
        s"doc $id: ${saltCnt.get(id)} salted rows, want $want (whale=${whaleIds(id)})")
    }
    // and the whale list reaches both join sides as a BROADCAST — the
    // salting must never introduce a shuffle of its own
    val plan = Dedup.dedupMinhashVerifiedSalted(t)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "whale joins not broadcast")
  }

  test("verified-minhash pairs are a subset of exact ngram-jaccard pairs") {
    // the documented recall relation (Dedup.dedupNgramJaccard scaladoc):
    // minhash_verified = LSH candidates ∩ {full-set jaccard ≥ min};
    // ngram_jaccard = {capped-set jaccard ≥ min}. Where the doc-freq cap
    // doesn't bite (true at test sf), capped = full jaccard, so every
    // verified pair must also surface in the exhaustive exact op —
    // ngram-jaccard is the exact tool, verified-minhash the production
    // path whose misses are LSH misses only.
    val verified = Dedup.dedupMinhashVerified(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Dedup.dedupNgramJaccard(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(verified.nonEmpty)
    assert((verified -- exact).isEmpty,
      s"verified pairs missing from exact: ${verified -- exact}")
  }

  test("materialized-shingle verify equals the live plan, never rescans documents") {
    val live = Dedup.dedupMinhashVerified(tables).collect().map(_.toSeq).toSeq
    val mat = Dedup.dedupMinhashVerifiedMat(tables).collect().map(_.toSeq).toSeq
    assert(mat == live)
    // storage amortization actually happened: every shingle consumer
    // reads the materialized store; the raw documents table is gone
    // from the plan entirely
    val plan = Dedup.dedupMinhashVerifiedMat(tables)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      plan.linesIterator.filter(_.contains("documents")).take(3).mkString("\n"))
    assert(plan.contains("graft_shingles_"))
  }

  test("materialized-shingle ngram-jaccard equals the live plan, never rescans documents") {
    val live = Dedup.dedupNgramJaccard(tables).collect().map(_.toSeq).toSeq
    val mat = Dedup.dedupNgramJaccardMat(tables).collect().map(_.toSeq).toSeq
    assert(mat == live)
    val plan = Dedup.dedupNgramJaccardMat(tables)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      plan.linesIterator.filter(_.contains("documents")).take(3).mkString("\n"))
    assert(plan.contains("graft_shingles_"))
  }

  test("materialized-signature simhash equals the live plan, never re-tokenizes") {
    val live = Dedup.dedupSimhash(tables).collect().map(_.toSeq).toSeq
    val mat = Dedup.dedupSimhashMat(tables).collect().map(_.toSeq).toSeq
    assert(mat == live)
    // the signature store replaces the whole tokenize + 48-sum subtree:
    // neither the raw documents table nor any aggregation over tokens
    // appears — just the store scan and the band self-join
    val plan = Dedup.dedupSimhashMat(tables)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"),
      plan.linesIterator.filter(_.contains("documents")).take(3).mkString("\n"))
    assert(plan.contains("graft_simhash_"))
  }

  test("bucketed shingle store: inverted-index phase exchange-free, rows equal live") {
    val live = Dedup.dedupNgramJaccard(tables).collect().map(_.toSeq).toSeq
    val b = Dedup.dedupNgramJaccardBucketed(tables).collect().map(_.toSeq).toSeq
    assert(b == live)
    val plan = Dedup.dedupNgramJaccardBucketed(tables)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_shingles_b_"))
    // the store is bucketed by the shingle key: doc-freq cap, rare
    // semi-join and posting-list self-join all cluster on s with NO
    // exchange — the only shuffles left key on docs/pairs
    assert(!plan.contains("Exchange hashpartitioning(s#"),
      plan.linesIterator.filter(_.contains("hashpartitioning(s#"))
        .take(3).mkString("\n"))
    // ...and that exchange is exactly what the live plan pays
    val livePlan = Dedup.dedupNgramJaccard(tables)
      .queryExecution.executedPlan.toString
    assert(livePlan.contains("Exchange hashpartitioning(s#"))
  }

  test("bucketed band store: candidate self-join exchange-free, rows equal live") {
    val live = Dedup.dedupMinhash(tables).collect().map(_.toSeq).toSeq
    val b = Dedup.dedupMinhashBucketed(tables).collect().map(_.toSeq).toSeq
    assert(b == live)
    assert(Dedup.dedupMinhashBucketed(tables)
      .queryExecution.executedPlan.toString.contains("graft_bands_b_"))
    // At test sf the band table fits a broadcast, which would hide the
    // partitioning story — disable it and look at the shuffle-join
    // shape both plans fall back to: bucketed on band_key (a subset of
    // the (band_idx, band_key) join keys) co-locates both sides, so
    // the store variant joins with NO exchange keyed on the bands
    // while the live plan must shuffle both sides.
    val spark = tables.spark
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = Dedup.dedupMinhashBucketed(tables)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning(band_"),
        plan.linesIterator.filter(_.contains("hashpartitioning(band_"))
          .take(3).mkString("\n"))
      val livePlan = Dedup.dedupMinhash(tables)
        .queryExecution.executedPlan.toString
      assert(livePlan.contains("Exchange hashpartitioning(band_"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("cluster keepers label planted chains transitively, one keeper per component") {
    import spark.implicits._
    // components: a 3-chain {1,2,3}, a pair {10,11}, a 4-chain
    // {20,21,22,23} — chains exercise multi-round propagation (node 23
    // only learns label 20 after 3 rounds)
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L),
      (20L, 21L), (21L, 22L), (22L, 23L)).toDF("doc_a", "doc_b")
    val rows = Dedup.clusterKeepers(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq(
      (1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (10L, 10L, 2L), (11L, 10L, 2L),
      (20L, 20L, 4L), (21L, 20L, 4L), (22L, 20L, 4L), (23L, 20L, 4L)))
  }

  test("cluster keepers converge on a planted 200-node path graph") {
    import spark.implicits._
    // Adversarial diameter: a path 0–1–2–…–199. Plain min-label
    // propagation needs 199 rounds (> MaxClusterIters) and its
    // self-referencing loop grows the logical plan exponentially with
    // rounds — this graph OOMed PLANNING before the pointer jump +
    // localCheckpoint landed. With lbl ← lbl(lbl) each round, chains
    // collapse exponentially: convergence well inside the cap, plan
    // size constant per round.
    val n = 200L
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val rows = Dedup.clusterKeepers(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == n)
    assert(rows.forall { case (_, keeper, size) => keeper == 0L && size == n })
  }

  test("dedup_clusters: every verified pair lands in one cluster under its min id") {
    val pairs = Dedup.dedupMinhashVerified(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val label = Dedup.nearDupClusters(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(label(a) == label(b), s"pair ($a,$b) split across clusters")
      assert(label(a) <= a && label(a) <= b) // keeper is the component min
    }
  }

  test("exact dedup keeps one keeper per distinct text") {
    val rows = Dedup.dedupExact(tables).collect()
    val docs = tables.documents.count()
    assert(rows.map(_.getLong(1)).sum == docs) // copies partition the corpus
    assert(rows.forall(_.getLong(1) >= 1))
  }

  test("dedup_weighted: weights partition the corpus; cluster members fold into keepers") {
    val rows = Dedup.dedupWeighted(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.values.sum == tables.documents.count(),
      "sum of weights must equal the original corpus size")
    assert(rows.values.forall(_ >= 1L))
    // every near-dup cluster keeper carries AT LEAST its cluster's
    // exact-class weights; non-keeper cluster members never appear
    val clusters = Dedup.nearDupClusters(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    clusters.foreach { case (doc, keeper) =>
      if (doc != keeper) assert(!rows.contains(doc),
        s"non-keeper cluster member $doc kept a weight row")
      assert(rows.contains(keeper), s"cluster keeper $keeper missing")
    }
    // keepers of multi-doc clusters weigh at least the cluster size
    clusters.groupBy(_._2).foreach { case (keeper, members) =>
      assert(rows(keeper) >= members.length.toLong,
        s"keeper $keeper weight ${rows(keeper)} < cluster ${members.length}")
    }
  }

  test("dedup_clusters_quality: rep is the argmax-quality member of each cluster") {
    val labels = Dedup.nearDupClusters(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val reps = Dedup.nearDupClustersQuality(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    // one rep per cluster, same cluster universe + sizes as the labels
    assert(reps.map(_._1).toSeq == labels.map(_._2).distinct.sorted.toSeq)
    val sizeOf = labels.map(r => r._2 -> r._3).toMap
    reps.foreach { case (cid, rep, _, size) =>
      assert(size == sizeOf(cid))
      assert(labels.exists(l => l._1 == rep && l._2 == cid),
        s"rep $rep not a member of cluster $cid")
    }
    // the rep really is argmax quality (ties by id): recompute quality
    // per member from the shared expression and compare
    val spark2 = spark
    import spark2.implicits._
    import org.apache.spark.sql.functions._
    val q = tables.documents
      .select(col("doc_id"), col("n_chars"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("n_chars"))
      .agg(count(lit(1)).as("n_tok"), countDistinct(col("w")).as("n_distinct"))
      .select(col("doc_id"), graft.textanalysis.TextAnalysis.qualityExpr(
        col("n_chars"), col("n_tok"), col("n_distinct")).as("q"))
      .as[(Long, Double)].collect().toMap
    labels.groupBy(_._2).foreach { case (cid, members) =>
      val best = members.map(m => (q(m._1), -m._1)).max
      val got = reps.find(_._1 == cid).get
      assert((got._3, -got._2) == best,
        s"cluster $cid rep ${got._2}@${got._3} != argmax $best")
    }
  }

  test("cluster rank: 5-round fixed point on a planted path matches hand-computed integer scores") {
    import spark.implicits._
    // Path 1–2–3: deg(1)=deg(3)=1, deg(2)=2. Hand-unrolled
    // prₖ₊₁(v) = 150000 + (85·Σ_{u∼v} prₖ(u) div deg(u)) div 100
    // from pr₀ = 10⁶:
    //   r1: 575000 / 1850000 / 575000
    //   r2: 936250 / 1127500 / 936250
    //   r3: 629187 / 1741625 / 629187
    //   r4: 890190 / 1219617 / 890190
    //   r5: 668336 / 1663323 / 668336
    // Exact integer arithmetic — any engine deviation (float div,
    // rounding instead of floor, a missed round) breaks equality.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val got = Dedup.rankScoresFrom(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 668336L, 2L -> 1663323L, 3L -> 668336L))
    // the center out-ranks the leaves — the election property
    assert(got(2L) > got(1L))
  }

  test("dedup_cluster_rank: one central per cluster, and it is the pr argmax (ties to min id)") {
    val rows = Dedup.clusterRank(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    // covers exactly the near-dup graph's labeled docs
    val labels = Dedup.nearDupClusters(tables).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(_._1).toSeq.sorted == labels.keys.toSeq.sorted)
    rows.foreach { case (doc, cid, _, _) => assert(labels(doc) == cid) }
    rows.groupBy(_._2).foreach { case (cid, members) =>
      val centrals = members.filter(_._4)
      assert(centrals.length == 1, s"cluster $cid has ${centrals.length} centrals")
      // argmax pr_fp, tie to the smaller doc_id — recomputed independently
      val want = members.map(m => (-m._3, m._1)).min._2
      assert(centrals.head._1 == want,
        s"cluster $cid central ${centrals.head._1} != argmax $want")
    }
  }

  test("embed_label_purity: majority label and purity recomputed per cluster") {
    val labels = Dedup.embedDedupClusters(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val vecLabel = tables.embeddings.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = Dedup.embedLabelPurity(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.nonEmpty && got.map(_._1).toSeq == labels.map(_._2).distinct.sorted.toSeq)
    val byCluster = labels.groupBy(_._2)
    got.foreach { case (cid, n, top, purity) =>
      val members = byCluster(cid).map(m => vecLabel(m._1))
      assert(n == members.length.toLong)
      val counts = members.groupBy(identity).view.mapValues(_.length).toMap
      val best = counts.toSeq.map { case (l, c) => (-c, l) }.min
      assert(top == best._2, s"cluster $cid top label")
      assert(math.abs(purity - (-best._1).toDouble / n) < 1e-6)
    }
  }

  test("simhash pairs are within the hamming threshold") {
    val rows = Dedup.dedupSimhash(tables).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getInt(2) <= Dedup.HammingMax))
  }

  test("embedding near-dup cosines are in [CosineMin, 1]") {
    val rows = Dedup.dedupEmbedding(tables).collect()
    rows.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= Dedup.CosineMin && c <= 1.0 + 1e-9)
    }
  }

  test("multi-table embedding dedup: single-table pairs are a strict subset path") {
    // table 0 buckets on the same dim slice as the single-table entry,
    // so OR-amplification can only ADD candidates: every single-table
    // pair must reappear, with the identical verified cosine
    val single = Dedup.dedupEmbedding(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val multi = Dedup.dedupEmbeddingMultitable(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(single.nonEmpty)
    single.foreach { case (pair, cos) =>
      assert(multi.get(pair).contains(cos),
        s"single-table pair $pair lost or re-scored: ${multi.get(pair)}")
    }
    // and the extra tables actually widen recall at this sf
    assert(multi.size >= single.size)
  }

  test("containment catches a doc quoted inside a 10x larger doc that jaccard misses") {
    import spark.implicits._
    // doc 1 = a 10-token passage; doc 2 = 100 tokens quoting it verbatim.
    // Jaccard ≈ 8/98 — far below 0.8, invisible to every symmetric op —
    // but containment = 1.0: every shingle of the quote is in the host.
    val quote = (0 until 10).map(i => s"q$i").mkString(" ")
    val host = ((0 until 45).map(i => s"h$i") ++ quote.split(" ") ++
      (45 until 90).map(i => s"h$i")).mkString(" ")
    val docs = Seq((1L, quote), (2L, host),
      (50L, "solitary content sharing nothing with anyone at all"))
    val dir = java.nio.file.Files.createTempDirectory("graft_contain").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val t = Tables(spark, dir)
    val got = Dedup.dedupContainment(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(4))).toSet
    assert(got == Set((1L, 2L, 1.0)), s"got $got")
    // the motivating gap: the symmetric op does NOT see this pair
    val jac = Dedup.dedupNgramJaccard(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)), s"jaccard unexpectedly caught it: $jac")
  }

  test("containment ignores docs below the minimum shingle count") {
    import spark.implicits._
    // two 3-token docs share their single shingle — containment would be
    // 1.0 but is meaningless; the min-shingle guard drops them
    val docs = Seq((1L, "tiny shared shingle"), (2L, "tiny shared shingle x"),
      (10L, (0 until 20).map(i => s"a$i").mkString(" ")),
      (11L, (0 until 20).map(i => s"a$i").mkString(" ") + " tail"))
    val dir = java.nio.file.Files.createTempDirectory("graft_containmin").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val got = Dedup.dedupContainment(Tables(spark, dir)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 11L)), s"got $got")
  }

  test("multiprobe embedding dedup: multi-table pairs are a subset, cosines identical") {
    // mask 0 reproduces every multi-table candidate, so hamming-1
    // probing can only ADD pairs; the verify stage is shared, so any
    // pair present in both carries the identical cosine
    val mt = Dedup.dedupEmbeddingMultitable(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val mp = Dedup.dedupEmbeddingMultiprobe(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(mt.nonEmpty)
    mt.foreach { case (pair, cos) =>
      assert(mp.get(pair).contains(cos),
        s"multi-table pair $pair lost or re-scored: ${mp.get(pair)}")
    }
    assert(mp.size >= mt.size)
  }

  test("doc_boilerplate_frac: planted template docs score high, unique docs zero") {
    import spark.implicits._
    val boiler = "all rights reserved by this site"
    val docs = (0 until 5).map(i => (i.toLong, s"$boiler unique$i")) ++
      Seq((100L, "entirely singular content nothing shared here"))
    val dir = java.nio.file.Files.createTempDirectory("graft_boiler").toString
    docs.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val rows = Dedup.docBoilerplateFrac(Tables(spark, dir)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    // template docs: 5 shingles, 4 fully shared ("all rights reserved",
    // "rights reserved by", "reserved by this", "by this site"); the
    // "this site uniqueN" tail shingles are doc-local
    (0 until 5).foreach { i =>
      val (n, shared, frac) = rows(i.toLong)
      assert(n == 5L && shared == 4L && frac == 0.8, s"doc $i: $n/$shared/$frac")
    }
    assert(rows(100L) == ((4L, 0L, 0.0)))
  }

  test("embedding bucket width adapts to corpus size; planted dup pair survives") {
    import spark.implicits._
    // 3000 vectors → the ladder picks 3 bits (3000 ≥ 256·2³=2048,
    // < 4096): the self-join must shrink to ~n²/8 per-bucket work
    // instead of n²/4, and the 2-bit r8 result is a strict SUPERSET
    // (3-bit equality implies 2-bit prefix equality). Deterministic
    // pseudo-random signs via md5-free integer mixing.
    def vec(i: Long): Seq[Double] =
      Seq.tabulate(16)(j => (((i * 2654435761L + j * 40503L) >> 7) % 17).toDouble - 8.0)
    val rows = (0L until 3000L).map(i => (i, vec(i))) :+
      ((9000L, vec(42))) // exact dup of vector 42 → cosine 1.0, any width
    val dir = java.nio.file.Files.createTempDirectory("graft_adbits").toString
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val t = Tables(spark, dir)
    val adaptive = Dedup.embedPairsFrom(t).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fixed2 = Dedup.embedPairsFrom(t, forceBits = Some(2)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adaptive.contains((42L, 9000L)), "planted exact dup lost by widening")
    assert(adaptive.subsetOf(fixed2),
      s"adaptive pairs not a subset of 2-bit pairs: ${adaptive -- fixed2}")
    // the width really did change: candidate generation shrank
    val candAdaptive = Dedup.embedPairsFrom(t, forceBits = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(adaptive == candAdaptive,
      "ladder did not pick 3 bits for a 3001-vector corpus")
  }

  test("multiprobe candidate pairs grow ~linearly when width tracks the ladder, ~quadratically fixed") {
    import spark.implicits._
    // the scaling pin VERDICT r8 #5 asks for, on DATA not wall-clock:
    // candidate-pair counts at forced widths. 512 vectors at 4 bits vs
    // 1024 vectors at 5 bits (the ladder's move: occupancy held) must
    // grow ~2x; 1024 at the FIXED 4 bits must grow ~4x — the measured
    // sf1 quadratic, reproduced and bounded in a unit test.
    // splitmix-style mixing: per-dimension signs must be BALANCED or
    // bucket occupancy skews and the occupancy ratios drift
    def vec(seed: Long)(i: Long): Seq[Double] = Seq.tabulate(24) { j =>
      var z = i * 0x9E3779B97F4A7C15L + seed + j * 0xBF58476D1CE4E5B9L
      z ^= z >>> 31; z *= 0x94D049BB133111EBL; z ^= z >>> 27
      ((z & 0xFF).toDouble - 127.5) / 127.5
    }
    def corpus(n: Long, dir: String): Tables = {
      (0L until n).map(i => (i, vec(7L)(i)))
        .toDF("vec_id", "embedding").write.mode("overwrite")
        .parquet(s"$dir/embeddings.parquet")
      Tables(spark, dir)
    }
    val t1 = corpus(512L,
      java.nio.file.Files.createTempDirectory("graft_mpgrow1").toString)
    val t2 = corpus(1024L,
      java.nio.file.Files.createTempDirectory("graft_mpgrow2").toString)
    val base = Dedup.multiprobeCandidates(t1, forceBits = Some(4)).count()
    val laddered = Dedup.multiprobeCandidates(t2, forceBits = Some(5)).count()
    val fixed = Dedup.multiprobeCandidates(t2, forceBits = Some(4)).count()
    assert(base > 0)
    val linRatio = laddered.toDouble / base
    val quadRatio = fixed.toDouble / base
    assert(linRatio < 3.0, s"laddered growth not ~linear: $base -> $laddered")
    assert(quadRatio > 3.0, s"fixed-width growth not ~quadratic: $base -> $fixed")
    assert(quadRatio > 1.5 * linRatio,
      s"ladder did not separate from fixed width: $linRatio vs $quadRatio")
  }

  test("budgeted probing flips least-confident bits only; boundary splits caught") {
    import spark.implicits._
    // forced 4-bit width (> ProbeBudget=2, the regime the budget
    // exists for). Each table's bucket dims 8j..8j+3 carry magnitudes
    // (0.01, 0.02, 0.03, 0.30): the budget probes the 0.01/0.02 bits
    // and never the confident 0.30 bit.
    //   pair (1,2): the 0.01 dim flips in every table → cosine ≈ 1,
    //     every own-bucket differs, and the probe MUST recover it.
    //   pair (3,4): the 0.30 dim flips in every table → cosine ≈ 0.5
    //     (would verify if ever a candidate), but the flipped bit is
    //     outside every table's budget → stays out.
    def base(small: Double, big: Double): Seq[Double] =
      Seq.tabulate(64) { d =>
        if (d % 8 == 0 && d < 24) small
        else if (d % 8 == 3 && d < 24) big
        else if (d % 8 == 1 && d < 24) 0.02
        else if (d % 8 == 2 && d < 24) 0.03
        else 0.125
      }
    val rows = Seq(
      (1L, base(0.01, 0.30)), (2L, base(-0.01, 0.30)),
      (3L, base(0.01, 0.30).updated(0, 0.011)), // distinct from 1
      (4L, base(0.01, -0.30).updated(0, 0.011)))
    val dir = java.nio.file.Files.createTempDirectory("graft_qdirected").toString
    rows.toDF("vec_id", "embedding").write.mode("overwrite")
      .parquet(s"$dir/embeddings.parquet")
    val t = Tables(spark, dir)
    val mp = Dedup.dedupEmbeddingMultiprobe(t, forceBits = Some(4)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mp.contains((1L, 2L)), s"boundary split escaped the probe: $mp")
    assert(!mp.contains((3L, 4L)),
      s"confident 0.30-dim flip was probed despite the budget: $mp")
  }

  test("decontaminate flags eval docs fully quoted in train, not partial overlap") {
    import spark.implicits._
    val eval1 = (0 until 20).map(i => s"e$i").mkString(" ")   // 18 shingles
    val eval2 = (0 until 20).map(i => s"x$i").mkString(" ")   // unique
    // trainA embeds ALL of eval1 inside a larger page → contamination 1.0
    val trainA = eval1 + " " + (0 until 40).map(i => s"t$i").mkString(" ")
    // trainB carries only the first half of eval1 → 8/18 < 0.9, clean
    val trainB = (0 until 10).map(i => s"e$i").mkString(" ") + " " +
      (0 until 30).map(i => s"u$i").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_decontam").toString
    Seq((1L, eval1, "src0"), (2L, eval2, "src0"),
      (10L, trainA, "src1"), (11L, trainB, "src2"))
      .toDF("doc_id", "text", "source").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val t = Tables(spark, dir)
    val got = Dedup.dedupDecontaminate(t).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 10L, 1.0)), got.mkString(","))
  }

  test("decontaminateAgainst reproduces the planted pair across two real directories") {
    import spark.implicits._
    // the planted pair from the single-corpus decontam test, but the
    // eval docs live in their OWN directory (the benchmark-suite shape)
    val eval1 = (0 until 20).map(i => s"q$i").mkString(" ")
    val eval2 = (100 until 120).map(i => s"q$i").mkString(" ")
    val trainA = "intro words " + eval1 + " outro words " +
      (0 until 30).map(i => s"t$i").mkString(" ") // full embed → 1.0
    val trainB = (100 until 110).map(i => s"q$i").mkString(" ") + " " +
      (0 until 30).map(i => s"u$i").mkString(" ") // half quote → below 0.9
    val trainDir = java.nio.file.Files.createTempDirectory("graft_dc_train").toString
    val evalDir = java.nio.file.Files.createTempDirectory("graft_dc_eval").toString
    Seq((10L, trainA), (11L, trainB)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$trainDir/documents.parquet")
    Seq((1L, eval1), (2L, eval2)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$evalDir/documents.parquet")
    val got = Dedup.decontaminateAgainst(
      Tables(spark, trainDir), Tables(spark, evalDir)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 10L, 1.0)), got.mkString(","))
  }

  test("dedup_decontaminate_dir probes a real on-disk eval directory") {
    val evalRoot = Dedup.evalCorpusDir(tables)
    // the eval dir is a genuine corpus dir: Tables can read it, and it
    // holds exactly the src0 slice
    val evalDocs = Tables(spark, evalRoot).documents
    assert(evalDocs.count() ==
      tables.documents.filter(org.apache.spark.sql.functions
        .col("source") === Dedup.EvalSource).count())
    // and the entry finds contamination on the main corpus (the
    // planted src0 near-copies in testdata)
    val rows = Dedup.dedupDecontaminateDir(tables).collect()
    rows.foreach { r =>
      assert(r.getDouble(3) >= Dedup.ContaminationMin)
    }
  }

  // LAST in the suite on purpose: reaping treats every tag not derived
  // from `tables`' corpus as stale, including stores earlier tests
  // built for their temp corpora (they rebuild on demand — ensure-write)
  test("reapStaleStores drops orphaned tags, keeps the live corpus stores") {
    // build (or reuse) the live stores, then remember a result
    val before = Dedup.dedupMinhashVerifiedMat(tables).collect().map(_.toSeq).toSeq
    Dedup.dedupMinhashBucketed(tables).collect() // ensures graft_bands_b
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    // plant orphans: a stale parquet cache dir and a stale bucketed
    // store, each committed (as an earlier JVM leaves them)
    def plant(name: String): java.io.File = {
      val d = new java.io.File(wh, name)
      d.mkdirs()
      new java.io.File(d, "_SUCCESS").createNewFile()
      d
    }
    val staleDir = plant("graft_shingles_keep_000000000000")
    val staleBands = plant("graft_bands_b_000000000000")
    val reaped = Dedup.reapStaleStores(tables)
    assert(reaped.contains("graft_shingles_keep_000000000000"), reaped.toString)
    assert(reaped.contains("graft_bands_b_000000000000"), reaped.toString)
    assert(!staleDir.exists())
    assert(!staleBands.exists())
    // live stores survived: the store-backed query still answers, and a
    // second reap finds nothing of the live corpus to delete
    val after = Dedup.dedupMinhashVerifiedMat(tables).collect().map(_.toSeq).toSeq
    assert(after == before)
    val again = Dedup.reapStaleStores(tables)
    assert(again.isEmpty, s"second reap should be a no-op: $again")
  }

  // after the single-corpus reap test: multi-corpus warehouses reap
  // safely by enumerating every live corpus (ADVICE r8)
  test("reapStaleStores keeps alsoKeep corpora's stores in a shared warehouse") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_reap2").toString
    (0L until 6L).map(i => (i, s"corpus two doc $i body words alpha beta gamma delta $i"))
      .toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val t2 = Tables(spark, dir)
    Dedup.dedupNgramJaccardMat(t2).collect() // builds t2's graft_shingles
    // the shingle store is INCREMENTAL since r18: its root is
    // `graft_shingles_gens_<stableTag>` (growth-stable, no inventory)
    val t2Shingles = "graft_shingles_gens_" +
      graft.storage.Materialize.stableTag(t2, Dedup.ShinglesStore)
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    assert(new java.io.File(wh, t2Shingles).exists(), "t2 store not built")
    // with t2 in the keep-set, its stores survive the reap
    val reaped = Dedup.reapStaleStores(tables, alsoKeep = Seq(t2))
    assert(!reaped.contains(t2Shingles), reaped.toString)
    assert(new java.io.File(wh, t2Shingles).exists())
    // without it, the single-corpus keep-set treats t2's tag as stale
    val reaped2 = Dedup.reapStaleStores(tables)
    assert(reaped2.contains(t2Shingles), reaped2.toString)
    assert(!new java.io.File(wh, t2Shingles).exists())
  }

  test("dedup_pair_evidence: one row per verified pair; counts reconcile the jaccard; samples really occur in both texts") {
    import org.apache.spark.sql.functions.col
    val verified = Dedup.dedupMinhashVerified(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val rows = Dedup.dedupPairEvidence(tables).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getLong(3), r.getString(4))))
      .toMap
    assert(rows.keySet == verified.keySet, "evidence covers exactly the pairs")
    val texts = tables.documents.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { case ((a, b), (j, nShared, sample)) =>
      assert(j == verified((a, b)), s"pair ($a,$b) jaccard drift")
      assert(nShared >= 1)
      val shingles = sample.split(" \\| ")
      assert(shingles.nonEmpty &&
        shingles.length <= Dedup.EvidenceSampleK)
      // every sampled shingle is a real passage of BOTH documents
      shingles.foreach { s =>
        assert(texts(a).contains(s), s"pair ($a,$b): '$s' not in doc $a")
        assert(texts(b).contains(s), s"pair ($a,$b): '$s' not in doc $b")
      }
    }
  }

  test("near-dup clusters follow a landing under a live dir") {
    import org.apache.spark.sql.functions._
    TempCorpus.withCopy(spark, sfDir, "graft-clusters-grow", "documents") { t =>
      def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val before = labels(Dedup.nearDupClusters(t))
      val rankedBefore = labels(Dedup.clusterRank(t))
      assert(before.nonEmpty && rankedBefore.keySet == before.keySet)
      // a near copy of a cluster keeper: its text with one word appended
      val keeper = before.values.min
      val newId = t.documents.agg(max(col("doc_id"))).head.getLong(0) + 1
      TempCorpus.land(t, "documents", t.documents
        .filter(col("doc_id") === keeper)
        .withColumn("doc_id", lit(newId))
        .withColumn("text", concat(col("text"), lit(" addendum")))
        .withColumn("n_chars", length(col("text")).cast("long")))
      val after = labels(Dedup.nearDupClusters(t))
      assert(after != before, "clusters converged before the landing were served")
      assert(after.get(newId).contains(keeper),
        s"the landed near copy of $keeper is not in its cluster: ${after.get(newId)}")
      assert(after - newId == before)
      assert(labels(Dedup.clusterRank(t)).keySet == after.keySet)
    }
  }

  test("bucketed stores rebuilt after a landing equal a from-scratch build, growth and rebase alike") {
    import org.apache.spark.sql.functions._
    import graft.dedup.Substring
    import graft.storage.Materialize
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def keeperShingleDirs: Set[String] = wh.listFiles().map(_.getName)
      .filter(_.startsWith("graft_shingles_keep_")).toSet
    val keepDirs0 = keeperShingleDirs
    val stores = Seq(Dedup.ShinglesBucketedStore, Dedup.BandsBucketedStore,
      Substring.WindowsBucketedStore)
    // builds the three bucketed stores of `c` through their entries and
    // returns each store's rows
    def storeRows(c: Tables): Seq[Seq[String]] = {
      Dedup.dedupNgramJaccardBucketed(c).collect()
      Dedup.dedupMinhashBucketed(c).collect()
      Substring.substringSpansBucketed(c).collect()
      stores.map(s => spark.read.parquet(new java.io.File(wh,
        s"${s.prefix}_${s.tag(c)}").toString).collect().map(_.toString)
        .sorted.toSeq)
    }
    def fromScratch(c: Tables): Seq[Seq[String]] =
      TempCorpus.withCopy(spark, c.dir, "graft-stores-fresh", "documents")(storeRows)
    // near copies (a new shingle each) and exact copies (no keepers)
    def segment(c: Tables, from: Long, n: Int): org.apache.spark.sql.DataFrame = {
      val maxId = c.documents.agg(max(col("doc_id"))).head.getLong(0)
      val picked = c.documents.filter(col("doc_id") >= from)
        .orderBy(col("doc_id")).limit(n)
      picked.withColumn("doc_id", col("doc_id") + lit(maxId + 1))
        .withColumn("text", concat(col("text"), lit(" addendum words here")))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .union(picked.withColumn("doc_id", col("doc_id") + lit(2 * maxId + 2)))
    }
    TempCorpus.withCopy(spark, sfDir, "graft-stores-grow", "documents") { t =>
      val before = storeRows(t)
      def pending(): Seq[(Int, Boolean)] =
        Seq(Dedup.ShinglesStore, Substring.WindowsStore).map { s =>
          val (files, rebase) = Materialize.incrementalPending(t, s)
          (files.size, rebase)
        }

      // growth: one new part file, the incremental stores append it
      TempCorpus.land(t, "documents", segment(t, 0L, 10))
      assert(pending() == Seq((1, false), (1, false)), pending().toString)
      val grown = storeRows(t)
      assert(grown.zip(before).forall { case (g, b) => g.size > b.size },
        "the landing added no store rows")
      assert(grown == fromScratch(t), "grown stores differ from a fresh build")

      // rewrite: a recorded part file's rows move into a new file next to
      // a second segment, so the incremental stores rebase
      val docsDir = new org.apache.hadoop.fs.Path(t.dir, "documents.parquet")
      val fs = docsDir.getFileSystem(spark.sessionState.newHadoopConf())
      val victim = fs.listStatus(docsDir).map(_.getPath)
        .filter(_.getName.startsWith("part-")).minBy(_.getName)
      val moved = spark.read.parquet(victim.toString).collect().toSeq
      val seg2 = segment(t, 50L, 10).collect().toSeq
      fs.delete(victim, false)
      TempCorpus.land(t, "documents", spark.createDataFrame(
        spark.sparkContext.parallelize(moved ++ seg2, 1), t.documents.schema))
      assert(pending().forall(_._2), s"a rewrite did not rebase: ${pending()}")
      val rebased = storeRows(t)
      assert(rebased != grown)
      assert(rebased == fromScratch(t), "rebased stores differ from a fresh build")
      assert((keeperShingleDirs -- keepDirs0).isEmpty,
        s"a keeper shingle store was built: ${keeperShingleDirs -- keepDirs0}")
    }
  }
}
