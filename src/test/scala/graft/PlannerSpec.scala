package graft

import graft.pipeline.{Planner, Reports}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.BucketingUtils
import org.apache.spark.sql.functions._

/** The ANALYZE-consumer: statistics → join-strategy decision → the
  * decision actually driving the executed physical plan.
  */
class PlannerSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def tbl(t: Tables, n: String): DataFrame = n match {
    case "lineitem" => t.lineitem case "orders" => t.orders
    case "customer" => t.customer case "part" => t.part
    case "supplier" => t.supplier case "nation" => t.nation
    case "region" => t.region
  }

  private def collectDecisions(t: Tables) =
    Planner.joinDecisions(t).collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getLong(8), r.getString(9)))

  test("plan_join_decisions ≡ JVM stats model; the advisor scans no fact table") {
    val got = collectDecisions(tables)

    val B = Reports.EqdBuckets
    val prices = tables.orders.select(col("o_totalprice"))
      .collect().map(_.getDouble(0)).sorted
    val n = prices.length.toLong
    val bs = (1 until B).map(k => prices((((k.toLong * n + B - 1) / B) - 1).toInt))
    def ascRank(k: Int): Long =
      if (k == 0) 0L else if (k == B) n else (k.toLong * n + B - 1) / B
    val (pLo, pHi) = ((bs(1) + bs(2)) / 2.0, (bs(4) + bs(5)) / 2.0)
    val priceEst = (1 to B).filter { k =>
      val blo = if (k == 1) -Double.MaxValue else bs(k - 2)
      val bhi = if (k == B) Double.MaxValue else bs(k - 1)
      blo < pHi && bhi >= pLo
    }.map(k => ascRank(k) - ascRank(k - 1)).sum
    val want = Planner.Candidates.map { c =>
      val (p, b) = (tbl(tables, c.probe), tbl(tables, c.build))
      val nP = p.count(); val ndvP = p.select(c.probeKey).distinct().count()
      val nB = b.count(); val ndvB = b.select(c.buildKey).distinct().count()
      val estBuild = if (c.priceFiltered) priceEst else nB
      val bytes = estBuild * Planner.RowWidth(c.build)
      (c.id, c.probe, c.build, nP, estBuild, ndvP, ndvB,
        nP * estBuild / math.max(ndvP, ndvB), bytes,
        if (bytes <= Planner.BroadcastBudgetBytes) "broadcast" else "shuffle")
    }.sortBy(_._1)
    assert(got.toSeq == want,
      s"advisor diverges from model:\ngot  ${got.toSeq}\nwant $want")

    // a 100 TB advisor prices joins from METADATA: the entry's plan
    // must contain no table scan at all (stats are collected from the
    // two ANALYZE stores before the literal frame is built)
    val plan = physical(Planner.joinDecisions(tables))
    assert(!plan.contains("FileScan"),
      s"the advisor's own plan must not scan anything:\n$plan")
  }

  test("applyDecision: the executed join strategy IS the advisor's verdict") {
    val dec = collectDecisions(tables).map(r => (r._1, r._10)).toMap
    Planner.Candidates.foreach { c =>
      val plan = physical(Planner.applyDecision(tables, c.id))
      if (dec(c.id) == "broadcast")
        assert(plan.contains("BroadcastHashJoin"),
          s"${c.id} decided broadcast but ran:\n$plan")
      else {
        assert(!plan.contains("BroadcastHashJoin"),
          s"${c.id} decided shuffle but broadcast ran:\n$plan")
        assert(plan.contains("SortMergeJoin"),
          s"${c.id} decided shuffle; expected a merge join:\n$plan")
      }
    }
    intercept[IllegalArgumentException] {
      Planner.applyDecision(tables, "no_such_join")
    }
  }

  test("an inflated build side flips the verdict to shuffle, and the executed plan follows") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-planner-big").toString
    // orders big enough that 40000 x 32 B > the 1 MB broadcast
    // budget; every other dimension tiny (decision diversity in ONE
    // corpus — j2 must flip, j6 must stay broadcast). o_custkey is
    // CONSTANT so the partition advisor's partition-by branch fires
    // too (ndv=1, 1.28 MB per value)
    (1 to 40000).map(i => (i.toLong, 1L,
        (i % 997).toDouble + 0.5))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    // lineitem: 120000 rows ALL on l_suppkey=7 — the skew advisor's
    // salt branch (> 100k rows on one key → 2 salts)
    (1 to 120000).map(i => ((i % 40000 + 1).toLong, (i % 50 + 1).toLong,
        7L))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    (1 to 100).map(i => (i.toLong, (i % 5 + 1).toLong))
      .toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    (1 to 50).map(i => i.toLong).toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    (1 to 20).map(i => (i.toLong, (i % 5 + 1).toLong))
      .toDF("s_suppkey", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    (1 to 5).map(i => (i.toLong, (i % 2 + 1).toLong))
      .toDF("n_nationkey", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    (1 to 2).map(i => i.toLong).toDF("r_regionkey")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")

    val t = Tables(spark, dir)
    val dec = collectDecisions(t).map(r => (r._1, r._10)).toMap
    assert(dec("j2_line_orders") == "shuffle",
      s"40000x32B build must exceed the 1MB budget: $dec")
    assert(dec("j6_customer_nation") == "broadcast", s"tiny build: $dec")

    val shuffled = Planner.applyDecision(t, "j2_line_orders")
    val plan = physical(shuffled)
    assert(!plan.contains("BroadcastHashJoin") &&
      plan.contains("SortMergeJoin"),
      s"shuffle verdict must run as a merge join:\n$plan")
    // the hinted join is still the same join
    assert(shuffled.count() ==
      t.lineitem.join(t.orders,
        col("l_orderkey") === col("o_orderkey")).count())

    // layout advisor on the same corpus: the constant-key column is
    // the one partition-by (1.28 MB per value, ndv=1); everything
    // else hash-buckets
    val lay = Planner.partitionAdvisor(t).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getString(6))).toMap
    assert(lay(("orders", "o_custkey")) == "partition-by", s"$lay")
    assert(lay(("orders", "o_orderkey")) == "bucket-by", s"$lay")
    assert(lay(("nation", "n_nationkey")) == "bucket-by",
      s"tiny per-value slices must not partition (small files): $lay")

    // skew advisor: the 120k-rows-one-key column salts (2 fan-outs);
    // spread keys stay plain
    val skew = Planner.skewAdvisor(t).collect()
      .map(r => ((r.getString(0), r.getString(1)),
        (r.getString(6), r.getLong(7)))).toMap
    assert(skew(("lineitem", "l_suppkey")) == ("salt", 2L), s"$skew")
    assert(skew(("lineitem", "l_orderkey")) == ("plain", 1L), s"$skew")

    // applySkew: the executed aggregation carries the skew verdict —
    // the 120k-one-key column runs the salted two-phase shape with
    // the advised fan-out; the spread key runs the plain single-phase
    val salted = Planner.applySkew(t, "lineitem", "l_suppkey")
    val saltedPlan = physical(salted)
    assert(saltedPlan.contains("_salt"),
      s"salt verdict must execute the two-phase shape:\n$saltedPlan")
    val plain = Planner.applySkew(t, "lineitem", "l_orderkey")
    assert(!physical(plain).contains("_salt"),
      "plain verdict must not pay the extra salted phase")
    // identical result to the unsalted aggregation
    assert(salted.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      == Map(7L -> 120000L))
    assert(plain.count() == 40000L)
    intercept[IllegalArgumentException] {
      Planner.applySkew(t, "lineitem", "no_such_column")
    }

    // applyLayout: the verdicts land on disk as decided
    import org.apache.hadoop.fs.Path
    val pPath = Planner.applyLayout(t, "orders", "o_custkey")
    val fs = new Path(pPath).getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.exists(new Path(pPath, "o_custkey=1")),
      "partition-by verdict must produce value directories")
    assert(spark.read.parquet(pPath).count() == 40000L)
    val tName = Planner.applyLayout(t, "orders", "o_orderkey")
    // the bucket-by verdict lands bucketed into the advised count: every
    // data file carries its bucket id, and the store reads back (a hit,
    // nothing rebuilt) as a relation with that bucket spec
    val nBuckets = Planner.partitionAdvisor(t).collect()
      .find(r => r.getString(0) == "orders" && r.getString(1) == "o_orderkey")
      .get.getLong(7).toInt
    val spec = BucketSpec(nBuckets, Seq("o_orderkey"), Seq("o_orderkey"))
    val bucketIds = fs.listStatus(new Path(tName)).map(_.getPath.getName)
      .filterNot(_.startsWith("_")).map(BucketingUtils.getBucketId)
    assert(bucketIds.nonEmpty && bucketIds.forall(_.exists(_ < nBuckets)),
      s"bucket-by verdict must produce $nBuckets-bucket files: ${bucketIds.toSeq}")
    val bucketed = graft.storage.Materialize.ensureParquetAt(spark,
      new Path(tName), fail("a landed layout must not be rebuilt"),
      bucketing = Some(spec))
    assert(bucketed.count() == 40000L)
    val perKey = bucketed.groupBy("o_orderkey").count()
    perKey.collect()
    assert(!physical(perKey).contains("Exchange hashpartitioning"),
      s"the bucketed layout must serve a per-key aggregation unshuffled:\n${physical(perKey)}")
    // ensure protocol: re-apply is a no-op returning the same identity
    assert(Planner.applyLayout(t, "orders", "o_custkey") == pPath)
    assert(Planner.applyLayout(t, "orders", "o_orderkey") == tName)
    // a write that crashed at the partition-by path left its dir
    // without _SUCCESS: the layout is refused, not served
    fs.delete(new Path(pPath, "_SUCCESS"), false)
    fs.mkdirs(new Path(pPath, "_temporary"))
    val e = intercept[java.io.IOException](
      Planner.applyLayout(t, "orders", "o_custkey"))
    assert(e.getMessage.contains("_SUCCESS"), e.getMessage)
    fs.delete(new Path(pPath), true)
    assert(Planner.applyLayout(t, "orders", "o_custkey") == pPath)
    assert(spark.read.parquet(pPath).count() == 40000L)
  }

  test("plan_join_order ≡ JVM stats model; both verdicts occur; the executed tree joins the chosen pair first") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val got = Planner.joinOrderDecisions(tables).collect()
      .map(r => (r.getString(0), r.getLong(7), r.getLong(8), r.getLong(9),
        r.getString(10)))
    val want = Planner.Chains.map { ch =>
      def st(tn: String, c: String) = {
        val df = tbl(tables, tn)
        (df.count(), df.select(c).distinct().count())
      }
      val (nA, ndvAK) = st(ch.a, ch.aKey)
      val (nB, ndvBA) = st(ch.b, ch.bKeyA)
      val (_, ndvBB) = st(ch.b, ch.bKeyB)
      val (nC, ndvCK) = st(ch.c, ch.cKey)
      val estAB = nA * nB / math.max(ndvAK, ndvBA)
      val estBC = nB * nC / math.max(ndvBB, ndvCK)
      val ab = estAB <= estBC
      (ch.id, estAB, estBC,
        if (ab) estAB * nC / math.max(ndvBB, ndvCK)
        else estBC * nA / math.max(ndvAK, ndvBA),
        if (ab) "ab_first" else "bc_first")
    }.sortBy(_._1)
    assert(got.toSeq == want,
      s"order advisor diverges:\ngot  ${got.toSeq}\nwant $want")
    // decision diversity on the real corpus: the fact→dim walk joins
    // the dims first; the reversed walk joins customer⋈orders first
    val dec = got.map(r => (r._1, r._5)).toMap
    assert(dec("c1_line_orders_customer") == "bc_first", s"$dec")
    assert(dec("c3_customer_orders_lineitem") == "ab_first", s"$dec")
    // metadata-only pricing
    val plan = physical(Planner.joinOrderDecisions(tables))
    assert(!plan.contains("FileScan"),
      s"the order advisor must price from metadata only:\n$plan")

    // the executed tree: the INNERMOST join's keys are the chosen
    // pair's (Spark preserves constructed join order — CBO reorder
    // off, AQE never re-associates)
    def innermostKeys(chainId: String): String = {
      val joins = Planner.applyJoinOrder(tables, chainId)
        .queryExecution.optimizedPlan.collect { case j: Join => j }
      joins.last.condition.get.toString
    }
    assert(innermostKeys("c1_line_orders_customer").contains("o_custkey"),
      "c1 bc_first must join orders⋈customer innermost")
    assert(innermostKeys("c3_customer_orders_lineitem").contains("c_custkey"),
      "c3 ab_first must join customer⋈orders innermost")
    // the decided order computes the same rows as the naive order
    assert(Planner.applyJoinOrder(tables, "c2_orders_customer_nation").count() ==
      tables.orders.join(tables.customer,
          col("o_custkey") === col("c_custkey"))
        .join(tables.nation, col("c_nationkey") === col("n_nationkey"))
        .count())
    intercept[IllegalArgumentException] {
      Planner.applyJoinOrder(tables, "no_such_chain")
    }
  }

  test("regenerating one stat-source table retags the stores: advisors recompute, layouts re-land") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-planner-stale").toString
    def writeOrders(n: Int): Unit =
      (1 to n).map(i => (i.toLong, (i % 7 + 1).toLong,
          (i % 97).toDouble + 0.5))
        .toDF("o_orderkey", "o_custkey", "o_totalprice")
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    writeOrders(1000)
    (1 to 500).map(i => ((i % 1000 + 1).toLong, (i % 50 + 1).toLong,
        (i % 20 + 1).toLong))
      .toDF("l_orderkey", "l_partkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    (1 to 100).map(i => (i.toLong, (i % 5 + 1).toLong))
      .toDF("c_custkey", "c_nationkey")
      .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    (1 to 50).map(i => i.toLong).toDF("p_partkey")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    (1 to 20).map(i => (i.toLong, (i % 5 + 1).toLong))
      .toDF("s_suppkey", "s_nationkey")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    (1 to 5).map(i => (i.toLong, (i % 2 + 1).toLong))
      .toDF("n_nationkey", "n_regionkey")
      .write.mode("overwrite").parquet(s"$dir/nation.parquet")
    (1 to 2).map(i => i.toLong).toDF("r_regionkey")
      .write.mode("overwrite").parquet(s"$dir/region.parquet")

    def nOrdersSeen(t: Tables): Long = Planner.joinDecisions(t).collect()
      .find(_.getString(0) == "j3_orders_customer").get.getLong(3)
    val t1 = Tables(spark, dir)
    assert(nOrdersSeen(t1) == 1000L)
    val ordersLay1 = Planner.applyLayout(t1, "orders", "o_orderkey")
    val custLay1 = Planner.applyLayout(t1, "customer", "c_custkey")

    // regenerate ONLY orders — lineitem (the old single tag source)
    // untouched. Pre-fix, the key-stats store kept its tag and served
    // the 1000-row statistics; the orders layout kept serving the old
    // bytes under the shared stats tag.
    writeOrders(1500)
    val t2 = Tables(spark, dir)
    assert(nOrdersSeen(t2) == 1500L,
      "stale key-stats store served after orders regenerated")
    val ordersLay2 = Planner.applyLayout(t2, "orders", "o_orderkey")
    assert(ordersLay2 != ordersLay1,
      "orders layout must re-land under the regenerated inventory")
    assert(spark.read.parquet(ordersLay2).count() == 1500L)
    // an untouched table's layout identity is stable across the churn
    assert(Planner.applyLayout(t2, "customer", "c_custkey") == custLay1,
      "customer layout must not retag on an orders-only change")
  }

  test("containment estimate is exact past the int64 product boundary") {
    // the 100 TB case the advisor's scaladoc targets: two >3e9-row
    // sides — naive Long n1*n2 wraps negative and flips the verdict
    // silently (ADVICE r16); the BigInt form must return the true
    // floor, and the SQL twins carry the same ::HUGEINT promotion
    val (n1, n2, m) = (4000000000L, 3000000000L, 3000000000L)
    assert(n1 * n2 < 0, "test premise: the naive product overflows")
    assert(Planner.containmentEst(n1, n2, m) == 4000000000L)
    assert(Planner.containmentEst(n2, n2, 7L) ==
      (BigInt(n2) * BigInt(n2) / 7).toLong)
    // small values match the plain arithmetic exactly
    assert(Planner.containmentEst(600572L, 150000L, 150000L) ==
      600572L * 150000L / 150000L)
  }

  test("plan_join_order_star ≡ brute-force enumeration + independent estimator") {
    // ---- the order space, by brute force: all 120 permutations of the
    // 5 tables, keep those where every added table joins some earlier
    // one (no cartesian prefix) — for the q5 path that is 2^4 = 16
    val all = Planner.StarTables
    val edgeSets = Planner.StarEdges.map(e => Set(e.aTbl, e.bTbl))
    def crossFree(p: Seq[String]): Boolean =
      (2 to p.size).forall { k =>
        val pre = p.take(k)
        edgeSets.exists(e => e.contains(pre.last) && e.subsetOf(pre.toSet))
      }
    val brute = all.permutations.filter(crossFree)
      .map(_.mkString(">")).toSet
    assert(brute.size == 16, s"path-graph count law broken: $brute")
    val enumerated = Planner.leftDeepOrders.map(_.mkString(">"))
    assert(enumerated.toSet == brute && enumerated.size == 16,
      s"enumerator diverges from brute force: $enumerated")

    // ---- pricing, recomputed independently from the RAW tables (not
    // the keyStats store) with BigInt floor division
    val n = all.map(tn => tn -> this.tbl(tables, tn).count()).toMap
    val ndv = Planner.StatKeys.filter(k => all.contains(k._1))
      .map { case (tn, c) =>
        (tn, c) -> this.tbl(tables, tn).select(c).distinct().count()
      }.toMap
    def price(ord: Seq[String]): (Long, Long) = {
      var est = BigInt(n(ord.head))
      val ests = (1 until ord.size).map { i =>
        val nx = ord(i)
        val e = Planner.StarEdges.find(e =>
          (e.bTbl == nx && ord.take(i).contains(e.aTbl)) ||
            (e.aTbl == nx && ord.take(i).contains(e.bTbl))).get
        val (lt, lk, rk) =
          if (e.bTbl == nx) (e.aTbl, e.aKey, e.bKey)
          else (e.bTbl, e.bKey, e.aKey)
        est = est * n(nx) / math.max(ndv((lt, lk)), ndv((nx, rk)))
        est
      }
      (ests.dropRight(1).sum.toLong, ests.last.toLong)
    }
    val priced = brute.toSeq.map { ordS =>
      val (cost, out) = price(ordS.split('>').toSeq)
      (ordS, cost, out)
    }
    val want = priced.sortBy { case (o, c, _) => (c, o) }.zipWithIndex
      .map { case ((o, c, out), i) => (o, c, out, i + 1) }
      .sortBy(_._1)
    val got = Planner.joinOrderStar(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq
    assert(got == want, s"star pricing diverges:\ngot  $got\nwant $want")
    // non-vacuity: the order space has a real decision to make
    assert(priced.map(_._2).distinct.size > 1,
      "every order cost identical — the plant proves nothing")
    // the winner never leads with the fact table: starting from
    // lineitem makes every intermediate lineitem-sized or worse
    val best = want.find(_._4 == 1).get._1
    assert(!best.startsWith("lineitem>"), s"suspicious winner: $best")
  }

  test("plan_join_order_star_full ≡ brute-force 6-table graph + independent multi-edge estimator") {
    // ---- the order space: all 720 permutations of the 6 tables, keep
    // the connected-prefix ones — 104 for the full q5 graph
    val all = Planner.StarFullTables
    val edgeSets = Planner.StarFullEdges.map(e => Set(e.aTbl, e.bTbl))
    def crossFree(p: Seq[String]): Boolean =
      (2 to p.size).forall { k =>
        val pre = p.take(k)
        edgeSets.exists(e => e.contains(pre.last) && e.subsetOf(pre.toSet))
      }
    val brute = all.permutations.filter(crossFree)
      .map(_.mkString(">")).toSet
    assert(brute.size == 104, s"graph count law broken: ${brute.size}")
    val enumerated = Planner.leftDeepOrdersFull.map(_.mkString(">"))
    assert(enumerated.toSet == brute && enumerated.size == 104,
      s"enumerator diverges from brute force: $enumerated")

    // ---- pricing recomputed independently from the RAW tables with
    // BigInt floor division, multiplying EVERY connecting edge's
    // containment (the multi-edge conjunct rule)
    val n = all.map(tn => tn -> this.tbl(tables, tn).count()).toMap
    val ndv = Planner.StatKeys.filter(k => all.contains(k._1))
      .map { case (tn, c) =>
        (tn, c) -> this.tbl(tables, tn).select(c).distinct().count()
      }.toMap
    def price(ord: Seq[String]): (Long, Long) = {
      var est = BigInt(n(ord.head))
      val ests = (1 until ord.size).map { i =>
        val nx = ord(i)
        val pre = ord.take(i)
        val es = Planner.StarFullEdges.filter(e =>
          (e.bTbl == nx && pre.contains(e.aTbl)) ||
            (e.aTbl == nx && pre.contains(e.bTbl)))
        assert(es.nonEmpty)
        est = est * n(nx)
        es.foreach { e =>
          val (lt, lk, rk) =
            if (e.bTbl == nx) (e.aTbl, e.aKey, e.bKey)
            else (e.bTbl, e.bKey, e.aKey)
          est = est / math.max(ndv((lt, lk)), ndv((nx, rk)))
        }
        est
      }
      (ests.dropRight(1).sum.toLong, ests.last.toLong)
    }
    val priced = brute.toSeq.map { ordS =>
      val (cost, out) = price(ordS.split('>').toSeq)
      (ordS, cost, out)
    }
    val want = priced.sortBy { case (o, c, _) => (c, o) }.zipWithIndex
      .map { case ((o, c, out), i) => (o, c, out, i + 1) }
      .sortBy(_._1)
    val got = Planner.joinOrderStarFull(tables).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSeq
    assert(got == want, s"full-graph pricing diverges:\ngot  ${got.take(5)}…" +
      s"\nwant ${want.take(5)}…\nfirst diff: ${got.zip(want).find(p => p._1 != p._2)}")
    // the cyclic conjunct must BITE: some order that joins supplier
    // after both lineitem and customer prices the double edge, and the
    // overall cost space is diverse
    assert(priced.map(_._2).distinct.size > 1)
    val best = want.find(_._4 == 1).get._1
    assert(!best.startsWith("lineitem>"), s"suspicious winner: $best")
    // the full graph's winner beats (or matches) the same order priced
    // WITHOUT the supplier conjunct only through the extra selectivity
    // — sanity that multi-edge steps divide more, never less
    val two = Planner.leftDeepOrdersFull.find { ord =>
      val i = ord.indexOf("supplier")
      i > 0 && ord.take(i).contains("lineitem") && ord.take(i).contains("customer")
    }.get
    val esAtSup = Planner.StarFullEdges.filter(e =>
      Set(e.aTbl, e.bTbl).contains("supplier") &&
        (Set(e.aTbl, e.bTbl) - "supplier")
          .subsetOf(two.take(two.indexOf("supplier")).toSet))
    assert(esAtSup.size == 2, s"plant broke: $two joins supplier by $esAtSup")
  }

  test("applyStarOrder: the executed 6-table tree joins in the winner's order with every conjunct") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val winner = Planner.joinOrderStarFull(tables).collect()
      .find(_.getInt(3) == 1).get.getString(0).split('>').toSeq
    val df = Planner.applyStarOrder(tables)
    // the INNERMOST optimized join is the winner's first pair — Spark
    // kept the constructed left-deep order
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.length == 5, s"expected 5 joins, got ${joins.length}")
    val innermost = joins.last.condition.get.toString
    val firstEdgeKeys = Planner.StarFullEdges.filter(e =>
      Set(e.aTbl, e.bTbl) == Set(winner(0), winner(1)))
      .flatMap(e => Seq(e.aKey, e.bKey))
    assert(firstEdgeKeys.nonEmpty &&
      firstEdgeKeys.forall(innermost.contains),
      s"innermost $innermost is not the winner's first pair $winner")
    // a supplier step after both lineitem and customer carries BOTH
    // conjuncts — find it in whatever order won, or verify on a forced
    // order: every join's condition must include every connecting edge
    val sup = winner.indexOf("supplier")
    if (sup > 0 && winner.take(sup).contains("lineitem") &&
      winner.take(sup).contains("customer")) {
      val supJoin = joins(joins.length - sup).condition.get.toString
      assert(supJoin.contains("s_suppkey") && supJoin.contains("s_nationkey"),
        s"supplier step dropped a conjunct: $supJoin")
    }
    // rows ≡ the naive fixed order: output is order-invariant
    val naive = tables.lineitem
      .join(tables.orders, col("l_orderkey") === col("o_orderkey"))
      .join(tables.customer, col("o_custkey") === col("c_custkey"))
      .join(tables.supplier, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(tables.nation, col("c_nationkey") === col("n_nationkey"))
      .join(tables.region, col("n_regionkey") === col("r_regionkey"))
    assert(df.count() == naive.count(), "winner order changed the rows")
  }

  test("plan_skew_advisor ≡ JVM stats model; metadata-only plan") {
    import graft.functions.Portable.round6Double
    val got = Planner.skewAdvisor(tables).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getString(6), r.getLong(7)))
    val want = Planner.StatKeys.map { case (tn, c) =>
      val df = this.tbl(tables, tn)
      val n = df.count()
      val mult = df.groupBy(col(c)).count()
        .agg(max(col("count"))).head().getLong(0)
      val ndv = df.select(c).distinct().count()
      val salt = mult > Planner.SkewRowBudget
      (tn, c, n, ndv, mult, round6Double(mult.toDouble / n.toDouble),
        if (salt) "salt" else "plain",
        if (salt) (mult + Planner.SkewRowBudget - 1) / Planner.SkewRowBudget
        else 1L)
    }.sortBy(s => (s._1, s._2))
    assert(got.toSeq == want,
      s"skew advisor diverges:\ngot  ${got.toSeq}\nwant $want")
    val plan = physical(Planner.skewAdvisor(tables))
    assert(!plan.contains("FileScan"),
      s"the skew advisor must price from metadata only:\n$plan")
  }

  test("plan_partition_advisor ≡ JVM stats model; advisor plan scans nothing") {
    val got = Planner.partitionAdvisor(tables).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getString(6), r.getLong(7)))
    val want = Planner.StatKeys.map { case (tbl, c) =>
      val df = this.tbl(tables, tbl)
      val n = df.count(); val ndv = df.select(c).distinct().count()
      val w = Planner.TableWidth(tbl)
      val perVal = (n / ndv) * w
      val part = ndv <= Planner.MaxPartitionNdv &&
        perVal >= Planner.MinPartitionBytes
      (tbl, c, n, ndv, n * w, perVal,
        if (part) "partition-by" else "bucket-by",
        if (part) ndv else math.max(1L, n * w / Planner.TargetBucketBytes))
    }.sortBy(s => (s._1, s._2))
    assert(got.toSeq == want,
      s"layout advisor diverges:\ngot  ${got.toSeq}\nwant $want")
    val plan = physical(Planner.partitionAdvisor(tables))
    assert(!plan.contains("FileScan"),
      s"the layout advisor must price from metadata only:\n$plan")
  }
}
