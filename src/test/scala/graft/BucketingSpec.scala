package graft

import graft.storage.{Bucketing, Materialize}
import graft.functions.Salting
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class BucketingSpec extends SparkSpec {

  private def dropStore(name: String): Unit = {
    val dir = new Path(spark.conf.get("spark.sql.warehouse.dir"), name)
    dir.getFileSystem(spark.sessionState.newHadoopConf()).delete(dir, true)
  }

  private def physical(df: DataFrame): String = {
    df.collect() // finalize AQE
    df.queryExecution.executedPlan.toString
  }

  test("bucketed tables join with zero exchanges") {
    val dir = java.nio.file.Files.createTempDirectory("graft-colocated").toString
    def store(name: String, df: DataFrame, key: String): DataFrame =
      Materialize.ensureParquetAt(spark, new Path(dir, name), df,
        bucketing = Some(Bucketing.spec(4, key)))
    val l = store("b_lineitem",
      tables.lineitem.select("l_orderkey", "l_quantity"), "l_orderkey")
    val r = store("b_orders",
      tables.orders.select("o_orderkey", "o_custkey"), "o_orderkey")
    val joined = l.join(r, l("l_orderkey") === r("o_orderkey"))
    // both sides fit under the broadcast threshold, and a broadcast join
    // has no hash exchange whatever the layout: force a sort-merge join
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    val plan =
      try physical(joined)
      finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(plan.contains("SortMergeJoin"), s"not a sort-merge join:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"co-located join must not shuffle:\n$plan")
    // and it is the same row count as the shuffled join
    val expected = tables.lineitem
      .join(tables.orders, col("l_orderkey") === col("o_orderkey")).count()
    assert(joined.count() == expected)
  }

  test("q3_bucketed: zero exchanges, same rows as q3_shipping") {
    // clean slate so the entry's own store build is exercised
    dropStore("graft_b_lineitem_" + Materialize.corpusTag(tables, "lineitem",
      s"q3|b=${Bucketing.Q3Buckets}|${Bucketing.Layout}"))
    dropStore("graft_b_orders_" + Materialize.corpusTag(tables, "orders",
      s"q3|b=${Bucketing.Q3Buckets}|${Bucketing.Layout}"))
    val df = Bucketing.q3Bucketed(tables)
    val got = df.collect().map(_.toSeq).toSeq
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed q3 must not shuffle:\n$plan")
    val expected = graft.operators.Relational.q3Shipping(tables)
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
  }

  test("a built bucketed store is reused from its directory: no job, no exchange, no catalog table") {
    val dst = new Path(
      java.nio.file.Files.createTempDirectory("graft-bkt-reuse").toString, "orders_b")
    val plain = tables.orders.select("o_orderkey", "o_custkey")
    def ensure(df: => DataFrame): DataFrame = Materialize.ensureParquetAt(
      spark, dst, df, bucketing = Some(Bucketing.spec(4, "o_orderkey")))
    ensure(plain)
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    def files: Set[(String, Long)] = fs.listStatus(dst)
      .map(s => (s.getPath.getName, s.getModificationTime)).toSet
    val built = files
    val (reused, jobs) = JobCount.of(spark)(
      ensure(throw new IllegalStateException("a hit must not force the frame")))
    assert(jobs == 0, s"a hit on a built bucketed store launched $jobs jobs")
    assert(files == built, "a hit rewrote the store")
    // an aggregation on the bucket key needs no exchange over the store,
    // and does over the same rows unbucketed
    def perKey(df: DataFrame): DataFrame = df.groupBy("o_orderkey").count()
    val plan = physical(perKey(reused))
    assert(!plan.contains("Exchange hashpartitioning"),
      s"aggregation on the bucket key must not shuffle:\n$plan")
    assert(physical(perKey(plain)).contains("Exchange hashpartitioning"))
    assert(perKey(reused).collect().toSet == perKey(plain).collect().toSet)

    // a store of no rows has no data file to infer a schema from: built
    // and hit, it reads back empty with the frame's schema
    val empty = plain.filter(col("o_orderkey") < 0)
    val emptyDst = new Path(dst.getParent, "empty_b")
    def ensureEmpty(): DataFrame = Materialize.ensureParquetAt(spark, emptyDst,
      empty, bucketing = Some(Bucketing.spec(4, "o_orderkey")))
    Seq(ensureEmpty(), ensureEmpty()).foreach { df =>
      assert(df.count() == 0 && df.schema.map(f => (f.name, f.dataType)) ==
        empty.schema.map(f => (f.name, f.dataType)))
    }

    // every bucketed store graft builds: none of them is a catalog table
    Bucketing.q3Bucketed(tables).collect()
    graft.pipeline.Maintenance.corpusRefreshMergeBucketed(tables).collect()
    graft.dedup.Dedup.dedupNgramJaccardBucketed(tables).collect()
    graft.dedup.Dedup.dedupMinhashBucketed(tables).collect()
    graft.dedup.Substring.substringSpansBucketed(tables).collect()
    // temporary views (streaming memory sinks of other suites) are not
    // catalog tables
    val catalogTables = spark.catalog.listTables().collect().filterNot(_.isTemporary)
    assert(catalogTables.isEmpty, catalogTables.mkString(", "))
  }

  test("q3_bucketed cache tag tracks the source file inventory, not the path") {
    // A corpus REGENERATED at the same path must produce new bucketed
    // stores — a path-keyed tag would silently serve the stale buckets
    // (the staleness mode Materialize.corpusTag exists to close).
    val dir = java.nio.file.Files.createTempDirectory("graft_q3stale").toString
    Seq("lineitem", "orders", "customer").foreach { tb =>
      spark.read.parquet(s"$sfDir/$tb.parquet")
        .write.mode("overwrite").parquet(s"$dir/$tb.parquet")
    }
    val t = Tables(spark, dir)
    // the lineitem stores a frame reads, from its scanned files (a plan
    // string abbreviates long locations)
    def lineitemTables(df: DataFrame): Set[String] =
      "graft_b_lineitem_[0-9a-f]{12}".r.findAllIn(df.inputFiles.mkString(" ")).toSet
    val r1 = Bucketing.q3Bucketed(t)
    r1.collect()
    val tables1 = lineitemTables(r1)
    assert(tables1.size == 1)
    // regenerate lineitem at the SAME path: same rows, new file inventory
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val r2 = Bucketing.q3Bucketed(t)
    val got = r2.collect().map(_.toSeq).toSeq
    val tables2 = lineitemTables(r2)
    assert(tables2.size == 1)
    assert(tables1 != tables2,
      s"stale bucketed table $tables1 served after source rewrite")
    // and the rebuilt table is correct
    val expected = graft.operators.Relational.q3Shipping(t)
      .collect().map(_.toSeq).toSeq
    assert(got == expected)
  }

  test("word_count_salted equals word_count, order included") {
    val plain = graft.operators.WordCounts.wordCount(tables)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val salted = graft.operators.WordCounts.wordCountSalted(tables)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(salted == plain)
  }

  test("salted count equals plain groupBy count") {
    val plain = tables.events.groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val salted = Salting.saltedCount(tables.events, "event_type", "event_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
  }

  test("Materialize.reapStale deletes only exact-prefix stale tags") {
    import graft.storage.Materialize
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    def plant(name: String): java.io.File = {
      val d = new java.io.File(wh, name)
      d.mkdirs()
      new java.io.File(d, "_SUCCESS").createNewFile()
      d
    }
    val keep = plant("graft_testreap_aaaaaaaaaaaa")
    val stale = plant("graft_testreap_bbbbbbbbbbbb")
    // prefix-of-a-prefix traps: a LONGER store name sharing the prefix,
    // and a dir whose suffix is not a 12-hex tag — both must survive
    val longer = plant("graft_testreap_keep_cccccccccccc")
    val notATag = plant("graft_testreap_not-a-tag")
    val reaped = Materialize.reapStale(spark, "graft_testreap",
      keep = Set("aaaaaaaaaaaa"))
    assert(reaped == Seq("graft_testreap_bbbbbbbbbbbb"), reaped.toString)
    assert(keep.exists() && longer.exists() && notATag.exists())
    assert(!stale.exists())
  }
}
