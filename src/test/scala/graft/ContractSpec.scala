package graft

/** Guards on the driver contract itself: a future round cannot add a
  * query and silently forget its oracle (a missing oracleSql entry
  * downgrades the driver's check to rows-only without anyone noticing).
  */
class ContractSpec extends SparkSpec {

  test("every query has an oracle, or is a declared rows-only entry") {
    val needOracle = SparkEntry.queries.keySet -- SparkEntry.rowsOnly.keySet
    assert(needOracle == SparkEntry.oracleSql.keySet,
      s"mismatch: ${needOracle diff SparkEntry.oracleSql.keySet} " +
        s"without oracle; ${SparkEntry.oracleSql.keySet diff needOracle} " +
        "without query (or both rows-only and oracle-checked)")
  }

  test("rows-only entries are real queries, oracle-free, and spec-gated") {
    val ro = SparkEntry.rowsOnly
    assert(ro.keySet.subsetOf(SparkEntry.queries.keySet),
      s"rows-only keys not in queries: ${ro.keySet -- SparkEntry.queries.keySet}")
    assert((ro.keySet intersect SparkEntry.oracleSql.keySet).isEmpty,
      "a rows-only entry must not also claim an oracle: " +
        (ro.keySet intersect SparkEntry.oracleSql.keySet))
    ro.foreach { case (name, gate) =>
      assert(gate.matches("^\\w+Spec: .+"),
        s"$name must name its value-gating spec ('SomeSpec: what it pins'), got '$gate'")
    }
  }

  test("Bench: a query that fails in any pass is listed apart, not timed") {
    val passes = Seq(
      Map("a" -> Some(3.0), "b" -> Some(9.0)),
      Map("a" -> Some(1.0), "b" -> None),
      Map("a" -> Some(2.0), "b" -> Some(8.0)))
    assert(Bench.medians(passes) == (Map("a" -> 2.0), Seq("b")))
  }

  test("entry() is live and returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("validateDocuments: doctored n_chars corpus fails loudly at build, real corpus passes") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the convention the stream trusts (Tables.validateDocuments
    // scaladoc): the driver corpus must satisfy it...
    tables.validateDocuments()
    // ...and a corpus that violates it must be refused AT BUILD with
    // the offending doc named — not admitted silently with a stored
    // n_chars the batch gates would disagree with
    val dir = java.nio.file.Files
      .createTempDirectory("graft-nchars-doctored").toString
    tables.documents
      .withColumn("n_chars",
        when(col("doc_id") === 7L, col("n_chars") + 5)
          .otherwise(col("n_chars")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables(spark, dir).validateDocuments()
    }
    assert(e.getMessage.contains("n_chars == length(text)") &&
      e.getMessage.contains("doc_id=7"), s"unhelpful message: ${e.getMessage}")
  }

  test("validateDocuments: a doc with NULL text and NULL n_chars fails loudly") {
    import org.apache.spark.sql.functions._
    // NULL <=> NULL is true: the null-safe comparison alone passes it
    val dir = java.nio.file.Files
      .createTempDirectory("graft-nulls-doctored").toString
    val nulled = col("doc_id") === 7L
    tables.documents
      .withColumn("text", when(nulled, lit(null)).otherwise(col("text")))
      .withColumn("n_chars", when(nulled, lit(null)).otherwise(col("n_chars")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables(spark, dir).validateDocuments()
    }
    assert(e.getMessage.contains("n_chars == length(text)") &&
      e.getMessage.contains("doc_id=7 n_chars=null"),
      s"unhelpful message: ${e.getMessage}")
  }

  test("validateDocuments: a re-delivered doc_id fails loudly; the real corpus is unique") {
    import spark.implicits._
    // doc_id uniqueness is the invariant the INCREMENTAL stores'
    // append ≡ from-scratch property rides on (ADVICE r18: a growth
    // batch re-delivering an existing doc would duplicate its store
    // rows across segments and silently inflate every set-size
    // aggregate) — so a corpus violating it must be refused at
    // validation with the offending id named
    val dir = java.nio.file.Files
      .createTempDirectory("graft-dupid-doctored").toString
    val dup = tables.documents.limit(1)
    tables.documents.union(dup)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalArgumentException] {
      Tables(spark, dir).validateDocuments()
    }
    val id = dup.select("doc_id").head.getLong(0)
    assert(e.getMessage.contains("doc_id uniqueness") &&
      e.getMessage.contains(s"doc_id=$id"),
      s"unhelpful message: ${e.getMessage}")
  }

  test("SURVEY.md section 2 names every registered query (no doc drift)") {
    // the checklist is the contract coverage is judged against —
    // a registry key absent from it is a silent coverage gap
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val missing = SparkEntry.queries.keys.filterNot(k =>
      survey.contains(s"`$k`")).toSeq.sorted
    assert(missing.isEmpty,
      s"registry keys missing from SURVEY.md: ${missing.mkString(", ")}")
  }

  test("SURVEY §7 counts line matches the registry and the §2 checklist") {
    // §7 carries one canonical single-line counts sentence; every
    // number in it is recomputed here so the prose can never go stale
    // (the r13 verdict caught a hand-maintained "163/160" drift)
    val survey = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("SURVEY.md")), "UTF-8")
    val s2 = survey.substring(
      survey.indexOf("## §2"), survey.indexOf("## §3"))
    val items = s2.linesIterator.count(_.startsWith("- [x]"))
    val nq = SparkEntry.queries.size
    val expected =
      s"§2 items = $items; batch registry entries = $nq; " +
        s"DuckDB oracles = ${SparkEntry.oracleSql.size}; " +
        s"declared rows-only = ${SparkEntry.rowsOnly.size}; " +
        s"spec-gated components = ${items - nq}."
    assert(survey.contains(expected),
      s"SURVEY §7 counts line is stale — must read exactly:\n$expected")
  }

  test("every query EXECUTES at sf0.001 (not just analyzes)") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      assert(df.schema.fields.nonEmpty, s"$name has empty schema")
      // actually run the plan — analysis-only checks miss runtime
      // failures (ANSI out-of-bounds, codegen errors, bad casts)
      try df.limit(1).collect()
      catch { case e: Throwable => fail(s"$name failed at runtime: $e") }
    }
  }
}
