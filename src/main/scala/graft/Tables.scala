package graft

import graft.storage.ParquetRead
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Typed loaders for the driver's testdata star schema (TESTDATA.md).
  *
  * Scans stay declarative (a plain parquet relation) so column pruning
  * and predicate pushdown reach the parquet reader untouched. The schema
  * is inferred once per file inventory ([[graft.storage.ParquetRead]]):
  * repeated reads of unchanged tables launch no schema-inference job.
  */
final case class Tables(spark: SparkSession, dir: String) {
  private def t(name: String): DataFrame =
    ParquetRead(spark, s"$dir/$name.parquet")

  def region: DataFrame = t("region")
  def nation: DataFrame = t("nation")
  def customer: DataFrame = t("customer")
  def supplier: DataFrame = t("supplier")
  def part: DataFrame = t("part")
  def orders: DataFrame = t("orders")
  def lineitem: DataFrame = t("lineitem")
  def documents: DataFrame = t("documents")
  def embeddings: DataFrame = t("embeddings")

  /** Fail-fast corpus convention audit: every `documents` row must
    * satisfy `n_chars == length(text)` (ADVICE r9 / VERDICT r10 #6).
    *
    * The intake stream trusts a stored `n_chars` when the wire format
    * carries one (streaming/Jobs.scala quality gate) while the batch
    * gates compute `length(text)` — the two only agree because of this
    * convention. Nothing enforced it at corpus build, so a violating
    * corpus would fail SILENTLY at admission (stream admits what batch
    * rejects, or vice versa). Run this once per corpus publish/land —
    * `Verify.main` calls it, so the driver's correctness gate refuses a
    * doctored corpus loudly instead.
    *
    * Scale: one projection-pruned scan (`doc_id`, `n_chars`,
    * `length(text)`) with an early-stop `head(3)` sample — a build-time
    * audit, never on a query path.
    */
  def validateDocuments(): Unit = {
    // Corpus contract: text and n_chars are NOT NULL, and n_chars ==
    // length(text). Downstream per-row quality/repetition projections
    // score a null text as null, so nulls are refused explicitly: a
    // plain comparison with a null side is null and slips past the
    // filter (ADVICE r21 low), and a null-safe one passes a doc with
    // both missing, as NULL <=> NULL is true (ADVICE r22 low #1).
    val bad = documents
      .filter(col("text").isNull || col("n_chars").isNull ||
        col("n_chars") =!= length(col("text")).cast(LongType))
      .select(col("doc_id"), col("n_chars"),
        length(col("text")).cast(LongType).as("len_text"))
      .head(3)
    require(bad.isEmpty,
      s"corpus at $dir violates the n_chars == length(text) convention " +
        s"(first ${bad.length} of possibly more): " +
        bad.map(r => s"doc_id=${r.get(0)} n_chars=${r.get(1)} " +
          s"length(text)=${r.get(2)}").mkString("; "))
    // doc_id is the corpus primary key — a re-delivered id (e.g. an
    // intake batch appending a doc that already exists) breaks every
    // per-doc aggregate AND the incremental stores' append ≡
    // from-scratch property (a growth segment would re-emit the doc's
    // rows next to the old segment's; ADVICE r18). Refuse loudly at
    // validation, the n_chars discipline.
    val dup = documents.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1)
      .head(3)
    require(dup.isEmpty,
      s"corpus at $dir violates doc_id uniqueness " +
        s"(first ${dup.length} of possibly more): " +
        dup.map(r => s"doc_id=${r.getLong(0)} occurs ${r.getLong(1)}×")
          .mkString("; "))
  }

  /** `events` with `ts` surfaced as UTC epoch seconds (`ts_sec`).
    *
    * The raw column is nanosecond-precision; graft reads it as long
    * nanos (see GraftSession) and converts explicitly — the one
    * timestamp representation that hashes identically in every engine.
    */
  def events: DataFrame = {
    val raw = t("events")
    val tsSec = raw.schema("ts").dataType match {
      // integer floor-div — ns longs exceed double's exact range
      case LongType => expr("ts div 1000000000")
      case _        => unix_timestamp(col("ts"))
    }
    raw.withColumn("ts_sec", tsSec.cast(LongType))
  }
}
