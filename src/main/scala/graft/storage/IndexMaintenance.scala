package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Compaction for cell-partitioned index tables (the file-count debt a
  * streaming ingest — `streaming.Jobs.IndexIngestStream` — accrues:
  * one file per cell per micro-batch).
  *
  * Compacts INTO A NEW directory, never in place: the streaming sink's
  * `_spark_metadata` log lists the original files, so rewriting files
  * under a live sink dir breaks its exactly-once manifest for every
  * Spark reader. The table-service pattern applies — compact to a new
  * generation, point readers at it, retire the old one once drained.
  *
  * `repartition(cols)` hash-partitions by the partition column, so all
  * rows of one cell land in one task and `partitionBy` then writes
  * exactly ONE file per cell — scan-friendly (one columnar footer per
  * cell, no small-file metadata storm at 100 TB file counts).
  *
  * All path handling goes through the Hadoop FileSystem resolved from
  * each path's own scheme, so the in-place guard and the file counts
  * hold for hdfs:// / s3a:// index dirs, not just the local FS.
  */
object IndexMaintenance {

  /** `p` made absolute and scheme-qualified by its own FileSystem —
    * the comparable form of a path string.
    */
  private def qualified(p: String, conf: Configuration): Path = {
    val path = new Path(p)
    path.getFileSystem(conf).makeQualified(path)
  }

  /** Rewrite `srcDir` (parquet partitioned by `partCol`) into `dstDir`
    * with one file per partition value. Returns the compacted frame.
    */
  def compactCells(spark: SparkSession, srcDir: String, dstDir: String,
                   partCol: String = "cid"): DataFrame = {
    val hconf = spark.sessionState.newHadoopConf()
    require(
      qualified(srcDir, hconf) != qualified(dstDir, hconf),
      "compactCells never compacts in place: the source's _spark_metadata " +
        "manifest would be broken — compact into a new generation")
    ParquetRead(spark, srcDir)
      .repartition(col(partCol))
      .write.mode("overwrite").partitionBy(partCol).parquet(dstDir)
    ParquetRead(spark, dstDir)
  }

  // ------------------------------------------------------- generations

  /** Generation-rooted index layout — the swap protocol the compaction
    * scaladoc promises, made concrete:
    *
    * {{{
    *   <root>/gen=<n>/index/    cell-partitioned (vec_id, v, cid) parquet
    *   <root>/gen=<n>/cents/    the generation's (cid, cv) quantizer
    *   <root>/gen=<n>/pqbook/   IVF-PQ: the residual codebook
    *   <root>/gen=<n>/pqcodes/  IVF-PQ: codes under these cents and book
    * }}}
    *
    * Commit is [[Generations]]': a publish writes all of a generation's
    * artifacts into one temp dir and commits them by one exclusive
    * rename, so a reader never resolves a generation with an artifact in
    * flight, and concurrent publishers get distinct generations. There is
    * no pointer file to swap: "current" is simply the highest committed
    * generation, and a reader that resolved a generation PATH before a
    * publish keeps reading exactly that data (old generations are
    * immutable until [[retireOld]]). This is the table-service
    * generation story for both compaction and re-centering.
    */
  private val IvfArtifacts = Seq("index", "cents")
  private val PqArtifacts = IvfArtifacts ++ Seq("pqbook", "pqcodes")

  def committedGenerations(root: String,
                           conf: Configuration = new Configuration()): Seq[Long] =
    Generations.committed(root, IvfArtifacts, conf)

  def currentGeneration(root: String,
                        conf: Configuration = new Configuration()): Option[Long] =
    committedGenerations(root, conf).lastOption

  def indexPath(root: String, n: Long): String = Generations.path(root, n, "index")
  def centsPath(root: String, n: Long): String = Generations.path(root, n, "cents")
  def pqBookPath(root: String, n: Long): String = Generations.path(root, n, "pqbook")
  def pqCodesPath(root: String, n: Long): String = Generations.path(root, n, "pqcodes")

  /** Generations whose PQ artifacts are committed too — the set
    * [[graft.ann.Ann.probeIvfPqGeneration]] resolves from. A plain
    * (index, cents) generation is not PQ-servable; a PQ generation is
    * both.
    */
  def pqGenerations(root: String,
                    conf: Configuration = new Configuration()): Seq[Long] =
    Generations.committed(root, PqArtifacts, conf)

  def currentPqGeneration(root: String,
                          conf: Configuration = new Configuration()): Option[Long] =
    pqGenerations(root, conf).lastOption

  /** `df` one file per cell — the compacted layout. */
  private def writeCells(df: DataFrame, dir: Path): Unit =
    df.repartition(col("cid")).write.partitionBy("cid").parquet(dir.toString)

  /** Write (index, cents) as the next free generation under `root` and
    * return its number. The index lands one file per cell (the compacted
    * layout — publishing IS compaction).
    */
  def publishGeneration(spark: SparkSession, root: String,
                        index: DataFrame, cents: DataFrame): Long =
    Generations.publishWith(root, IvfArtifacts,
        spark.sessionState.newHadoopConf()) { tmp =>
      writeCells(index, new Path(tmp, "index"))
      cents.coalesce(1).write.parquet(new Path(tmp, "cents").toString)
    }

  /** Write a full IVF-PQ generation: index + quantizer + residual
    * codebook + codes. Codes are DERIVED here, from the index files just
    * written into the generation's temp dir, against exactly these
    * centroids and this codebook ([[graft.ann.Ann.pqEncodedWith]] over
    * the residuals — the batch entry's encode criterion verbatim), so a
    * generation can never hold codes encoded against some other
    * quantizer. All four commit together in the one rename.
    */
  def publishGenerationPq(spark: SparkSession, root: String,
                          index: DataFrame, cents: DataFrame,
                          codebook: DataFrame): Long = {
    import org.apache.spark.sql.functions.{broadcast, expr}
    Generations.publishWith(root, IvfArtifacts,
        spark.sessionState.newHadoopConf()) { tmp =>
      writeCells(index, new Path(tmp, "index"))
      val idx = ParquetRead(spark, new Path(tmp, "index").toString)
        .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid"))
      val residuals = idx.join(broadcast(cents), Seq("cid"))
        .select(col("vec_id"),
          expr("zip_with(v, cv, (a, b) -> a - b)").as("v"))
      writeCells(graft.ann.Ann.pqEncodedWith(residuals, codebook)
        .join(idx.select(col("vec_id"), col("cid")), Seq("vec_id")),
        new Path(tmp, "pqcodes"))
      codebook.coalesce(1).write.parquet(new Path(tmp, "pqbook").toString)
      cents.coalesce(1).write.parquet(new Path(tmp, "cents").toString)
    }
  }

  /** [[recenter]] for a PQ generation: re-fit the quantizer, re-assign
    * every vector, RE-FIT the residual codebook against the new
    * centroids ([[graft.ann.Ann.residualCodebookFrom]] — old codewords
    * quantized residuals that no longer exist), and re-encode all codes
    * — published four-together as the next generation, so serving
    * ([[graft.ann.Ann.probeIvfPqGeneration]]) can never observe a
    * quantizer/codebook/code mix from different fits. Probes that
    * resolved the old generation keep their answers mid-swap (AnnSpec
    * pins it, same as the IVF-only protocol).
    */
  def recenterPq(spark: SparkSession, root: String, iters: Int = 2): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val cur = currentPqGeneration(root, conf).getOrElse(
      throw new IllegalStateException(s"no committed PQ generation under $root"))
    val vecs = ParquetRead(spark, indexPath(root, cur))
      .select(col("vec_id"), col("v"))
    val cents0 = ParquetRead(spark, centsPath(root, cur))
    val cents = graft.ann.Ann.ivfFitFrom(vecs, cents0, iters)
    val assigned = graft.ann.Ann.assignIndex(vecs, cents)
    val codebook = graft.ann.Ann.residualCodebookFrom(assigned, cents)
    publishGenerationPq(spark, root, assigned, cents, codebook)
  }

  /** Periodic IVF re-centering — the batch compaction of quantizer
    * drift, closing the loop `streaming.Jobs.IndexIngestStream` opens:
    * arrivals are cell-assigned against the GENERATION'S centroids, so
    * as the ingested distribution drifts, cells stop fitting the data
    * they hold. This reads the current generation's vectors (original
    * build + every streamed arrival), Lloyd-refines starting from the
    * generation's own centroids ([[graft.ann.Ann.ivfFitFrom]] — warm
    * start, `iters` passes), re-assigns every vector, and publishes the
    * result as the NEXT generation. Never in place: probes that
    * resolved the old generation keep their answers mid-swap (AnnSpec
    * pins it), and the old directory retires only via [[retireOld]].
    *
    * Scale: the fit is the index build's own shape (broadcast
    * ×centroids assignment collapsed map-side, then a (cid, pos, x)
    * mean shuffle) run `iters`+1 times over the generation — the
    * periodic cost a production index service schedules, not a
    * query-path cost.
    */
  def recenter(spark: SparkSession, root: String, iters: Int = 2): Long = {
    val conf = spark.sessionState.newHadoopConf()
    val cur = currentGeneration(root, conf).getOrElse(
      throw new IllegalStateException(s"no committed generation under $root"))
    val vecs = ParquetRead(spark, indexPath(root, cur))
      .select(col("vec_id"), col("v"))
    val cents0 = ParquetRead(spark, centsPath(root, cur))
    val cents = graft.ann.Ann.ivfFitFrom(vecs, cents0, iters)
    publishGeneration(spark, root,
      graft.ann.Ann.assignIndex(vecs, cents), cents)
  }

  /** Delete all but the newest `keep` committed generations; returns
    * the retired generation numbers. Run once downstream readers have
    * drained off the old paths.
    */
  def retireOld(root: String, keep: Int = 2,
                conf: Configuration = new Configuration()): Seq[Long] =
    Generations.retireOld(root, IvfArtifacts, keep, conf)

  /** Data files (not metadata) per partition-value directory under an
    * index dir — the observable compaction reduces. `conf` supplies
    * FileSystem bindings for remote schemes; the default reaches the
    * local FS and whatever the Hadoop default FS is configured to.
    */
  def filesPerCell(dir: String, partCol: String = "cid",
                   conf: Configuration = new Configuration()): Map[String, Int] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    fs.listStatus(root)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(s"$partCol="))
      .map { d =>
        d.getPath.getName -> fs.listStatus(d.getPath).count { f =>
          val n = f.getPath.getName
          f.isFile && n.endsWith(".parquet") && !n.startsWith("_")
        }
      }.toMap
  }
}
