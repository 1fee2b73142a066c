package graft.storage

import graft.Tables
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.BucketSpec
import org.apache.spark.sql.execution.datasources.{DataSource, HadoopFsRelation, LogicalRelation}

/** Shared ensure-write machinery for per-corpus warehouse caches (the
  * materialized shingle store, the persisted IVF index, ...).
  *
  * The cache key hashes the corpus path AND the source table's file
  * inventory (name, length, mtime) AND a caller-supplied config string
  * (the constants baked into the cached data). A regenerated corpus or
  * a changed constant therefore produces a NEW cache directory instead
  * of silently serving stale data across JVM runs — the staleness mode
  * a bare path hash has.
  */
object Materialize {

  /** A warehouse store's identity — prefix, source table, and the
    * config string of constants baked into its bytes — as ONE shared
    * constant consumed by BOTH the ensure-write site and the reap
    * keep-set (ADVICE r8: the two used to be hand-duplicated strings,
    * so a retag that updated only one side — like r8's `|keep` suffix —
    * would make reap treat the live store as stale and delete it).
    */
  /** `extraTables` lists FURTHER source tables whose file inventories
    * fold into the tag — for stores aggregating several tables (the
    * Planner key-stats store reads six): any one of them regenerating
    * must retag the store, or the advisors serve stale statistics for
    * the tables that changed (ADVICE r15). Folding happens here, in
    * the ONE tag function both the ensure-write site and the reap
    * keep-set call, so the two cannot drift.
    */
  final case class StoreDef(prefix: String, table: String, config: String,
                            extraTables: Seq[String] = Nil) {
    def tag(t: Tables): String = {
      val cfg =
        if (extraTables.isEmpty) config
        else config + "|srcs=" +
          extraTables.map(tb => corpusTag(t, tb, "")).mkString(",")
      corpusTag(t, table, cfg)
    }
  }

  /** [[ensureParquet]] addressed by a [[StoreDef]]. */
  def ensureStore(t: Tables, s: StoreDef, df: => DataFrame,
                  partitionCols: Seq[String] = Nil,
                  bucketing: Option[BucketSpec] = None): DataFrame =
    ensureParquet(t.spark, s.prefix, s.tag(t), df, partitionCols, bucketing)

  /** Cache tag for `table` under `t.dir` given `config` (constants the
    * cached content depends on — bake in everything that changes the
    * bytes). Inventory listing goes through the Hadoop FileSystem for
    * `t.dir`, so the tag is corpus-change-sensitive on remote storage
    * (hdfs://, s3a://) as well as local paths.
    */
  def corpusTag(t: Tables, table: String, config: String): String = {
    val src = new Path(t.dir, s"$table.parquet")
    val fs = src.getFileSystem(t.spark.sessionState.newHadoopConf())
    val inventory =
      try fs.listStatus(src).sortBy(_.getPath.getName)
        .map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
        .mkString(",")
      catch { case _: java.io.FileNotFoundException => "absent" }
    hash12(s"${t.dir}|$table|$inventory|$config")
  }

  private def hash12(key: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  // ------------------------------------------------- incremental stores
  //
  // The classic ensure protocol above keys the WHOLE store on the
  // source table's file inventory: any corpus change — including pure
  // GROWTH, the normal life of a training corpus — orphans the store
  // and the next reader re-tokenizes every document ever ingested.
  // At 100 TB that is the single biggest recurring cost a per-doc-pure
  // store can waste: the store's rows for unchanged files are already
  // correct, only the new files' rows are missing (VERDICT r16 #1).
  //
  // The INCREMENTAL protocol below fixes exactly that for stores whose
  // rows are a PER-FILE-PURE function of the source (each source file's
  // docs contribute rows independently — window hashes, shingles,
  // chunk hashes; NOT keeper-filtered stores, whose keeper election is
  // corpus-global and can flip on any arrival). Layout:
  //
  //   <warehouse>/<prefix>_gens_<stableTag>/gen=<n>/rows/       segment
  //   <warehouse>/<prefix>_gens_<stableTag>/gen=<n>/inventory/  manifest
  //
  // `stableTag` hashes (corpus dir, table, config) but NOT the file
  // inventory — the root survives growth, which is the whole point.
  // Each generation is a [[Generations]]-committed SEGMENT: gen 0 (and
  // any generation whose manifest says `base = true`) holds a full
  // build; a growth generation holds ONLY the new files' rows, plus a
  // manifest recording the cumulative inventory it covers and the
  // generation its read chain starts at (`base_gen`, its newest base).
  // Reading the store = one parquet read over the segment paths since
  // that base — columnar, no merge work, and one manifest read however
  // long the chain. A REWRITE (any previously-recorded file changed or
  // vanished) is not growth: the store re-bases with a fresh full
  // build, because per-file purity says nothing about rows derived
  // from bytes that no longer exist. Publication is
  // [[Generations.commitOnce]] — write to a temp dir, one exclusive
  // rename — so a concurrent reader never observes a half-written
  // generation.

  /** Data-file inventory of `t.dir/<table>.parquet`: (name, len,
    * mtime) per part file, sorted by name — underscore/dot entries
    * (_SUCCESS, temp dirs) excluded because only data files produce
    * store rows.
    */
  private def dataFiles(t: Tables, table: String)
      : Seq[FileStatus] = {
    val src = new Path(t.dir, s"$table.parquet")
    val fs = src.getFileSystem(t.spark.sessionState.newHadoopConf())
    fs.listStatus(src).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
  }

  /** The growth-stable tag of an incremental store: corpus dir + table
    * + config, NO inventory — the root must survive corpus growth.
    */
  private[graft] def stableTag(t: Tables, s: StoreDef): String =
    hash12(s"${t.dir}|${s.table}|${s.config}|$Layout")

  /** The manifest layout, folded into every stable tag: a root written
    * under another layout is never read, the store rebuilds under a new
    * root, and [[reapStale]] reaps the old one.
    */
  private val Layout = "manifest=base_gen"

  private[graft] def incRootName(t: Tables, s: StoreDef): String =
    s"${s.prefix}_gens_${stableTag(t, s)}"

  private def incRoot(t: Tables, s: StoreDef): Path = new Path(
    new Path(t.spark.conf.get("spark.sql.warehouse.dir")), incRootName(t, s))

  private[storage] val RowsArtifact = "rows"
  private[storage] val InvArtifact = "inventory"

  private type FileKey = (String, Long, Long)

  private def keyOf(f: FileStatus): FileKey =
    (f.getPath.getName, f.getLen, f.getModificationTime)

  /** Generation `n`'s manifest: the file inventory it covers, and the
    * generation its read chain starts at (`n` itself for a base).
    * Committed generations are immutable, so a warm ensure that finds
    * the listing unchanged reads it from memory ([[PlanStats]], keyed by
    * that listing: part-file names carry a per-write UUID, so a root
    * reaped and rebuilt at the same path is read again) and runs no job.
    * The writer seeds that memo when it commits, so its own re-read of
    * the generation it just published runs no job either.
    */
  private def manifest(spark: SparkSession, root: String,
                       n: Long): (Seq[FileKey], Long) = {
    val inv = Generations.path(root, n, InvArtifact)
    PlanStats(manifestListing(spark, inv)) {
      val rows = ParquetRead(spark, inv)
        .select("file", "len", "mtime", "base_gen").collect().toSeq
      (rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))),
        rows.headOption.fold(n)(_.getLong(3)))
    }
  }

  /** The files of a committed manifest dir: its [[manifest]] memo key. */
  private def manifestListing(spark: SparkSession,
                              inv: String): Seq[(String, Long, Long)] = {
    val p = new Path(inv)
    p.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(p).toSeq
      .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
      .sortBy(_._1)
  }

  /** One read of the committed `gens` from `since` on: a read chain. */
  private def segments(spark: SparkSession, root: String, gens: Seq[Long],
                       since: Long): DataFrame =
    ParquetRead(spark, gens.filter(_ >= since)
      .map(n => Generations.path(root, n, RowsArtifact)): _*)

  /** The growth/rewrite decision for the source files `cur` against the
    * newest committed manifest (None: nothing committed yet): the files a
    * build reads, and whether it publishes a base. Growth (every recorded
    * file still there, byte-identically) reads only the new files; a
    * first build or a rewrite (a recorded file changed or vanished)
    * re-bases on the full corpus.
    */
  private def pendingOf(recorded: Option[Seq[FileKey]],
                        cur: Seq[FileStatus]): (Seq[FileStatus], Boolean) =
    recorded match {
      case Some(rec) if rec.forall(cur.map(keyOf).contains) =>
        val names = rec.map(_._1).toSet
        (cur.filterNot(f => names(f.getPath.getName)), false)
      case _ => (cur, true)
    }

  /** Ensure the incremental store of `s` is current for `t`'s corpus
    * and return it. `buildFrom` maps a frame of SOURCE rows (the whole
    * table on first build / rebase, ONLY the new files on growth) to
    * the store rows those source rows contribute — it must be
    * per-file-pure: `buildFrom(a union b) ≡ buildFrom(a) union
    * buildFrom(b)` row-for-row, which holds exactly when each output
    * row derives from one input row (MaterializeSpec pins appended ≡
    * from-scratch and that the growth build's scan touched only the
    * new files).
    *
    * A build with a per-KEY reduction inside (the shingle store's
    * per-doc `.distinct()`) is per-file-pure only while no key recurs
    * across source files: a growth batch RE-DELIVERING an existing
    * doc_id would emit the doc's rows into a second segment next to
    * the first — duplicate rows a from-scratch build would have
    * collapsed (ADVICE r18). That invariant is the corpus's doc_id
    * primary key, enforced loudly by [[graft.Tables.validateDocuments]]
    * (ContractSpec pins the doctored re-delivery refused with the id
    * named), not re-checked per ensure.
    */
  def ensureIncremental(t: Tables, s: StoreDef,
                        buildFrom: DataFrame => DataFrame): DataFrame =
    ensureIncrementalWithGen(t, s, buildFrom)._2

  /** [[ensureIncremental]] also returning the generation number the
    * frame is pinned at — the handle a LONG-LIVED reader (a streaming
    * job's static side) folds into its cache key, so a RESTARTED job
    * re-resolves to the grown store while the running job keeps
    * serving its immutable pinned chain (VERDICT r16 #4; the
    * `ClusterStore.readLabels` deployment shape).
    */
  def ensureIncrementalWithGen(t: Tables, s: StoreDef,
                               buildFrom: DataFrame => DataFrame)
      : (Long, DataFrame) = {
    val spark = t.spark
    val conf = spark.sessionState.newHadoopConf()
    val root = incRoot(t, s)
    val cur = dataFiles(t, s.table)
    val curKeys = cur.map(keyOf)

    def readFrom(files: Seq[FileStatus]): DataFrame =
      ParquetRead(spark, files.map(_.getPath.toString): _*)

    def publish(n: Long, rows: DataFrame, since: Long): Unit = {
      import spark.implicits._
      val won = Generations.commitOnce(root.getFileSystem(conf),
          new Path(root, s"gen=$n")) { tmp =>
        curKeys.map { case (f, l, m) => (f, l, m, since == n, since) }
          .toDF("file", "len", "mtime", "base", "base_gen")
          .coalesce(1)
          .write.parquet(new Path(tmp, InvArtifact).toString)
        rows.write.parquet(new Path(tmp, RowsArtifact).toString)
      }
      // Won: the manifest just written is (curKeys, since), so seed its
      // memo and the re-read below runs no job. Lost: a concurrent writer
      // (another JVM: callers in this one wait in single flight) committed
      // this (or a later) generation — the ensure loop below re-reads ITS
      // manifest and recomputes the pending decision against the locally
      // observed inventory. Unless no committed generation ≥ n exists:
      // `gen=<n>` is then a dead leftover, and returning would serve a
      // stale store as fresh (the reader contract: rows for every current
      // inventory file).
      if (won)
        PlanStats(manifestListing(spark,
          Generations.path(root.toString, n, InvArtifact)))((curKeys, since))
      else if (!Generations.committed(root.toString, RowsArtifact, conf)
          .exists(_ >= n))
        throw new java.io.IOException(
          s"failed to publish gen=$n under $root and no concurrent " +
            "writer committed it — refusing to serve the stale store")
    }

    // The committed generations and the newest one's manifest (None:
    // nothing committed yet) — the one manifest read of a pass.
    type Newest = Option[(Seq[Long], Seq[FileKey], Long)]
    def newest(): Newest = {
      val gens = Generations.committed(root.toString, RowsArtifact, conf)
      gens.lastOption.map { n =>
        val (rec, since) = manifest(spark, root.toString, n)
        (gens, rec, since)
      }
    }

    // settled iff the newest committed manifest covers every locally
    // observed inventory file (byte-identically). NOT "a publish
    // happened": a lost race's winner may have listed the source
    // BEFORE files this writer saw arrived — returning then would
    // serve a store missing those files' rows until the next ensure
    // (ADVICE r18). The loop re-reads the winner's manifest and
    // recomputes the pending decision (growth over exactly the files
    // the winner missed / re-base) until coverage holds; bounded —
    // each pass either settles or commits a strictly newer generation.
    def settled(last: Newest): Boolean =
      last.exists { case (_, rec, _) => curKeys.forall(rec.toSet) }

    def serve(last: Newest): (Long, DataFrame) = {
      val (gens, _, since) = last.get
      (gens.last, segments(spark, root.toString, gens, since))
    }

    // A settled store is served without waiting; otherwise one caller
    // per root in this JVM builds, and the callers waiting behind it
    // find its generation settled and serve it.
    val seen = newest()
    if (settled(seen)) serve(seen)
    else SingleFlight(root.toString) {
      var last = newest()
      var attempts = 0
      while (!settled(last)) {
        attempts += 1
        if (attempts > 4)
          throw new java.io.IOException(
            s"ensure of $root failed to converge after $attempts attempts " +
              "— committed manifests keep missing locally observed files")
        val (files, base) = pendingOf(last.map(_._2), cur)
        val n = last.fold(0L)(_._1.last + 1)
        publish(n, buildFrom(readFrom(files)),
          if (base) n else last.fold(n)(_._3))
        last = newest()
      }
      serve(last)
    }
  }

  /** Read an incremental root AT a pinned generation: the segment
    * chain from that generation's last base through it. Every dir in
    * the chain is immutable while committed, so the frame is stable
    * for the reader's lifetime regardless of later growth.
    */
  def readIncrementalAt(spark: SparkSession, root: String,
                        gen: Long): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val gens = Generations.committed(root, RowsArtifact, conf)
      .filter(_ <= gen)
    require(gens.nonEmpty, s"no committed generation <= $gen under $root")
    segments(spark, root, gens, manifest(spark, root, gens.last)._2)
  }

  /** The files an ensure pass would read right now: (files, isRebase)
    * — the ensure loop's own decision, which MaterializeSpec pins without
    * re-running a build.
    */
  private[graft] def incrementalPending(t: Tables, s: StoreDef)
      : (Seq[String], Boolean) = {
    val root = incRoot(t, s).toString
    val last = Generations.committed(root, RowsArtifact,
      t.spark.sessionState.newHadoopConf()).lastOption
    val (files, base) = pendingOf(last.map(manifest(t.spark, root, _)._1),
      dataFiles(t, s.table))
    (files.map(_.getPath.toString), base)
  }

  /** The vacuum plan of `s`'s incremental root ([[Generations.vacuumPlan]]):
    * `rebased` = committed generations older than the newest base, which
    * no current reader resolves, plus dead orphans and stale temp dirs.
    */
  private[storage] def vacuumPlan(t: Tables, s: StoreDef): Seq[Generations.Dead] = {
    val root = incRoot(t, s)
    Generations.vacuumPlan(root, Seq(RowsArtifact),
        t.spark.sessionState.newHadoopConf(), "rebased") { gens =>
      gens.lastOption.fold(gens) { n =>
        gens.filter(_ < manifest(t.spark, root.toString, n)._2)
      }
    }
  }

  /** Retire generations superseded by the newest BASE: segments older
    * than the last full build are dead to every current reader (the
    * read path starts at the base), but a pinned reader may still hold
    * them — run after readers drain, the [[reapStale]] /
    * [[Generations.retireOld]] contract. Returns retired gen numbers.
    */
  def retireRebased(t: Tables, s: StoreDef): Seq[Long] =
    Generations.remove(incRoot(t, s),
      vacuumPlan(t, s).filter(_.kind == "rebased"),
      t.spark.sessionState.newHadoopConf()).map(_.gen)

  /** Delete every warehouse cache dir of `prefix` whose tag is not in
    * `keep`; returns the reaped dir names. Tag churn (corpus
    * regenerated, constants retuned, a store definition change like r8's
    * `|keep` suffix) orphans the previous `<prefix>_<tag>` dirs — the
    * ensure-write protocol never reads them again, but they hold a full
    * copy of the store each, which at 100 TB is real money. Matching is
    * strict (`<prefix>_` + exactly 12 hex chars), so a prefix that is
    * itself a prefix of another store's name (`graft_shingles` vs
    * `graft_shingles_b`) can never reap the other store's dirs.
    * Operational maintenance, not a query-path call: run it AFTER
    * consumers of the old tags have drained, same contract as
    * `IndexMaintenance.retireOld`.
    *
    * Incremental roots `<prefix>_gens_<stableTag>` are reaped by the same
    * call with prefix `<prefix>_gens` and the live stable tags as `keep`.
    * Their stale roots come from retuned configs or other corpora's temp
    * dirs — never from growth (the stable tag survives it, by design).
    */
  def reapStale(spark: SparkSession, prefix: String,
                keep: Set[String]): Seq[String] = {
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sessionState.newHadoopConf())
    val pat = java.util.regex.Pattern.compile(
      java.util.regex.Pattern.quote(prefix) + "_([0-9a-f]{12})")
    if (!fs.exists(wh)) Nil
    else fs.listStatus(wh).toSeq
      .filter(_.isDirectory)
      .flatMap { s =>
        val m = pat.matcher(s.getPath.getName)
        if (m.matches() && !keep.contains(m.group(1))) Some(s.getPath)
        else None
      }
      .map { p => fs.delete(p, true); p.getName }
  }

  /** Write `df` as parquet under the session warehouse at
    * `<prefix>_<tag>` unless already present; return the read-back
    * frame. `partitionCols` forwards to `partitionBy`; `bucketing` is the
    * store's bucket layout, see [[ensureParquetAt]].
    *
    * Publication is [[Generations.commitOnce]] — write to a temp dir,
    * one exclusive rename — so concurrent callers sharing one warehouse
    * (parallel suites, bench + test, another JVM) never observe a
    * partially-written cache dir: either this caller's rename lands the
    * complete directory, or another caller's already did and this one
    * serves it. Callers in one JVM build a store once ([[SingleFlight]]
    * per destination): the others wait for that commit and serve it.
    */
  def ensureParquet(spark: SparkSession, prefix: String, tag: String,
                    df: => DataFrame,
                    partitionCols: Seq[String] = Nil,
                    bucketing: Option[BucketSpec] = None): DataFrame =
    ensureParquetAt(spark, new Path(
      new Path(spark.conf.get("spark.sql.warehouse.dir")), s"${prefix}_$tag"),
      df, partitionCols, bucketing)

  /** [[ensureParquet]] at an explicit destination path — for stores
    * whose layout is not `<warehouse>/<prefix>_<tag>` (e.g. the eval
    * corpus dir, which must look like a testdata dir:
    * `<root>/documents.parquet`). Same publication. A `dst` that exists
    * without `_SUCCESS` (a partial delete, a crashed in-place write) is
    * no store: the call throws rather than serve it.
    *
    * A `bucketing` layout writes `df` bucketed and sorted as `bucketBy` /
    * `sortBy` would (file names carry the bucket id), and reads the
    * directory back as a relation with that spec, so joins and
    * aggregations on the bucket columns plan without an exchange. The
    * layout lives in the caller, not in a catalog: the store is its
    * directory, and any JVM reuses it.
    */
  private[graft] def ensureParquetAt(spark: SparkSession, dst: Path,
                                     df: => DataFrame,
                                     partitionCols: Seq[String] = Nil,
                                     bucketing: Option[BucketSpec] = None): DataFrame = {
    val fs = dst.getFileSystem(spark.sessionState.newHadoopConf())
    val done = new Path(dst, "_SUCCESS")
    // a bucketed or partitioned write of no rows leaves no data file,
    // and no schema can be inferred from none: read such a store with
    // the frame's schema
    def read(): DataFrame = {
      val plain =
        if (fs.listStatus(dst).exists(f => !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith("."))) ParquetRead(spark, dst.toString)
        else spark.read.schema(df.schema).parquet(dst.toString)
      bucketing.fold(plain) { spec =>
        val rel = plain.queryExecution.analyzed.collectFirst {
          case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
        }.get
        spark.baseRelationToDataFrame(
          rel.copy(bucketSpec = Some(spec))(rel.sparkSession))
      }
    }
    // A committed store is served without waiting; otherwise one caller
    // per `dst` in this JVM builds, and the callers waiting behind it
    // serve its commit.
    if (fs.exists(done)) read()
    else SingleFlight(dst.toString) {
      if (!fs.exists(done) && !Generations.commitOnce(fs, dst) { tmp =>
            val write = DataSource(spark, "parquet",
              partitionColumns = partitionCols, bucketSpec = bucketing,
              options = Map("path" -> tmp.toString))
              .planForWriting(SaveMode.ErrorIfExists, df.queryExecution.analyzed)
            spark.sessionState.executePlan(write).assertCommandExecuted()
          } && !fs.exists(done))
        throw new java.io.IOException(
          s"$dst exists without _SUCCESS and no writer committed it — " +
            "refusing to serve a partial store (delete it to rebuild)")
      read()
    }
  }
}
