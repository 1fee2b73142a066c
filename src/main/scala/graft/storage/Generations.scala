package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** How every graft store commits, lists and vacuums — the one module
  * that knows it, used by [[ClusterStore]], [[BoundsStore]],
  * [[IndexMaintenance]] and both [[Materialize]] protocols.
  *
  * Commit: a store writes every artifact once, into a fresh sibling temp
  * dir `.<dst>.inprogress-<uuid>` (dot-named, so no Spark reader of the
  * parent lists it), and publishes it by ONE exclusive rename onto `dst`:
  * a reader sees nothing or the whole directory. The rename never lands
  * into or over an existing dir; a writer that finds `dst` taken lost a
  * race, with exactly three outcomes — a generation store
  * ([[publishWith]]) renames the same finished temp dir to the next free
  * generation, so nothing is recomputed and concurrent publishers get
  * distinct generations; an ensure caller ([[commitOnce]] returns false)
  * serves the winner; a rename that fails while no other writer holds
  * `dst` throws, never returning silently. A write that throws deletes
  * its temp dir: a failed publish commits nothing and leaves nothing.
  *
  * Generations: `<root>/gen=<n>/<artifact>/` parquet, committed iff every
  * artifact the store lists has its `_SUCCESS` marker; current = the
  * highest committed. Generations are immutable until retired or
  * vacuumed ([[vacuumPlan]]), so a reader that resolved one keeps reading
  * exactly its rows across later publishes.
  */
private[graft] object Generations {

  def path(root: String, n: Long, artifact: String): String =
    s"$root/gen=$n/$artifact"

  private def number(s: String): Option[Long] =
    if (s.nonEmpty && s.forall(_.isDigit)) s.toLongOption else None

  /** `n` of a `gen=<n>` dir name; None for any other name (`gen=3.bak`),
    * which no listing then reads as a generation.
    */
  private def genOf(name: String): Option[Long] =
    if (name.startsWith("gen=")) number(name.stripPrefix("gen=")) else None

  /** `n` of a generation temp dir `.gen=<n>.inprogress-<uuid>`. */
  private def inprogressGenOf(name: String): Option[Long] =
    if (name.startsWith(".gen=") && name.contains(".inprogress-"))
      number(name.stripPrefix(".gen=").takeWhile(_ != '.'))
    else None

  /** Generation numbers with every one of `artifacts` committed,
    * ascending.
    */
  def committed(root: String, artifacts: Seq[String],
                conf: Configuration): Seq[Long] = {
    val r = new Path(root)
    val fs = r.getFileSystem(conf)
    if (!fs.exists(r)) Nil
    else fs.listStatus(r).toSeq
      .filter(_.isDirectory)
      .flatMap(s => genOf(s.getPath.getName))
      .filter(n => artifacts.forall(a =>
        fs.exists(new Path(r, s"gen=$n/$a/_SUCCESS"))))
      .sorted
  }

  def committed(root: String, artifact: String,
                conf: Configuration = new Configuration()): Seq[Long] =
    committed(root, Seq(artifact), conf)

  // ------------------------------------------------------------ commit

  /** Rename the finished temp dir `tmp` onto `dst`, never into or over an
    * existing dir. True iff `tmp` now is `dst`; false when another writer
    * holds `dst`, with `tmp` still whole where it was. The `exists`
    * pre-check keeps a dir-into-dir rename (HDFS, or the local FS's copy
    * fallback) from nesting `tmp` inside the winner; a rename that nests
    * anyway (the winner landed between check and rename) is moved back.
    */
  private def renameExclusive(fs: FileSystem, tmp: Path, dst: Path): Boolean = {
    val nested = new Path(dst, tmp.getName)
    val moved = !fs.exists(dst) && fs.rename(tmp, dst)
    if (moved && !fs.exists(nested)) true
    else {
      if (moved) fs.rename(nested, tmp)
      if (!fs.exists(dst))
        throw new java.io.IOException(
          s"failed to rename $tmp onto $dst, and no other writer holds $dst")
      false
    }
  }

  /** Run `write` into a fresh temp dir beside `dst`, then `place` it. A
    * throw from either deletes the temp dir.
    */
  private def staged[A](fs: FileSystem, dst: Path)(write: Path => Unit)(
      place: Path => A): A = {
    val tmp = new Path(dst.getParent,
      s".${dst.getName}.inprogress-${java.util.UUID.randomUUID()}")
    try { write(tmp); place(tmp) }
    catch { case NonFatal(e) => fs.delete(tmp, true); throw e }
  }

  /** Write `dst` once: `write` fills a temp dir, one exclusive rename
    * commits it. True iff this call committed `dst`; false when another
    * writer holds it (the caller serves that one; the temp dir is gone).
    */
  private[storage] def commitOnce(fs: FileSystem, dst: Path)(
      write: Path => Unit): Boolean =
    staged(fs, dst)(write) { tmp =>
      renameExclusive(fs, tmp, dst) || { fs.delete(tmp, true); false }
    }

  /** Publish the next generation under `root` and return its number:
    * `write` fills the temp dir (one subdir per artifact), which is then
    * renamed to `gen=<n>` for the first free n above the last generation
    * committed in `artifacts`.
    */
  private[storage] def publishWith(root: String, artifacts: Seq[String],
                                   conf: Configuration)(
      write: Path => Unit): Long = {
    val r = new Path(root)
    val fs = r.getFileSystem(conf)
    val first = committed(root, artifacts, conf).lastOption.getOrElse(-1L) + 1
    staged(fs, new Path(r, s"gen=$first"))(write) { tmp =>
      Iterator.iterate(first)(_ + 1)
        .find(n => renameExclusive(fs, tmp, new Path(r, s"gen=$n"))).get
    }
  }

  /** Write `df` as the next generation's `artifact`; return its number. */
  def publish(root: String, artifact: String, df: DataFrame): Long =
    publishWith(root, Seq(artifact), df.sparkSession.sessionState.newHadoopConf())(
      tmp => df.write.parquet(new Path(tmp, artifact).toString))

  /** Delete all but the newest `keep` committed generations (run after
    * readers drain — a pinned reader holds its generation only because
    * generations are immutable until retired).
    */
  def retireOld(root: String, artifacts: Seq[String], keep: Int,
                conf: Configuration): Seq[Long] =
    remove(new Path(root), committed(root, artifacts, conf).dropRight(keep)
      .map(n => Dead(s"gen=$n", n, "retired")), conf).map(_.gen)

  // ------------------------------------------------------------ vacuum

  /** How long a sub-current temp dir must sit without progress before
    * the vacuum may reap it (the `inprogress` rule of [[vacuumPlan]]). One
    * hour dwarfs any single store write while keeping crashed temps from
    * surviving more than one maintenance cycle.
    */
  val InprogressGraceMs: Long = 60L * 60 * 1000

  /** A directory under a store root that the vacuum deletes: its name,
    * its generation, and the rule that condemned it.
    */
  final case class Dead(dir: String, gen: Long, kind: String)

  /** The one vacuum plan of a store root, sorted by (gen, dir); nothing
    * is deleted. Three rules:
    *
    *   - `retireKind`: the committed generations (ascending) that
    *     `retire` picks as resolved by no current reader — `retired`
    *     beyond a keep count, `rebased` below an incremental store's
    *     newest base;
    *   - `orphan`: an uncommitted `gen=<n>` dir strictly below current —
    *     a crash's or a partial delete's leftover: publishes rename whole
    *     dirs in above the last committed generation, so nothing will
    *     complete it. One at or above current is left alone;
    *   - `inprogress`: a `.gen=<n>.inprogress-<uuid>` temp dir with
    *     n ≤ current and no progress for [[InprogressGraceMs]] — its
    *     writer committed, reaped itself or crashed. The n-rule alone is
    *     not safe: a rival can commit a live writer's target n mid-write,
    *     and that loser still renames its temp dir onward. A writer with
    *     no filesystem progress for the whole window is indistinguishable
    *     from a crash — the documented limit.
    */
  private[storage] def vacuumPlan(root: Path, artifacts: Seq[String],
                                  conf: Configuration, retireKind: String)(
      retire: Seq[Long] => Seq[Long]): Seq[Dead] = {
    val fs = root.getFileSystem(conf)
    if (!fs.exists(root)) return Nil
    val gens = committed(root.toString, artifacts, conf)
    val cur = gens.lastOption.getOrElse(Long.MinValue)
    val now = System.currentTimeMillis()
    val crashed = fs.listStatus(root).toSeq.filter(_.isDirectory).flatMap { st =>
      val d = st.getPath.getName
      genOf(d).filter(n => n < cur && !gens.contains(n)).map(Dead(d, _, "orphan"))
        .orElse(inprogressGenOf(d)
          .filter(n => n <= cur && now - lastProgressMs(fs, st) > InprogressGraceMs)
          .map(Dead(d, _, "inprogress")))
    }
    (retire(gens).map(n => Dead(s"gen=$n", n, retireKind)) ++ crashed)
      .sortBy(d => (d.gen, d.dir))
  }

  /** Newest modification time observable under a temp dir: the dir's own
    * mtime (from the root listing's FileStatus — never re-statted, so a
    * writer committing or self-reaping between the listing and this walk
    * cannot crash the plan) maxed with every file AND directory inside
    * it. An in-flight part write lands files under `<artifact>/_temporary`
    * without refreshing the top dir's mtime, and a writer whose latest
    * progress is task-attempt dir creation shows it only in directory
    * mtimes, so the walk lists every level. Any failure during the walk
    * means the dir is vanishing right now (commit rename or self-reap won
    * the race) — it reports the dir as live; that costs one maintenance
    * cycle at most.
    */
  private def lastProgressMs(fs: FileSystem, st: FileStatus): Long =
    try {
      var newest = st.getModificationTime
      val todo = new java.util.ArrayDeque[Path]()
      todo.add(st.getPath)
      while (!todo.isEmpty)
        fs.listStatus(todo.poll()).foreach { c =>
          newest = math.max(newest, c.getModificationTime)
          if (c.isDirectory) todo.add(c.getPath)
        }
      newest
    } catch { case NonFatal(_) => Long.MaxValue }

  /** Delete the `dead` dirs under `root`; returns them. */
  private[storage] def remove(root: Path, dead: Seq[Dead],
                              conf: Configuration): Seq[Dead] = {
    val fs = root.getFileSystem(conf)
    dead.foreach(d => fs.delete(new Path(root, d.dir), true))
    dead
  }

  /** [[vacuumPlan]] of a generation store keeping its newest `keep`
    * committed generations: (gen, wasCommitted) ascending.
    */
  def vacuumPlan(root: String, artifact: String, keep: Int,
                 conf: Configuration = new Configuration())
      : Seq[(Long, Boolean)] =
    vacuumPlan(new Path(root), Seq(artifact), conf, "retired")(_.dropRight(keep))
      .map(d => d.gen -> (d.kind == "retired"))

  /** Execute [[vacuumPlan]]: delete the planned directories, return their
    * generation numbers. Run after pinned readers drain, like
    * [[retireOld]].
    */
  def vacuum(root: String, artifact: String, keep: Int,
             conf: Configuration = new Configuration()): Seq[Long] =
    remove(new Path(root), vacuumPlan(new Path(root), Seq(artifact), conf,
      "retired")(_.dropRight(keep)), conf).map(_.gen)
}

/** A one-artifact [[Generations]] store under a caller-chosen root — the
  * shared surface of [[ClusterStore]] and [[BoundsStore]].
  */
abstract class GenerationStore(artifact: String) {

  protected def pathAt(root: String, n: Long): String =
    Generations.path(root, n, artifact)

  def committedGenerations(root: String,
                           conf: Configuration = new Configuration()): Seq[Long] =
    Generations.committed(root, artifact, conf)

  def currentGeneration(root: String,
                        conf: Configuration = new Configuration()): Option[Long] =
    committedGenerations(root, conf).lastOption

  /** Write `df` as the next free generation and return its number. */
  def publishGeneration(spark: SparkSession, root: String, df: DataFrame): Long =
    Generations.publish(root, artifact, df)

  /** Delete all but the newest `keep` generations (run after readers
    * drain — same contract as [[IndexMaintenance.retireOld]]).
    */
  def retireOld(root: String, keep: Int = 2,
                conf: Configuration = new Configuration()): Seq[Long] =
    Generations.retireOld(root, Seq(artifact), keep, conf)
}
