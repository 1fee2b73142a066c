package graft.storage

import graft.Tables
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** The periodic GC sweep over every INCREMENTAL store a corpus accrues
  * (VERDICT r19 #3): the one vacuum plan ([[Generations.vacuumPlan]],
  * through [[Materialize.vacuumPlan]]) over the segment-chain roots the
  * ensure protocol grows (`graft_shingles`, `graft_substr_wins`,
  * `graft_chunk_h`, `graft_chunk_v`), planned and executed in one call
  * with report rows — the maintenance job a days-long intake deployment
  * schedules between reader drains, so superseded chains stop
  * accumulating. Its `rebased` rule retires committed generations OLDER
  * than the newest BASE: [[Materialize.readIncrementalAt]] starts every
  * chain at the newest base ≤ the pinned generation.
  *
  * Growth segments at or above the newest base SURVIVE — they are the
  * chain current readers serve — as does anything a pinned long-lived
  * reader can still resolve forward to. A reader pinned BELOW the
  * newest base (a stream job that outlived a re-base) is the
  * documented drain contract shared with [[Generations.retireOld]] /
  * [[Materialize.reapStale]]: run the sweep after such readers drain.
  * MaterializeSpec drives ingest → growth → re-base → crash litter and
  * pins survivors = the newest base chain + the in-flight temp dir,
  * with the store's rows intact after the sweep.
  *
  * Scale: pure filesystem listings plus one one-row inventory read per
  * committed generation — no data scan; at 100 TB the reclaimed bytes
  * are the point (every superseded base is a full store copy).
  */
object Maintenance {

  /** Every incremental store the engine materializes for a corpus —
    * the sweep list. (Tag-addressed `ensureStore` caches roll by
    * whole-directory replacement and are reaped by
    * [[Materialize.reapStale]] instead; they have no segment chains.)
    */
  private[graft] def incrementalStores: Seq[Materialize.StoreDef] = Seq(
    graft.dedup.Dedup.ShinglesStore,
    graft.dedup.Substring.WindowsStore,
    graft.pipeline.Chunking.ChunkHashStore,
    graft.pipeline.ChunkSemantic.ChunkVecStore)

  /** [[Generations.InprogressGraceMs]]. */
  val InprogressGraceMs: Long = Generations.InprogressGraceMs

  /** One plannable deletion: `dir` is the directory name under the
    * store root; `gen` its parsed generation; `kind` ∈ rebased |
    * orphan | inprogress.
    */
  final case class VacuumAction(store: String, root: String, dir: String,
                                gen: Long, kind: String)

  /** The sweep's plan — nothing deleted. */
  def vacuumPlanStores(t: Tables): Seq[VacuumAction] =
    incrementalStores.flatMap { s =>
      val rootName = Materialize.incRootName(t, s)
      Materialize.vacuumPlan(t, s)
        .map(d => VacuumAction(s.prefix, rootName, d.dir, d.gen, d.kind))
    }

  /** Execute [[vacuumPlanStores]] and return one report row per
    * deleted directory: (store, root, gen, kind, dir), sorted — the
    * audit trail a maintenance run lands next to its logs.
    */
  def vacuumStores(t: Tables): DataFrame = {
    val spark = t.spark
    import spark.implicits._
    val conf = spark.sessionState.newHadoopConf()
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val plan = vacuumPlanStores(t)
    plan.foreach { a =>
      val p = new Path(new Path(wh, a.root), a.dir)
      p.getFileSystem(conf).delete(p, true)
      ()
    }
    plan.map(a => (a.store, a.root, a.gen, a.kind, a.dir))
      .toDF("store", "root", "gen", "kind", "dir")
      .orderBy(col("store"), col("gen"), col("dir"))
  }

  private def col(n: String) = org.apache.spark.sql.functions.col(n)
}
