package graft

import graft.storage.{ClusterStore, Generations, IndexMaintenance}

/** The generation GC: vacuumPlan must name exactly the retirable
  * committed generations and the DEAD uncommitted orphans (crashed
  * writes), never an in-flight write or a kept generation; vacuum
  * executes that plan and nothing else.
  */
class GenerationsSpec extends SparkSpec {

  test("vacuumPlan: retirable + dead orphans only; vacuum deletes exactly the plan") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-gen-vacuum").toString
    val art = "bounds"
    def publish(v: Long): Long =
      Generations.publish(root, art, Seq((v, v)).toDF("a", "b"))
    assert(publish(1L) == 0L && publish(2L) == 1L)

    // a crashed write: gen=2 exists with data but NO _SUCCESS marker
    val orphan = new java.io.File(s"$root/gen=2/$art")
    orphan.mkdirs()
    java.nio.file.Files.write(orphan.toPath.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    // publish never writes into an existing gen=<n> dir: the orphan's
    // slot is skipped, and the next commits land at 3 and 4 with only
    // their own rows
    assert(publish(3L) == 3L, "publish must skip the occupied orphan slot")
    assert(publish(4L) == 4L)
    assert(spark.read.parquet(Generations.path(root, 3L, art)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((3L, 3L)))

    // uncommitted dirs ABOVE the current generation (7, 9 > 4) may be
    // writes in flight — the plan must never include them
    new java.io.File(s"$root/gen=9/$art").mkdirs()
    new java.io.File(s"$root/gen=7/$art").mkdirs()

    // committed now: 0,1,3,4 ; keep=2 -> retire 0,1 ; the orphan at 2 is
    // below current, so dead ; 7/9 untouchable
    val plan = Generations.vacuumPlan(root, art, keep = 2)
    assert(plan == Seq(0L -> true, 1L -> true, 2L -> false),
      s"plan must be exactly the retirable committed gens + the dead orphan, got $plan")

    val deleted = Generations.vacuum(root, art, keep = 2)
    assert(deleted == Seq(0L, 1L, 2L))
    val left = new java.io.File(root).listFiles().map(_.getName).toSet
    assert(left == Set("gen=3", "gen=4", "gen=7", "gen=9"),
      s"vacuum must delete exactly the plan, left $left")
    assert(Generations.committed(root, art) == Seq(3L, 4L))

    // once a higher generation commits, a sub-current orphan is dead
    assert(publish(5L) == 5L)
    // gen=7/9 still above current 5 -> still alive; plant one below
    new java.io.File(s"$root/gen=1/$art").mkdirs()
    val plan3 = Generations.vacuumPlan(root, art, keep = 2)
    assert(plan3.contains(1L -> false),
      s"dead orphan below current must be planned, got $plan3")
    Generations.vacuum(root, art, keep = 2)
    assert(!new java.io.File(s"$root/gen=1").exists())
  }

  test("a stray gen= dir that is no generation number is skipped by every listing") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-gen-stray").toString
    def labels(v: Long) = Seq((v, v, 1L)).toDF("doc_id", "keeper_id", "cluster_size")
    assert(ClusterStore.publishGeneration(spark, root, labels(1L)) == 0L)
    Seq("gen=3.bak", "gen=-1", "gen=").foreach(d =>
      new java.io.File(s"$root/$d/labels").mkdirs())
    assert(ClusterStore.committedGenerations(root) == Seq(0L))
    assert(ClusterStore.currentGeneration(root).contains(0L))
    assert(IndexMaintenance.committedGenerations(root).isEmpty)
    assert(ClusterStore.publishGeneration(spark, root, labels(2L)) == 1L)
    assert(Generations.vacuumPlan(root, "labels", keep = 1) == Seq(0L -> true))
  }
}
