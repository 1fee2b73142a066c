package graft.ann

import graft.Tables
import graft.functions.VectorFunctions
import graft.functions.Portable
import graft.functions.Portable.{round6, round6Sql}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (64-dim float vectors): a brute-force cosine top-k baseline and the
  * sign-LSH bucketed variant that is the 100 TB path.
  *
  * Query set = `vec_id < 10`; corpus = the rest. Cosines are computed as
  * sequential double folds (portable summation order), rounded to 6 dp
  * BEFORE ranking — ranking on the rounded value with a vec_id tiebreak
  * is what makes top-k deterministic across engines (a 1e-17 float
  * difference can otherwise flip near-ties).
  */
object Ann {

  val K = 10
  val NumQueries = 10
  /** FLOOR sign-LSH width for the ANN bucket paths — the width used at
    * test scale factors; the adaptive ladder below widens past ~8k
    * vectors. Fixed width is the scale bug the r8 10× bench measured
    * on the dedup twin: bucket occupancy is n/2^bits, so a query probe
    * over a constant width scans O(n) per probe. Width tracks log2(n)
    * to hold occupancy ≈ [[BucketTarget]]; each hash table owns a
    * fixed [[BucketBitsMax]]-dim slice and the reduction is a
    * right-shift, so widening never re-slices tables.
    */
  val BucketBits = 4
  val BucketBitsMax = 8
  val BucketTarget = 256
  val NumTables = 4 // multiprobe: hash tables over disjoint dim slices

  /** Adaptive ANN bucket width — [[Portable.bucketBits]]' integer
    * ladder (identical thresholds to the SQL twin in the oracles) over
    * one metadata-only count, kept in [[graft.storage.PlanStats]]
    * under the embeddings' inventory tag with the ladder's constants as
    * config: a landing or new constants derive it again (ADVICE r8;
    * `Dedup.embedBits` has the full rationale).
    */
  private def lshBits(t: Tables): Int =
    graft.storage.PlanStats(graft.storage.Materialize.corpusTag(t, "embeddings",
      s"bits=$BucketBits..$BucketBitsMax|tgt=$BucketTarget"))(
      Portable.bucketBits(t.embeddings.count(),
        BucketBits, BucketBitsMax, BucketTarget))
  val IvfCentroids = 16 // coarse-quantizer cells; at 100 TB: ~sqrt(corpus)
  val IvfNProbe = 4 // cells a query scans; the IVF recall/cost dial
  val PqSubspaces = 8 // product-quantization sub-vector count
  val PqSubDim = 8 // 64 dims / 8 subspaces
  val PqCodes = 16 // codewords per subspace (sample quantizer, as IVF)
  val PqShortlist = 50 // ADC survivors re-ranked by exact cosine

  /** (vec_id, v double[], norm, bucket) — norms once per vector, never
    * inside the scoring join.
    */
  private def prepared(t: Tables): DataFrame = {
    val full = Portable.signBucketExpr(BucketBitsMax, oneBasedIndex = false)
    val bits = lshBits(t)
    t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("norm", VectorFunctions.norm(col("v")))
      .withColumn("bucket",
        expr(s"shiftright($full, ${BucketBitsMax - bits})"))
  }

  // native codegen'd dot (graft.functions.DotProduct) — same sequential
  // fold as the HOF form, minus the per-element lambda interpreter.
  // Precomputed-norm form: right for the brute-force path, where every
  // corpus vector scores against EVERY query (high fan-in — 1 FMA per
  // element per pair instead of the fused form's 3).
  private val cosine: Column = round6(
    VectorFunctions.cosineFromNorms(
      col("q.v"), col("c.v"), col("q.norm"), col("c.norm")))

  // fused one-pass cosine (graft.functions.CosineSim) — bit-identical
  // to the composition above (FunctionsSpec pins it). Right for the
  // bucketed paths, where a corpus vector meets only the queries that
  // share its bucket (sparse fan-in): the norm column disappears from
  // the probe payload and the scan needs no separate norm pass.
  private val fusedCosine: Column = round6(
    VectorFunctions.cosineSim(col("q.v"), col("c.v")))

  /** Brute-force cosine top-k: the tiny query side broadcasts (a
    * BroadcastNestedLoopJoin over ALL corpus rows — intentionally; that
    * is what "brute force" means) and the corpus never shuffles. The
    * rank ≤ k filter becomes a two-phase WindowGroupLimit (Partial
    * before the shuffle, Final after — AnnSpec pins it): every scan
    * task keeps only its own top-k per query, so the shuffle carries
    * ≤ k × tasks rows per query and no task ever sorts a query's whole
    * score list, even with few distinct queries at 100 TB corpus scale.
    */
  def embedTopK(t: Tables): DataFrame = {
    val p = prepared(t)
    val queries = p.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v"), col("norm"))
    val corpus = p.filter(col("vec_id") >= NumQueries)
      .select(col("vec_id"), col("v"), col("norm"))
    corpus.as("c")
      .crossJoin(broadcast(queries.as("q")))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("vec_id"),
        cosine.as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= K)
      .orderBy(col("q_id"), col("rank"))
  }

  def embedTopKSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v,
       |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) norm
       |           FROM embeddings),
       |scored AS (SELECT q.vec_id q_id, c.vec_id vec_id,
       |    ${round6Sql("list_dot_product(q.v, c.v) / (q.norm * c.norm)")} cos_sim
       |  FROM e q JOIN e c ON q.vec_id < $NumQueries AND c.vec_id >= $NumQueries)
       |SELECT q_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) rank
       |  FROM scored)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin

  /** Sign-LSH bucketed ANN: the corpus is bucketed by the sign bits of
    * its first [[BucketBits]] dimensions; a query scores ONLY its own
    * bucket (~1/2^bits of the corpus). The join is a bucket equi-join —
    * at 100 TB the corpus shuffles once on bucket (or is written
    * bucket-partitioned and never shuffles again), and per-bucket top-k
    * is a partial rank, not a global sort.
    */
  def embedAnnLsh(t: Tables): DataFrame = {
    val p = prepared(t)
    // no norm column: the fused CosineSim computes both norms in the
    // same pass as the dot (bit-identical to the composition), so the
    // probe payload is just (id, v, bucket) — Catalyst prunes the
    // prepared norm away entirely
    val queries = p.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v"), col("bucket"))
    val corpus = p.filter(col("vec_id") >= NumQueries)
      .select(col("vec_id"), col("v"), col("bucket"))
    corpus.as("c")
      .join(broadcast(queries.as("q")), col("q.bucket") === col("c.bucket"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("vec_id"),
        fusedCosine.as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** (vec_id, v, tbl, bkt) — one row per hash table: table j
    * sign-buckets dimensions [j·bits, (j+1)·bits). The ×NumTables row
    * expansion carries only (ids, vector, bucket) — it is the standard
    * multi-table LSH storage trade (L indexes for L× recall).
    */
  private def multiBuckets(df: DataFrame, bits: Int): DataFrame = {
    val tables = (0 until NumTables).map { j =>
      val full = Portable.signBucketExpr(BucketBitsMax,
        oneBasedIndex = false, offset = j * BucketBitsMax)
      struct(lit(j).as("tbl"),
        expr(s"shiftright($full, ${BucketBitsMax - bits})").as("bkt"))
    }
    df.select(col("vec_id"), col("v"), explode(array(tables: _*)).as("tb"))
      .select(col("vec_id"), col("v"),
        col("tb.tbl").as("tbl"), col("tb.bkt").as("bkt"))
  }

  /** Query-side hamming-1 probe expansion: for each hash table, the
    * query probes its own bucket AND the [[BucketBits]] buckets one
    * sign-flip away. A query sitting ε from a hyperplane hashes to the
    * wrong side of ONE bit with probability ~1/2 — exactly the bucket
    * its hamming-1 neighbor probe covers. Expansion is QUERY-side only
    * (the broadcast small side: queries × tables × (bits+1) rows); the
    * corpus keeps one row per table, so corpus storage and the join
    * shape are unchanged.
    */
  private def probeBuckets(df: DataFrame, bits: Int): DataFrame = {
    val masks = 0 +: (0 until bits).map(1 << _)
    multiBuckets(df, bits)
      .select(col("vec_id"), col("v"), col("tbl"),
        explode(array(masks.map(m =>
          col("bkt").bitwiseXOR(lit(m))): _*)).as("bkt"))
  }

  /** Multi-table sign-LSH ANN: [[NumTables]] independent hash tables,
    * each bucketing a different dimension slice, PLUS within-table
    * hamming-1 probing ([[probeBuckets]]) — the two standard multiprobe
    * axes composed. A query near one hyperplane boundary (the
    * single-probe failure mode) collides with its true neighbors in the
    * other tables AND in the adjacent bucket of the same table;
    * candidates are the UNION over all probes, deduped, then re-ranked
    * by exact cosine. Table 0's own-bucket probe is exactly
    * [[embedAnnLsh]]'s bucketing, so the candidate set is a strict
    * superset of single-probe, and with `hamming1 = false` (the
    * multi-table-only baseline) a subset of the default — recall can
    * only go up along both axes; AnnSpec asserts both at sf0.01.
    *
    * Scale: same bucket equi-join shape as single-probe ×NumTables; the
    * corpus side still never shuffles (queries broadcast — probe
    * expansion multiplies only the broadcast side), and per-pair dedup +
    * rank stay partial per q_id. The probe count (bits+1 per table) is
    * the recall/cost dial: each probe scans ~corpus/2^bits more
    * candidates, the classic multiprobe trade vs adding whole tables
    * (which cost corpus storage, not probe fan-out).
    */
  def embedAnnMultiprobe(t: Tables, hamming1: Boolean = true): DataFrame = {
    val p = prepared(t)
    val bits = lshBits(t)
    val qside = p.filter(col("vec_id") < NumQueries)
      .select(col("vec_id"), col("v"))
    val queries =
      (if (hamming1) probeBuckets(qside, bits) else multiBuckets(qside, bits))
        .select(col("vec_id").as("q_id"), col("v"), col("tbl"), col("bkt"))
    val corpus = multiBuckets(
      p.filter(col("vec_id") >= NumQueries)
        .select(col("vec_id"), col("v")), bits)
    corpus.as("c")
      .join(broadcast(queries.as("q")),
        col("q.tbl") === col("c.tbl") && col("q.bkt") === col("c.bkt"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("vec_id"),
        fusedCosine.as("cos_sim"))
      .distinct() // a pair matching in several tables scores identically
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  def embedAnnMultiprobeSql: String = {
    val ladder = Portable.bucketBitsSql(
      "COUNT(*)", BucketBits, BucketBitsMax, BucketTarget)
    val tableSelects = (0 until NumTables).map { j =>
      val full = Portable.signBucketExpr(BucketBitsMax,
        oneBasedIndex = true, offset = j * BucketBitsMax)
      s"SELECT vec_id, v, norm, $j tbl, nb.bits, ($full) >> ($BucketBitsMax - nb.bits) AS bkt FROM e, nb"
    }.mkString(" UNION ALL ")
    // query-side hamming-1 probe masks: own bucket (0) + one flip per
    // reduced-bucket bit (masks at or above 2^bits are inert)
    val masks = (0 +: (0 until BucketBitsMax).map(1 << _).toList)
      .map(m => s"($m)").mkString(",")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v,
       |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) norm
       |           FROM embeddings),
       |nb AS (SELECT $ladder bits FROM e),
       |b AS ($tableSelects),
       |probes AS (SELECT vec_id, v, norm, tbl, xor(bkt, m.m) AS bkt
       |           FROM b, (VALUES $masks) m(m)
       |           WHERE vec_id < $NumQueries
       |             AND (m.m = 0 OR m.m < (1 << b.bits))),
       |scored AS (SELECT DISTINCT q.vec_id q_id, c.vec_id vec_id,
       |    ${round6Sql("list_dot_product(q.v, c.v) / (q.norm * c.norm)")} cos_sim
       |  FROM probes q JOIN b c ON q.tbl = c.tbl AND q.bkt = c.bkt
       |   AND c.vec_id >= $NumQueries)
       |SELECT q_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) rank
       |  FROM scored)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  /** The IVF coarse-quantizer table: (cid, cv) — the [[IvfCentroids]]
    * lowest corpus vec_ids (deterministic, kmeans-free; see
    * [[embedAnnIvf]]).
    */
  private[graft] def ivfCentroidTable(t: Tables): DataFrame =
    t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") >= NumQueries &&
        col("vec_id") < NumQueries + IvfCentroids)
      .select(col("vec_id").as("cid"), col("v").as("cv"))

  /** Nearest-centroid assignment of `vecs` (vec_id, v) to `cents`
    * (cid, cv): (vec_id, v, cid, ccos). Argmax over centroids expressed
    * as a lexicographic struct max — highest cosine, lowest cid on ties
    * (matches the oracle's row_number ORDER BY ccos DESC, cid);
    * map-side combine collapses the ×centroids expansion before the
    * single shuffle.
    */
  private def assignTo(vecs: DataFrame, cents: DataFrame): DataFrame = {
    val ccos = round6(VectorFunctions.cosineSim(col("v"), col("cv"))).as("ccos")
    vecs.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("v"), col("cid"), ccos)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("ccos").as("cc"), (-col("cid")).as("nc"))).as("m"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), (-col("m.nc")).as("cid"),
        col("m.cc").as("ccos"))
  }

  private def corpusVecs(t: Tables): DataFrame =
    t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") >= NumQueries)

  /** The built IVF index: (vec_id, v, cid) — every corpus vector tagged
    * with its nearest-centroid cell. Shared by the batch probe
    * ([[embedAnnIvf]]) and the streaming probe
    * (`streaming.Jobs.AnnProbeStream`) so the two cannot drift.
    */
  private[graft] def ivfIndex(t: Tables): DataFrame =
    assignTo(corpusVecs(t), ivfCentroidTable(t))
      .select(col("vec_id"), col("v"), col("cid"))

  /** Lloyd refinement of the IVF quantizer: iterate assign → per-cell
    * element-wise mean. This is the production `fit` step the shipped
    * [[embedAnnIvf]] entry deliberately does NOT use — distributed
    * double summation makes kmeans means partition-order-sensitive, so
    * fitted centroids are not oracle-portable; the entry stays on the
    * deterministic sample quantizer and a deployment feeds fitted
    * centroids in as data (the plans take ANY (cid, cv) table).
    *
    * Scale: per iteration, one ×centroids map-side assignment collapsed
    * by partial agg (as the index build), then the mean shuffle carries
    * (cid, pos, x) triples — dim × corpus rows of 3 scalars, with
    * map-side partial sums making the per-(cid, pos) groups tiny. Empty
    * cells keep their previous centroid (coalesce), so the quantizer
    * never loses cells. AnnSpec asserts the refinement strictly improves
    * mean assignment cosine over the sample quantizer at test sf.
    */
  def ivfFit(t: Tables, iters: Int = 2): DataFrame =
    ivfFitFrom(corpusVecs(t), ivfCentroidTable(t), iters)

  /** [[ivfFit]] from ANY (vec_id, v) corpus and ANY starting (cid, cv)
    * quantizer — the refresh path: `storage.IndexMaintenance.recenter`
    * re-fits a generation's centroids over the vectors that generation
    * actually holds (original build + streamed arrivals), warm-started
    * from the generation's own centroids.
    */
  private[graft] def ivfFitFrom(corpus: DataFrame, cents0: DataFrame,
                                iters: Int): DataFrame = {
    var cents = cents0
    for (_ <- 0 until iters) {
      val means = assignTo(corpus, cents)
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("x")).as("m"))
        .groupBy(col("cid"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, m))), s -> s.m)")
          .as("cv"))
      cents = cents.select(col("cid"), col("cv").as("old_cv"))
        .join(means, Seq("cid"), "left")
        .select(col("cid"), coalesce(col("cv"), col("old_cv")).as("cv"))
    }
    cents
  }

  /** Mean best-assignment cosine of the corpus under quantizer `cents` —
    * the quantization-quality scalar [[ivfFit]] optimizes (1 row).
    */
  private[graft] def quantizerQuality(t: Tables, cents: DataFrame): DataFrame =
    quantizerQualityOf(corpusVecs(t), cents)

  /** [[quantizerQuality]] over any (vec_id, v) frame. */
  private[graft] def quantizerQualityOf(vecs: DataFrame,
                                        cents: DataFrame): DataFrame =
    assignTo(vecs, cents).agg(avg(col("ccos")).as("mean_ccos"))

  /** (vec_id, v, cid) index rows for any corpus under any quantizer —
    * the generation-build primitive behind `IndexMaintenance.recenter`.
    */
  private[graft] def assignIndex(vecs: DataFrame,
                                 cents: DataFrame): DataFrame =
    assignTo(vecs, cents).select(col("vec_id"), col("v"), col("cid"))

  /** Probe an (vec_id, v, cid) index DataFrame with the standard query
    * probes — the shared serving plan behind [[embedAnnIvf]] (live
    * index), [[embedAnnIvfPartitioned]] (persisted index), and the
    * streaming-ingested index (`streaming.Jobs.IndexIngestStream`).
    */
  private[graft] def probeIndex(t: Tables, assigned: DataFrame): DataFrame =
    probeIndexWith(t, assigned, ivfCentroidTable(t))

  /** [[probeIndex]] under an explicit quantizer — serving a re-centered
    * generation probes with THAT generation's centroids, so cell choice
    * and cell content cannot disagree.
    */
  private[graft] def probeIndexWith(t: Tables, assigned: DataFrame,
                                    centroids: DataFrame): DataFrame = {
    val e = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val ccos = round6(VectorFunctions.cosineSim(col("v"), col("cv"))).as("ccos")
    val qprobes = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v"))
      .crossJoin(broadcast(centroids))
      .select(col("q_id"), col("v"), col("cid"), ccos)
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cid"))))
      .filter(col("pr") <= IvfNProbe)
      .select(col("q_id"), col("v"), col("cid"))
    assigned.as("c")
      .join(broadcast(qprobes.as("q")), col("q.cid") === col("c.cid"))
      .select(col("q.q_id").as("q_id"), col("c.vec_id").as("vec_id"),
        fusedCosine.as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path next to
    * the LSH family: the corpus is partitioned into [[IvfCentroids]]
    * cells by nearest centroid; a query scans only its [[IvfNProbe]]
    * nearest cells, re-ranked by exact cosine.
    *
    * Centroids are a deterministic sample (the [[IvfCentroids]] lowest
    * corpus vec_ids) — a kmeans-free quantizer both engines can compute
    * bit-identically; production swaps in Lloyd-iterated centroids
    * ([[ivfFit]]) and every plan is unchanged (the quantizer is
    * pluggable data, not plan structure).
    *
    * Scale (100 TB): the centroid table broadcasts everywhere it is
    * used. The index build ([[ivfIndex]]) expands each corpus row
    * ×centroids MAP-SIDE (broadcast nested-loop — intentional:
    * assignment is by definition all-centroids-per-vector), and partial
    * aggregation collapses the expansion back to one row per vector
    * BEFORE its single shuffle — the index build's one corpus pass,
    * persisted cell-partitioned in production
    * ([[embedAnnIvfPartitioned]]) so probing never reshuffles the
    * corpus. Probing ([[probeIndex]]) is a broadcast equi-join on cell
    * id: queries × nprobe rows probe the cell-local corpus,
    * ~nprobe/centroids of the data, and the top-k rank is partial per
    * q_id. Unlike sign-LSH, cell population adapts to the data
    * distribution — dense regions split across cells instead of piling
    * into one hyperoctant.
    */
  def embedAnnIvf(t: Tables): DataFrame = probeIndex(t, ivfIndex(t))

  def embedAnnIvfSql: String = {
    val cos = (a: String, b: String) => round6Sql(
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |k AS (SELECT vec_id cid, v cv FROM e
       |      WHERE vec_id >= $NumQueries
       |        AND vec_id < ${NumQueries + IvfCentroids}),
       |ac AS (SELECT c.vec_id, c.v, k.cid, ${cos("c.v", "k.cv")} ccos
       |       FROM e c, k WHERE c.vec_id >= $NumQueries),
       |a AS (SELECT vec_id, v, cid FROM (
       |        SELECT *, row_number() OVER
       |          (PARTITION BY vec_id ORDER BY ccos DESC, cid) rn FROM ac)
       |      WHERE rn = 1),
       |qc AS (SELECT q.vec_id q_id, q.v, k.cid, ${cos("q.v", "k.cv")} ccos
       |       FROM e q, k WHERE q.vec_id < $NumQueries),
       |qp AS (SELECT q_id, v, cid FROM (
       |        SELECT *, row_number() OVER
       |          (PARTITION BY q_id ORDER BY ccos DESC, cid) rn FROM qc)
       |      WHERE rn <= $IvfNProbe),
       |scored AS (SELECT q.q_id, a.vec_id, ${cos("q.v", "a.v")} cos_sim
       |           FROM qp q JOIN a ON q.cid = a.cid)
       |SELECT q_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) rank
       |  FROM scored)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  /** [[embedAnnIvf]] over a PERSISTED cell-partitioned index — the
    * production storage shape. The built index is written ONCE as
    * parquet partitioned by cid (the build shuffle is paid at write,
    * like storage.Bucketing's q3 facts); probing then joins the probed
    * (q_id, cid) pairs against the partitioned files, and Spark's
    * dynamic partition pruning turns the broadcast probe side into a
    * runtime partition filter — the scan READS only the ~nprobe/
    * centroids probed cell directories, not the whole index (AnnSpec
    * pins `dynamicpruning` in the scan's partition filters and result
    * equality with the recomputed entry; the DuckDB oracle is
    * [[embedAnnIvfSql]] verbatim).
    */
  def embedAnnIvfPartitioned(t: Tables): DataFrame = {
    // cache key covers the embeddings file inventory + the quantizer
    // constants, so a regenerated corpus or retuned index invalidates
    // the persisted copy instead of serving stale cells
    val idx = graft.storage.Materialize.ensureStore(t, IvfPartStore,
      ivfIndex(t), partitionCols = Seq("cid"))
    probeIndex(t, idx
      .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid")))
  }

  /** Store identity shared by the ensure-write site and the reap
    * keep-set — see `dedup.Dedup.KeeperIdsStore` for the rationale.
    */
  private[graft] lazy val IvfPartStore = graft.storage.Materialize
    .StoreDef("graft_ivf_part", "embeddings", s"c=$IvfCentroids,q=$NumQueries")

  /** ANN twin of `dedup.Dedup.reapStaleStores`: reap the persisted IVF
    * index and OPQ rotation caches orphaned by corpus/constant churn.
    * Same operational contract — run after consumers drain, and pass
    * every other corpus sharing the warehouse via `alsoKeep`.
    */
  def reapStaleStores(t: Tables, alsoKeep: Seq[Tables] = Nil): Seq[String] = {
    import graft.storage.Materialize
    val corpora = t +: alsoKeep
    Seq(IvfPartStore, Opq.RotationStore).flatMap { s =>
      Materialize.reapStale(t.spark, s.prefix, corpora.map(s.tag).toSet)
    }
  }

  /** The PQ codebook: (s, k, c, h) — for each subspace s, [[PqCodes]]
    * codewords sliced from the same deterministic sample vectors the
    * IVF quantizer uses; h = ‖c‖²/2 precomputed for the L2-argmin
    * encoding score `dot(v_s, c) − h`.
    */
  /** Sub-vector codebook from a (k, v) sample: one (s, k, c, h) row per
    * subspace × codeword; h = ‖c‖²/2 for the L2-argmin encoding score.
    */
  private[graft] def codebookFrom(sample: DataFrame): DataFrame = {
    val subs = (0 until PqSubspaces).map(s =>
      struct(lit(s).as("s"),
        slice(col("v"), s * PqSubDim + 1, PqSubDim).as("c")))
    sample.select(col("k"), explode(array(subs: _*)).as("sc"))
      .select(col("sc.s").as("s"), col("k"), col("sc.c").as("c"))
      .withColumn("h",
        VectorFunctions.dot(col("c"), col("c")) * lit(0.5))
  }

  private[graft] def pqCodebook(t: Tables): DataFrame =
    codebookFrom(t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") >= NumQueries &&
        col("vec_id") < NumQueries + PqCodes)
      .select((col("vec_id") - NumQueries).as("k"), col("v")))

  /** Corpus residuals (vec_id, cid, v := v − cv of the assigned cell) —
    * the quantity residual PQ encodes: residual magnitudes shrink with
    * cell quality, so the same code budget spends its resolution on a
    * much smaller ball than raw-vector PQ.
    */
  private def residualCorpus(t: Tables): DataFrame =
    ivfIndex(t)
      .join(broadcast(ivfCentroidTable(t)), Seq("cid"))
      .select(col("vec_id"), col("cid"),
        expr("zip_with(v, cv, (a, b) -> a - b)").as("v"))

  /** Residual codebook: codewords from the residuals of a sample
    * DISJOINT from the IVF centroids (a centroid's own residual is the
    * zero vector — useless as a codeword).
    */
  private[graft] def pqResidualCodebook(t: Tables): DataFrame = {
    val lo = NumQueries + IvfCentroids
    codebookFrom(residualCorpus(t)
      .filter(col("vec_id") >= lo && col("vec_id") < lo + PqCodes)
      .select((col("vec_id") - lo).as("k"), col("v")))
  }

  /** (vec_id, s, sub_v) — every vector of `vecs` split into its
    * [[PqSubspaces]] sub-vectors (map-side explode, no shuffle).
    */
  private[graft] def subVectors(vecs: DataFrame): DataFrame = {
    val subs = (0 until PqSubspaces).map(s =>
      struct(lit(s).as("s"),
        slice(col("v"), s * PqSubDim + 1, PqSubDim).as("sub_v")))
    vecs.select(col("vec_id"), explode(array(subs: _*)).as("sc"))
      .select(col("vec_id"), col("sc.s").as("s"), col("sc.sub_v").as("sub_v"))
  }

  /** Product-quantization ANN — the MEMORY-bound scan path: each corpus
    * vector is stored as [[PqSubspaces]] byte-sized codes (nearest
    * codeword per sub-vector, L2 criterion), ~64× smaller than the
    * raw doubles. A query builds a (subspace × codeword) lookup table
    * of partial dots, scores EVERY corpus vector by summing its codes'
    * table entries (asymmetric distance computation — PQ is exhaustive
    * by design; what it compresses is the scan, not the candidate set),
    * keeps the [[PqShortlist]] best, and re-ranks the shortlist by
    * exact cosine over the full vectors.
    *
    * Portability: every score that feeds an argmax/rank crosses round6
    * with an explicit tie-break, and the 4-part ADC sum is written as
    * ((p0+p1)+p2)+p3 via per-subspace pivots — a groupBy SUM of doubles
    * would be partition-order-sensitive and break the oracle.
    *
    * Scale (100 TB): encoding is the IVF-build shape (map-side
    * ×codewords expansion, partial argmax collapse, one shuffle — done
    * once, persisted). The ADC scan shuffles (q_id, vec_id, pivot)
    * rows collapsed map-side to one per (query, vector); the shortlist
    * rank is the embedTopK partial-WindowGroupLimit shape. Compose with
    * [[embedAnnIvf]] (IVF-PQ: codes scanned only inside probed cells)
    * when even the compressed scan is too wide — both stages share this
    * machinery.
    */
  /** The PQ code index: (vec_id, s, code) — nearest codeword per
    * (corpus vector, subspace); argmax of round6(dot − h) with
    * lowest-k tie-break, collapsed map-side before its one shuffle.
    * Shared by [[embedAnnPq]] and [[embedAnnIvfPq]].
    */
  private[graft] def pqEncoded(t: Tables): DataFrame = {
    val e = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    pqEncodedWith(e.filter(col("vec_id") >= NumQueries), pqCodebook(t))
  }

  /** [[pqEncoded]] over ANY (vec_id, v) corpus frame and codebook —
    * the rotated-space OPQ pipeline ([[Opq.embedAnnOpqPq]]) encodes
    * through the same definition, so encode criteria cannot drift.
    */
  private[graft] def pqEncodedWith(corpus: DataFrame,
                                   codebook: DataFrame): DataFrame =
    subVectors(corpus)
      .join(broadcast(codebook), Seq("s"))
      .select(col("vec_id"), col("s"), col("k"),
        round6(VectorFunctions.dot(col("sub_v"), col("c")) - col("h"))
          .as("score"))
      .groupBy(col("vec_id"), col("s"))
      .agg(max(struct(col("score").as("sc"), (-col("k")).as("nk"))).as("m"))
      .select(col("vec_id"), col("s"), (-col("m.nk")).as("code"))

  /** The query-side ADC lookup table: (q_id, s, k, part) — partial dot
    * per (query, subspace, codeword). Tiny: queries × subspaces × codes.
    */
  private[graft] def pqLut(t: Tables): DataFrame = {
    val e = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    pqLutFrom(t, e.filter(col("vec_id") < NumQueries))
  }

  /** LUT over ANY (vec_id, v) frame — including a streaming one
    * (`streaming.Jobs.PqProbeStream` feeds live queries through the
    * same definition, so stream and batch LUTs cannot drift).
    */
  private[graft] def pqLutFrom(t: Tables, vecs: DataFrame): DataFrame =
    pqLutWith(vecs, pqCodebook(t))

  /** LUT over any (vec_id, v) frame against any codebook. */
  private[graft] def pqLutWith(vecs: DataFrame,
                               codebook: DataFrame): DataFrame =
    subVectors(vecs)
      .join(broadcast(codebook), Seq("s"))
      .select(col("vec_id").as("q_id"), col("s"), col("k"),
        round6(VectorFunctions.dot(col("sub_v"), col("c"))).as("part"))

  /** Shared ADC tail: `parts` (q_id, vec_id, s, part [, base]) →
    * fixed-order pivot sum (prefixed by the per-cell `base` term when
    * `withBase` — residual ADC's `dot(q, cv)` constant) → per-query
    * [[PqShortlist]] by approximate score → exact-cosine re-rank of the
    * shortlist → top [[K]].
    */
  private[graft] def adcTail(parts: DataFrame, t: Tables,
                             withBase: Boolean = false): DataFrame =
    adcTailWith(parts,
      t.embeddings
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      withBase)

  /** [[adcTail]] with the exact re-rank frame as a parameter: the
    * shortlist comes from whatever approximate space `parts` was built
    * in (raw PQ, residual PQ, rotated OPQ), but the final cosine is
    * ALWAYS over `e`'s vectors — pass the original embeddings and the
    * output scores stay comparable across every ANN variant.
    */
  private[graft] def adcTailWith(parts: DataFrame, e: DataFrame,
                                 withBase: Boolean = false): DataFrame = {
    // sum the looked-up parts in a FIXED order via per-subspace pivots —
    // a groupBy SUM of doubles would be partition-order-sensitive and
    // break the oracle
    val pivots = (0 until PqSubspaces).map(s =>
      max(when(col("s") === s, col("part"))).as(s"p$s")) ++
      (if (withBase) Seq(max(col("base")).as("base")) else Nil)
    val approxSum = ((if (withBase) Seq(col("base")) else Nil) ++
      (0 until PqSubspaces).map(s => col(s"p$s"))).reduce(_ + _)
    val approx = parts
      .groupBy(col("q_id"), col("vec_id"))
      .agg(pivots.head, pivots.tail: _*)
      .select(col("q_id"), col("vec_id"), round6(approxSum).as("approx"))
    val shortlist = approx
      .withColumn("sr", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("approx").desc, col("vec_id"))))
      .filter(col("sr") <= PqShortlist)
      .select(col("q_id"), col("vec_id"))
    shortlist
      .join(e.select(col("vec_id"), col("v")), Seq("vec_id"))
      .join(broadcast(e.select(col("vec_id").as("q_id"), col("v").as("qv"))),
        Seq("q_id"))
      .select(col("q_id"), col("vec_id"),
        round6(VectorFunctions.cosineSim(col("qv"), col("v"))).as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("q_id"))
          .orderBy(col("cos_sim").desc, col("vec_id"))))
      .filter(col("rank") <= K)
      .select(col("q_id"), col("vec_id"), col("cos_sim"), col("rank"))
      .orderBy(col("q_id"), col("rank"))
  }

  def embedAnnPq(t: Tables): DataFrame = {
    val encoded = pqEncoded(t)
    val lut = pqLut(t)
    val parts = encoded
      .join(broadcast(lut),
        encoded("s") === lut("s") && encoded("code") === lut("k"))
      .select(col("q_id"), col("vec_id"), encoded("s"), col("part"))
    adcTail(parts, t)
  }

  /** IVF-PQ — the full production composition: the IVF coarse quantizer
    * bounds WHICH vectors are scanned (a query's [[IvfNProbe]] cells,
    * ~nprobe/centroids of the corpus) and PQ codes compress WHAT the
    * scan reads (~64× smaller than raw vectors). Candidate codes come
    * from joining the cell index to the probed (q_id, cid) pairs —
    * map-side, both probe sides broadcast — then the standard ADC tail:
    * fixed-order pivot sum, shortlist, exact re-rank. Recall is bounded
    * by the IVF probe (a cell miss cannot be recovered by PQ), so
    * AnnSpec asserts ivf_pq ⊆ ivf cells-wise semantics via recall
    * floors rather than equality.
    */
  def embedAnnIvfPq(t: Tables): DataFrame = {
    val e = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val centroids = ivfCentroidTable(t)
    val ccos = round6(VectorFunctions.cosineSim(col("v"), col("cv"))).as("ccos")
    val probePairs = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v"))
      .crossJoin(broadcast(centroids))
      .select(col("q_id"), col("cid"), ccos)
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cid"))))
      .filter(col("pr") <= IvfNProbe)
      .select(col("q_id"), col("cid"))
    val cellCodes = ivfIndex(t).select(col("vec_id"), col("cid"))
      .join(pqEncoded(t), Seq("vec_id"))
    val lut = pqLut(t)
    val parts = cellCodes
      .join(broadcast(probePairs), Seq("cid"))
      .as("x")
      .join(broadcast(lut).as("l"),
        col("x.q_id") === col("l.q_id") && col("x.s") === col("l.s") &&
          col("x.code") === col("l.k"))
      .select(col("x.q_id").as("q_id"), col("x.vec_id").as("vec_id"),
        col("x.s").as("s"), col("l.part").as("part"))
    adcTail(parts, t)
  }

  /** PQ code/LUT CTE chain (`ss cb cbh csub enc0 enc qsub lut`) —
    * DuckDB twins of [[pqCodebook]]/[[pqEncoded]]/[[pqLut]]; shared by
    * the PQ and IVF-PQ oracles so the code definitions cannot drift.
    */
  private[graft] def pqCodeCtes: String = {
    val subsVals = (0 until PqSubspaces).map(s => s"($s)").mkString(",")
    def sliceOf(v: String) =
      s"$v[ss.s*$PqSubDim+1 : ss.s*$PqSubDim+$PqSubDim]"
    s"""ss(s) AS (VALUES $subsVals),
       |cb AS (SELECT ss.s, (vec_id - $NumQueries) k, ${sliceOf("v")} c
       |       FROM e, ss WHERE vec_id >= $NumQueries
       |         AND vec_id < ${NumQueries + PqCodes}),
       |cbh AS (SELECT s, k, c, list_dot_product(c, c) * 0.5 h FROM cb),
       |csub AS (SELECT vec_id, ss.s, ${sliceOf("v")} sub_v
       |         FROM e, ss WHERE vec_id >= $NumQueries),
       |enc0 AS (SELECT c.vec_id, c.s, b.k,
       |    ${round6Sql("list_dot_product(c.sub_v, b.c) - b.h")} score
       |  FROM csub c JOIN cbh b ON b.s = c.s),
       |enc AS (SELECT vec_id, s, k code FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY vec_id, s ORDER BY score DESC, k) rn FROM enc0)
       |  WHERE rn = 1),
       |qsub AS (SELECT vec_id q_id, ss.s, ${sliceOf("v")} sub_v
       |         FROM e, ss WHERE vec_id < $NumQueries),
       |lut AS (SELECT q.q_id, q.s, b.k,
       |    ${round6Sql("list_dot_product(q.sub_v, b.c)")} part
       |  FROM qsub q JOIN cbh b ON b.s = q.s)""".stripMargin
  }

  /** ADC tail CTEs + final select over a `parts` CTE — DuckDB twin of
    * [[adcTail]], shared by the PQ, IVF-PQ, and residual oracles.
    */
  private def adcTailSql: String = adcTailSqlWith(withBase = false)

  /** `rerankRel` names the relation the exact-cosine re-rank reads —
    * `e` for the raw-space oracles; the OPQ oracle passes its
    * UN-rotated relation so shortlists from rotated space are scored
    * over original vectors ([[adcTailWith]]'s contract).
    */
  private[graft] def adcTailSqlWith(withBase: Boolean,
                                    rerankRel: String = "e"): String = {
    val pivotCols = ((0 until PqSubspaces)
      .map(s => s"max(CASE WHEN s = $s THEN part END) p$s") ++
      (if (withBase) Seq("max(base) base") else Nil)).mkString(", ")
    val approxSum = ((if (withBase) Seq("base") else Nil) ++
      (0 until PqSubspaces).map(s => s"p$s")).mkString(" + ")
    s"""pv AS (SELECT q_id, vec_id, $pivotCols
       |       FROM parts GROUP BY q_id, vec_id),
       |approx AS (SELECT q_id, vec_id,
       |    ${round6Sql(approxSum)} approx FROM pv),
       |short AS (SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY q_id ORDER BY approx DESC, vec_id) sr
       |    FROM approx) WHERE sr <= $PqShortlist),
       |scored AS (SELECT s.q_id, s.vec_id,
       |    ${round6Sql("list_dot_product(q.v, c.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v)))")} cos_sim
       |  FROM short s JOIN $rerankRel c ON c.vec_id = s.vec_id
       |               JOIN $rerankRel q ON q.vec_id = s.q_id)
       |SELECT q_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) rank
       |  FROM scored)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  def embedAnnPqSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |$pqCodeCtes,
       |parts AS (SELECT l.q_id, x.vec_id, x.s, l.part
       |          FROM enc x JOIN lut l ON l.s = x.s AND l.k = x.code),
       |$adcTailSql""".stripMargin

  /** Residual IVF-PQ — the production index design (what FAISS ships as
    * IndexIVFPQ): PQ encodes each vector's RESIDUAL from its cell
    * centroid instead of the raw vector. Residual magnitudes shrink as
    * cells tighten, so the same 8-byte code budget resolves a far
    * smaller ball — recall at equal cost.
    *
    * The approximate score decomposes exactly:
    * `dot(q, cv + PQ(r)) = dot(q, cv) + Σ_s dot(q_s, c_{s,code_s})` —
    * a per-(query, cell) BASE term plus the standard lookup-table sum.
    * The LUT stays cell-independent (it is `dot(q_s, ·)` over the
    * global residual codebook), so probing costs exactly what plain
    * IVF-PQ pays plus one base double per probe pair. Every term
    * crosses round6 with explicit tie-breaks; the base-prefixed ADC sum
    * keeps the fixed evaluation order.
    *
    * Measured honestly: on THIS corpus the residual gains nothing —
    * recall 36 vs raw-PQ 39 @sf0.001, 31 vs 33 @sf0.01. The synthetic
    * embeddings are isotropic (no cluster structure), so a 16-cell
    * quantizer explains almost no variance and unit-vector centroids
    * leave ‖v − cv‖ ≈ ‖v‖ or larger — the residual ball never shrinks.
    * On clustered real embeddings (with Lloyd-fitted centroids fed in
    * as data — [[ivfFit]]) cells tighten, residual magnitude drops with
    * cell quality, and this composition is the one to deploy; AnnSpec
    * pins recall within a small band of raw IVF-PQ here rather than
    * claiming a win the data cannot exhibit.
    */
  def embedAnnIvfPqResidual(t: Tables): DataFrame = {
    val e = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cb = pqResidualCodebook(t)
    probeIvfPqResidualWith(
      e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("v")),
      ivfIndex(t).select(col("vec_id"), col("cid")),
      ivfCentroidTable(t), cb,
      pqEncodedWith(residualCorpus(t).select(col("vec_id"), col("v")), cb),
      e)
  }

  /** [[embedAnnIvfPqResidual]]'s probe phase over EXPLICIT artifacts —
    * (queries, cell index, quantizer, residual codebook, codes, re-rank
    * vectors) — so the same composition serves both the live entry and
    * a persisted index GENERATION ([[probeIvfPqGeneration]]): resolve
    * all four index artifacts from one committed generation and the
    * quantizer can never disagree with the codes encoded against it.
    * `e` must hold the query vectors and every shortlist-able vector
    * (the exact re-rank reads both sides from it).
    */
  private[graft] def probeIvfPqResidualWith(
      qv: DataFrame, cellIndex: DataFrame, cents: DataFrame,
      cb: DataFrame, encoded: DataFrame, e: DataFrame): DataFrame = {
    val probes = qv.crossJoin(broadcast(cents))
      .select(col("q_id"), col("cid"),
        round6(VectorFunctions.cosineSim(col("v"), col("cv"))).as("ccos"),
        round6(VectorFunctions.dot(col("v"), col("cv"))).as("base"))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("ccos").desc, col("cid"))))
      .filter(col("pr") <= IvfNProbe)
      .select(col("q_id"), col("cid"), col("base"))
    val lut = subVectors(qv.select(col("q_id").as("vec_id"), col("v")))
      .join(broadcast(cb), Seq("s"))
      .select(col("vec_id").as("q_id"), col("s"), col("k"),
        round6(VectorFunctions.dot(col("sub_v"), col("c"))).as("part"))
    val parts = cellIndex
      .join(encoded, Seq("vec_id"))
      .join(broadcast(probes), Seq("cid"))
      .as("x")
      .join(broadcast(lut).as("l"),
        col("x.q_id") === col("l.q_id") && col("x.s") === col("l.s") &&
          col("x.code") === col("l.k"))
      .select(col("x.q_id").as("q_id"), col("x.vec_id").as("vec_id"),
        col("x.s").as("s"), col("l.part").as("part"), col("x.base").as("base"))
    adcTailWith(parts, e, withBase = true)
  }

  /** Residual codebook over an EXPLICIT (vec_id, v, cid) assignment and
    * its quantizer — the fit [[graft.storage.IndexMaintenance
    * .recenterPq]] runs when a re-center swaps the centroids: the old
    * codebook quantized residuals against centroids that no longer
    * exist, so it must be refit with the quantizer, never kept.
    * Codewords are the [[PqCodes]] lowest-id vectors with a NONZERO
    * residual (deterministic; a zero residual — a vector sitting on its
    * own centroid — is useless as a codeword). The global row_number
    * window runs over [[PqCodes]] rows post-limit, never the corpus.
    */
  private[graft] def residualCodebookFrom(assigned: DataFrame,
                                          cents: DataFrame): DataFrame = {
    val res = assigned.join(broadcast(cents), Seq("cid"))
      .select(col("vec_id"),
        expr("zip_with(v, cv, (a, b) -> a - b)").as("v"))
    val sample = res
      .filter(expr("exists(v, x -> abs(x) > 0d)"))
      .orderBy(col("vec_id")).limit(PqCodes)
      .withColumn("k",
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("long"))
    codebookFrom(sample.select(col("k"), col("v")))
  }

  /** IVF-PQ-residual serving off the CURRENT committed PQ generation
    * under `root` (layout: [[graft.storage.IndexMaintenance]]). All
    * four artifacts — cell index, quantizer, residual codebook, codes —
    * resolve from the SAME generation, so a concurrent re-center can
    * never mix old codes with new centroids; a probe that resolved
    * generation n keeps reading exactly n until it re-resolves
    * (generations are immutable until retired). Queries come from `t`;
    * the exact re-rank reads the generation's stored vectors, so
    * stream-ingested vectors that exist only in the index are rankable.
    */
  def probeIvfPqGeneration(t: Tables, root: String,
                           gen: Option[Long] = None): DataFrame = {
    import graft.storage.{IndexMaintenance, ParquetRead}
    val spark = t.spark
    val n = gen.orElse(IndexMaintenance.currentPqGeneration(root,
      spark.sessionState.newHadoopConf())).getOrElse(
      throw new IllegalStateException(s"no committed PQ generation under $root"))
    val idx = ParquetRead(spark, IndexMaintenance.indexPath(root, n))
      .select(col("vec_id"), col("v"), col("cid").cast("long").as("cid"))
    val qv = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v"))
    val e = qv.select(col("q_id").as("vec_id"), col("v"))
      .union(idx.select(col("vec_id"), col("v")))
    probeIvfPqResidualWith(
      qv,
      idx.select(col("vec_id"), col("cid")),
      ParquetRead(spark, IndexMaintenance.centsPath(root, n)),
      ParquetRead(spark, IndexMaintenance.pqBookPath(root, n)),
      ParquetRead(spark, IndexMaintenance.pqCodesPath(root, n))
        .select(col("vec_id"), col("s"), col("code")),
      e)
  }

  def embedAnnIvfPqResidualSql: String = {
    val cos = (a: String, b: String) => round6Sql(
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))")
    val dim = PqSubspaces * PqSubDim
    val lo = NumQueries + IvfCentroids
    val subsVals = (0 until PqSubspaces).map(s => s"($s)").mkString(",")
    def sliceOf(v: String) =
      s"$v[ss.s*$PqSubDim+1 : ss.s*$PqSubDim+$PqSubDim]"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |ivk AS (SELECT vec_id cid, v cv FROM e
       |        WHERE vec_id >= $NumQueries AND vec_id < $lo),
       |ac AS (SELECT c.vec_id, ivk.cid, ${cos("c.v", "ivk.cv")} ccos
       |       FROM e c, ivk WHERE c.vec_id >= $NumQueries),
       |a AS (SELECT vec_id, cid FROM (
       |        SELECT *, row_number() OVER
       |          (PARTITION BY vec_id ORDER BY ccos DESC, cid) rn FROM ac)
       |      WHERE rn = 1),
       |rc AS (SELECT a.vec_id, a.cid,
       |         list_transform(generate_series(1, $dim),
       |           i -> e.v[i] - ivk.cv[i]) rv
       |       FROM a JOIN e ON e.vec_id = a.vec_id
       |              JOIN ivk ON ivk.cid = a.cid),
       |ss(s) AS (VALUES $subsVals),
       |cb AS (SELECT ss.s, (vec_id - $lo) k, ${sliceOf("rv")} c
       |       FROM rc, ss WHERE vec_id >= $lo AND vec_id < ${lo + PqCodes}),
       |cbh AS (SELECT s, k, c, list_dot_product(c, c) * 0.5 h FROM cb),
       |csub AS (SELECT vec_id, ss.s, ${sliceOf("rv")} sub_v FROM rc, ss),
       |enc0 AS (SELECT c.vec_id, c.s, b.k,
       |    ${round6Sql("list_dot_product(c.sub_v, b.c) - b.h")} score
       |  FROM csub c JOIN cbh b ON b.s = c.s),
       |enc AS (SELECT vec_id, s, k code FROM (
       |    SELECT *, row_number() OVER
       |      (PARTITION BY vec_id, s ORDER BY score DESC, k) rn FROM enc0)
       |  WHERE rn = 1),
       |qc AS (SELECT q.vec_id q_id, ivk.cid, ${cos("q.v", "ivk.cv")} ccos,
       |         ${round6Sql("list_dot_product(q.v, ivk.cv)")} base
       |       FROM e q, ivk WHERE q.vec_id < $NumQueries),
       |qp AS (SELECT q_id, cid, base FROM (
       |        SELECT *, row_number() OVER
       |          (PARTITION BY q_id ORDER BY ccos DESC, cid) rn FROM qc)
       |      WHERE rn <= $IvfNProbe),
       |qsub AS (SELECT vec_id q_id, ss.s, ${sliceOf("v")} sub_v
       |         FROM e, ss WHERE vec_id < $NumQueries),
       |lut AS (SELECT q.q_id, q.s, b.k,
       |    ${round6Sql("list_dot_product(q.sub_v, b.c)")} part
       |  FROM qsub q JOIN cbh b ON b.s = q.s),
       |parts AS (SELECT qp.q_id, x.vec_id, x.s, l.part, qp.base
       |          FROM enc x JOIN a ON a.vec_id = x.vec_id
       |                     JOIN qp ON qp.cid = a.cid
       |                     JOIN lut l ON l.q_id = qp.q_id
       |                              AND l.s = x.s AND l.k = x.code),
       |${adcTailSqlWith(withBase = true)}""".stripMargin
  }

  def embedAnnIvfPqSql: String = {
    val cos = (a: String, b: String) => round6Sql(
      s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |ivk AS (SELECT vec_id cid, v cv FROM e
       |        WHERE vec_id >= $NumQueries
       |          AND vec_id < ${NumQueries + IvfCentroids}),
       |ac AS (SELECT c.vec_id, ivk.cid, ${cos("c.v", "ivk.cv")} ccos
       |       FROM e c, ivk WHERE c.vec_id >= $NumQueries),
       |a AS (SELECT vec_id, cid FROM (
       |        SELECT *, row_number() OVER
       |          (PARTITION BY vec_id ORDER BY ccos DESC, cid) rn FROM ac)
       |      WHERE rn = 1),
       |qc AS (SELECT q.vec_id q_id, ivk.cid, ${cos("q.v", "ivk.cv")} ccos
       |       FROM e q, ivk WHERE q.vec_id < $NumQueries),
       |qp AS (SELECT q_id, cid FROM (
       |        SELECT *, row_number() OVER
       |          (PARTITION BY q_id ORDER BY ccos DESC, cid) rn FROM qc)
       |      WHERE rn <= $IvfNProbe),
       |$pqCodeCtes,
       |parts AS (SELECT qp.q_id, x.vec_id, x.s, l.part
       |          FROM enc x JOIN a ON a.vec_id = x.vec_id
       |                     JOIN qp ON qp.cid = a.cid
       |                     JOIN lut l ON l.q_id = qp.q_id
       |                              AND l.s = x.s AND l.k = x.code),
       |$adcTailSql""".stripMargin
  }

  def embedAnnLshSql: String = {
    val ladder = Portable.bucketBitsSql(
      "COUNT(*)", BucketBits, BucketBitsMax, BucketTarget)
    val full = Portable.signBucketExpr(BucketBitsMax, oneBasedIndex = true)
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v,
       |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) norm
       |           FROM embeddings),
       |nb AS (SELECT $ladder bits FROM e),
       |b AS (SELECT vec_id, v, norm,
       |        ($full) >> ($BucketBitsMax - nb.bits) AS bucket FROM e, nb),
       |scored AS (SELECT q.vec_id q_id, c.vec_id vec_id,
       |    ${round6Sql("list_dot_product(q.v, c.v) / (q.norm * c.norm)")} cos_sim
       |  FROM b q JOIN b c ON q.bucket = c.bucket
       |   AND q.vec_id < $NumQueries AND c.vec_id >= $NumQueries)
       |SELECT q_id, vec_id, cos_sim, CAST(rank AS INT) AS rank FROM (
       |  SELECT *, row_number() OVER
       |    (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) rank
       |  FROM scored)
       |WHERE rank <= $K ORDER BY q_id, rank""".stripMargin
  }

  /** Recall@K of the IVF index against the exact scan, AS A QUERY —
    * index validation belongs in the pipeline, not a notebook: every
    * index publish (recenter, re-ingest, generation swap) should gate
    * on this table the way corpus publishes gate on the dup matrix.
    * Per query vector: how many of its true top-K the index returned.
    *
    * Scale: the exact side is the brute-force scan over the SAMPLED
    * query panel ([[NumQueries]] — exactly how recall is audited on a
    * real corpus: sample queries, not all), the index side is the
    * production probe path; the semi join and the count run over
    * ≤ queries·K rows — nothing here touches corpus scale beyond the
    * two operand plans themselves. Composition, not new machinery:
    * both operands are the SAME plans the `embed_topk` /
    * `embed_ann_ivf` entries ship (AnnSpec already value-pins their
    * recall relationship; this makes it a queryable artifact).
    */
  def annRecallReport(t: Tables): DataFrame = {
    val exact = embedTopK(t).select(col("q_id"), col("vec_id"))
    val hits = exact
      .join(embedAnnIvf(t).select(col("q_id"), col("vec_id")),
        Seq("q_id", "vec_id"), "left_semi")
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    exact.select(col("q_id")).distinct()
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        round6(coalesce(col("n_hits"), lit(0L)).cast("double")
          / lit(K.toDouble)).as("recall6"))
      .orderBy(col("q_id"))
  }

  def annRecallReportSql: String =
    s"""WITH ex AS ($embedTopKSql),
       |ann AS (${embedAnnIvfSql}),
       |h AS (SELECT ex.q_id, COUNT(*) AS n_hits
       |      FROM ex JOIN ann ON ex.q_id = ann.q_id
       |        AND ex.vec_id = ann.vec_id
       |      GROUP BY 1)
       |SELECT q.q_id, CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
       |  ${round6Sql(s"COALESCE(n_hits, 0)::DOUBLE / ${K}.0")} AS recall6
       |FROM (SELECT DISTINCT q_id FROM ex) q
       |LEFT JOIN h USING (q_id) ORDER BY q.q_id""".stripMargin

  /** Absolute similarity floor for a mined pair — set against this
    * corpus's cross-group cosine distribution (top-1 median ≈ 0.32 at
    * sf0.1), selecting the clearly-above-background tail.
    */
  val MarginCosMin = 0.35

  /** Best-vs-runner-up separation floor — the margin criterion of
    * public bitext mining (Artetxe & Schwenk): a best match that
    * barely beats its runner-up is a dense-region coincidence, not an
    * alignment; a clear margin is the signal.
    */
  val MarginMin = 0.01

  /** Margin-based cross-group pair mining — the bitext-mining shape
    * over this schema: anchors (even `label`) matched to candidates
    * (odd `label`; stand-ins for the two languages of a parallel-
    * corpus mine) by best-cosine WITH the margin criterion — emit
    * (vec_a, best vec_b, cos6, margin6 = cos1 − cos2) only when the
    * best match clears [[MarginCosMin]] AND beats the in-bucket
    * runner-up by [[MarginMin]]. A sole-candidate anchor competes
    * against the −1 sentinel (no runner-up ⇒ maximal margin —
    * defensible and portable).
    *
    * Scale: candidates come from the same adaptive sign-LSH bucket
    * (the [[embedAnnLsh]] ladder — occupancy-targeted, so the
    * per-bucket cross join is bounded at any corpus size); the top-2
    * rank is a per-anchor WindowGroupLimit inside the bucket, never a
    * global sort. Both cosines are round6 before the subtraction, so
    * margin6 is an identical IEEE difference in both engines —
    * hash-checked end to end.
    */
  def embedMarginMine(t: Tables): DataFrame = {
    val p = prepared(t)
      .join(t.embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
    val anchors = p.filter(pmod(col("label"), lit(2)) === 0)
      .select(col("vec_id").as("a_id"), col("v"), col("norm"), col("bucket"))
    val cands = p.filter(pmod(col("label"), lit(2)) === 1)
      .select(col("vec_id").as("b_id"), col("v"), col("norm"), col("bucket"))
    val scored = anchors.as("q").join(cands.as("c"), Seq("bucket"))
      .select(col("a_id"), col("b_id"), cosine.as("cos"))
    val top2 = scored.withColumn("rk", row_number().over(
      Window.partitionBy(col("a_id")).orderBy(col("cos").desc, col("b_id"))))
      .filter(col("rk") <= 2)
    top2.groupBy(col("a_id"))
      .agg(max(when(col("rk") === 1, col("b_id"))).as("b_id"),
        max(when(col("rk") === 1, col("cos"))).as("cos1"),
        max(when(col("rk") === 2, col("cos"))).as("cos2"))
      .select(col("a_id").as("vec_a"), col("b_id").as("vec_b"),
        col("cos1").as("cos6"),
        (col("cos1") - coalesce(col("cos2"), lit(-1.0))).as("margin6"))
      .filter(col("cos6") >= MarginCosMin && col("margin6") >= MarginMin)
      .orderBy(col("vec_a"))
  }

  /** Hard negatives emitted per anchor. */
  val ContrastiveNegK = 2

  /** Contrastive training-pair generation — the embedding-model data
    * prep op: per anchor vector, its best SAME-label in-bucket
    * neighbor as the positive and the [[ContrastiveNegK]] most-similar
    * CROSS-label in-bucket vectors as hard negatives (similar-but-
    * wrong is the negative that teaches; random negatives are free
    * wins the loss ignores — the public hard-negative-mining
    * practice). Output (anchor, role, rk, pair_id, cos6); anchors
    * missing a same-label bucket mate emit no positive, mirroring the
    * mining reality.
    *
    * Scale: one adaptive-LSH bucket self-join (occupancy-targeted,
    * never a corpus cross product) feeds BOTH roles; the per-anchor
    * ranks are in-bucket windows. Same discipline as
    * [[embedMarginMine]] — this op IS that plan with a role split.
    */
  def contrastivePairs(t: Tables): DataFrame = {
    val p = prepared(t)
      .join(t.embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
    val scored = p.as("q").join(p.as("c"),
        col("q.bucket") === col("c.bucket") &&
          col("q.vec_id") =!= col("c.vec_id"))
      .select(col("q.vec_id").as("anchor"),
        col("q.label").as("a_label"), col("c.label").as("b_label"),
        col("c.vec_id").as("pair_id"), cosine.as("cos"))
    def ranked(f: Column, role: String, k: Int) =
      scored.filter(f)
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("anchor"))
            .orderBy(col("cos").desc, col("pair_id"))))
        .filter(col("rk") <= k)
        .select(col("anchor"), lit(role).as("role"), col("rk"),
          col("pair_id"), col("cos").as("cos6"))
    ranked(col("a_label") === col("b_label"), "pos", 1)
      .unionAll(ranked(col("a_label") =!= col("b_label"), "neg",
        ContrastiveNegK))
      .orderBy(col("anchor"), col("role"), col("rk"))
  }

  def contrastivePairsSql: String = {
    val ladder = Portable.bucketBitsSql(
      "COUNT(*)", BucketBits, BucketBitsMax, BucketTarget)
    val full = Portable.signBucketExpr(BucketBitsMax, oneBasedIndex = true)
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v,
       |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) norm
       |           FROM embeddings),
       |nb AS (SELECT $ladder bits FROM e),
       |b AS (SELECT vec_id, label, v, norm,
       |        ($full) >> ($BucketBitsMax - nb.bits) AS bucket FROM e, nb),
       |scored AS (SELECT q.vec_id anchor, q.label a_label,
       |    c.label b_label, c.vec_id pair_id,
       |    ${round6Sql("list_dot_product(q.v, c.v) / (q.norm * c.norm)")} cos
       |  FROM b q JOIN b c ON q.bucket = c.bucket
       |   AND q.vec_id <> c.vec_id),
       |pos AS (SELECT anchor, 'pos' AS role,
       |          CAST(row_number() OVER (PARTITION BY anchor
       |            ORDER BY cos DESC, pair_id) AS INT) AS rk,
       |          pair_id, cos AS cos6
       |        FROM scored WHERE a_label = b_label),
       |neg AS (SELECT anchor, 'neg' AS role,
       |          CAST(row_number() OVER (PARTITION BY anchor
       |            ORDER BY cos DESC, pair_id) AS INT) AS rk,
       |          pair_id, cos AS cos6
       |        FROM scored WHERE a_label <> b_label)
       |SELECT * FROM (
       |  SELECT * FROM pos WHERE rk <= 1
       |  UNION ALL
       |  SELECT * FROM neg WHERE rk <= $ContrastiveNegK)
       |ORDER BY anchor, role, rk""".stripMargin
  }

  def embedMarginMineSql: String = {
    val ladder = Portable.bucketBitsSql(
      "COUNT(*)", BucketBits, BucketBitsMax, BucketTarget)
    val full = Portable.signBucketExpr(BucketBitsMax, oneBasedIndex = true)
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] v,
       |             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) norm
       |           FROM embeddings),
       |nb AS (SELECT $ladder bits FROM e),
       |b AS (SELECT vec_id, label, v, norm,
       |        ($full) >> ($BucketBitsMax - nb.bits) AS bucket FROM e, nb),
       |scored AS (SELECT q.vec_id a_id, c.vec_id b_id,
       |    ${round6Sql("list_dot_product(q.v, c.v) / (q.norm * c.norm)")} cos
       |  FROM b q JOIN b c ON q.bucket = c.bucket
       |   AND q.label % 2 = 0 AND c.label % 2 = 1),
       |rk AS (SELECT a_id, b_id, cos, row_number() OVER
       |         (PARTITION BY a_id ORDER BY cos DESC, b_id) AS rk
       |       FROM scored),
       |agg AS (SELECT a_id,
       |          MAX(CASE WHEN rk = 1 THEN b_id END) AS b_id,
       |          MAX(CASE WHEN rk = 1 THEN cos END) AS cos1,
       |          MAX(CASE WHEN rk = 2 THEN cos END) AS cos2
       |        FROM rk WHERE rk <= 2 GROUP BY a_id)
       |SELECT a_id AS vec_a, b_id AS vec_b, cos1 AS cos6,
       |  (cos1 - COALESCE(cos2, -1.0)) AS margin6
       |FROM agg
       |WHERE cos1 >= $MarginCosMin
       |  AND (cos1 - COALESCE(cos2, -1.0)) >= $MarginMin
       |ORDER BY vec_a""".stripMargin
  }
}
