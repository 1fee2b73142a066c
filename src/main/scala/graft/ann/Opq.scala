package graft.ann

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** OPQ-style subspace rotation for product quantization (parametric
  * OPQ: PCA rotation + eigenvalue allocation — Ge et al., "Optimized
  * Product Quantization", CVPR 2013).
  *
  * Plain PQ splits vectors into subspaces by POSITION (dims 0–7, 8–15,
  * ...). When variance is concentrated — a handful of dominant
  * directions landing in one subspace — that subspace's 16 codewords
  * must cover a fat 8-D blob while the others quantize near-zero noise:
  * the code budget is misallocated. OPQ first rotates into the PCA
  * eigenbasis (decorrelating dimensions), then permutes eigen-dims so
  * each subspace receives a BALANCED share of the variance spectrum
  * (greedy product balancing over eigenvalues); each subspace's
  * codewords then quantize an effectively low-dimensional, equally-hard
  * cell. Rotation preserves dot products and norms, so the rotated
  * space serves the same cosine/ADC machinery ([[Ann.pqEncoded]],
  * [[Ann.adcTail]]) unchanged — encode rotated corpus, build LUTs from
  * rotated queries, and every downstream score is identical math.
  *
  * Like [[Ann.ivfFit]], this is a spec-gated FIT step, not an oracle
  * entry: the covariance reduction sums doubles in partition order, so
  * the fitted rotation is not bit-portable across engines — a
  * deployment feeds the rotation in as data (the apply side,
  * [[rotate]], is a fixed matrix multiply). The end-to-end entry is
  * [[embedAnnOpqPq]] (`embed_ann_opq_pq`, declared rows-only for the
  * same reason). AnnSpec pins: R is orthonormal and dot-preserving;
  * on planted anisotropic data the rotation strictly reduces PQ
  * quantization MSE vs the identity split AND strictly improves
  * end-to-end ADC recall (on UNIT-normalized planted vectors — the
  * ADC shortlist ranks by approximate dot, so recall against a cosine
  * ground truth is only meaningful when dot ≡ cosine, as in real
  * embedding corpora); on the (isotropic by construction) synthetic
  * corpus it does not hurt — mirroring the honest no-win note on
  * [[Ann.embedAnnIvfPqResidual]]: quantizer refinements need
  * concentrated variance to demonstrate wins, and the spec plants it.
  *
  * Scale (100 TB): the fit touches the corpus once — a mapPartitions
  * pass accumulating (n, Σx, Σxxᵀ) per partition (d=64: 33 KB of
  * state), reduced to one moment set; the 64×64 eigensolve is
  * driver-side O(d³) — microseconds, exactly where a tiny dense solve
  * belongs. The apply side is a per-row matrix multiply of d codegen'd
  * [[graft.functions.DotProduct]]s against broadcast literal rows — no
  * shuffle, no state; in production you fit on a sample, not the full
  * corpus (the moments of 1% of 100 TB estimate C as well as the
  * whole).
  */
object Opq {

  /** Raw moments of a (..., v: array<double>) frame: (n, Σx, Σxxᵀ
    * row-major). One pass, per-partition local accumulation, one
    * combine per partition boundary.
    */
  private[graft] def moments(vecs: DataFrame, d: Int): (Long, Array[Double], Array[Double]) = {
    val sp = vecs.sparkSession
    import sp.implicits._
    vecs.select(col("v").cast("array<double>"))
      .as[Seq[Double]]
      .mapPartitions { it =>
        var n = 0L
        val s = new Array[Double](d)
        val o = new Array[Double](d * d)
        it.foreach { row =>
          val x = row.toArray
          n += 1
          var i = 0
          while (i < d) {
            s(i) += x(i)
            var j = 0
            val base = i * d
            while (j < d) { o(base + j) += x(i) * x(j); j += 1 }
            i += 1
          }
        }
        Iterator.single((n, s, o))
      }
      .reduce { (a, b) =>
        val s = new Array[Double](d)
        val o = new Array[Double](d * d)
        var i = 0
        while (i < d) { s(i) = a._2(i) + b._2(i); i += 1 }
        i = 0
        while (i < d * d) { o(i) = a._3(i) + b._3(i); i += 1 }
        (a._1 + b._1, s, o)
      }
  }

  /** Covariance C = E[xxᵀ] − μμᵀ from raw moments. */
  private def covariance(n: Long, s: Array[Double], o: Array[Double],
                         d: Int): Array[Array[Double]] = {
    val c = Array.ofDim[Double](d, d)
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        c(i)(j) = o(i * d + j) / n - (s(i) / n) * (s(j) / n)
        j += 1
      }
      i += 1
    }
    c
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: returns
    * (eigenvalues, eigenvectors as COLUMNS). Deterministic; converges
    * quadratically — a handful of sweeps for d=64.
    */
  private[graft] def jacobiEigen(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (sweep < 64 && off > 1e-12) {
      off = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          off += 2 * a(p)(q) * a(p)(q)
          if (math.abs(a(p)(q)) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2 * a(p)(q))
            val t = math.signum(theta) /
              (math.abs(theta) + math.sqrt(theta * theta + 1.0)) match {
                case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
                case x   => x
              }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var k = 0
            while (k < d) {
              val akp = a(k)(p); val akq = a(k)(q)
              a(k)(p) = c * akp - s * akq
              a(k)(q) = s * akp + c * akq
              k += 1
            }
            k = 0
            while (k < d) {
              val apk = a(p)(k); val aqk = a(q)(k)
              a(p)(k) = c * apk - s * aqk
              a(q)(k) = s * apk + c * aqk
              val vkp = v(k)(p); val vkq = v(k)(q)
              v(k)(p) = c * vkp - s * vkq
              v(k)(q) = s * vkp + c * vkq
              k += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Greedy eigenvalue allocation (product balancing): eigen-dims
    * sorted by eigenvalue descending, each assigned to the subspace
    * with the smallest current log-eigenvalue-product among those with
    * remaining capacity — so every subspace ends with `subDim` dims
    * whose variance products are as equal as the spectrum allows.
    * Returns, per subspace in order, the eigen-dim indices it owns.
    */
  private[graft] def allocate(evals: Array[Double], subspaces: Int,
                              subDim: Int): Array[Array[Int]] = {
    val order = evals.indices.sortBy(i => -evals(i))
    val bins = Array.fill(subspaces)(List.empty[Int])
    val logProd = new Array[Double](subspaces)
    for (dim <- order) {
      val s = logProd.indices
        .filter(bins(_).size < subDim)
        .minBy(i => (logProd(i), i))
      bins(s) = dim :: bins(s)
      logProd(s) += math.log(math.max(evals(dim), 1e-300))
    }
    bins.map(_.reverse.toArray)
  }

  /** Fit the OPQ rotation for `vecs` (any frame with `v:
    * array<double>` of length `d`): rows of the returned matrix are the
    * eigenvectors of the covariance, ordered by the eigenvalue
    * allocation — `rotate(x)(s*subDim + r) = ⟨eigvec, x⟩` puts each
    * subspace's allocated eigen-dims contiguous. Orthonormal by
    * construction (Jacobi columns are an orthonormal basis).
    */
  def rotationFor(vecs: DataFrame, d: Int,
                  subspaces: Int = Ann.PqSubspaces): Array[Array[Double]] = {
    val (n, s, o) = moments(vecs, d)
    require(n > 0, "OPQ fit over an empty frame")
    val (evals, evecs) = jacobiEigen(covariance(n, s, o, d))
    val bins = allocate(evals, subspaces, d / subspaces)
    bins.flatten.map(dim => Array.tabulate(d)(r => evecs(r)(dim)))
  }

  /** Apply a rotation: `v` ↦ `R·v` as `d` codegen'd native dots against
    * the broadcast literal rows — per-row, no shuffle, whole-stage
    * codegen. All other columns pass through.
    */
  def rotate(vecs: DataFrame, r: Array[Array[Double]]): DataFrame = {
    val rotated = array(r.toIndexedSeq.map(row =>
      graft.functions.VectorFunctions.dot(col("v"), typedLit(row.toSeq))): _*)
    vecs.withColumn("v", rotated)
  }

  /** End-to-end rotated-PQ top-k over any (vec_id, v) frame laid out
    * like the embeddings table (vec_id < [[Ann.NumQueries]] are the
    * queries, the next [[Ann.PqCodes]] seed the codebook sample, the
    * rest is corpus): rotate EVERY vector by `r`, run the standard PQ
    * pipeline — codebook, L2-argmin encode, LUT, fixed-order ADC —
    * entirely in rotated space, then re-rank the shortlist by exact
    * cosine over the ORIGINAL vectors ([[Ann.adcTailWith]]), so output
    * scores stay comparable across every ANN variant. With the
    * identity rotation this IS [[Ann.embedAnnPq]]'s plan (AnnSpec pins
    * the equivalence); with a fitted rotation only the shortlist
    * quality changes.
    */
  private[graft] def pqTopKWith(eAll: DataFrame,
                                r: Array[Array[Double]]): DataFrame = {
    val rot = rotate(eAll, r)
    val sample = rot
      .filter(col("vec_id") >= Ann.NumQueries &&
        col("vec_id") < Ann.NumQueries + Ann.PqCodes)
      .select((col("vec_id") - Ann.NumQueries).as("k"), col("v"))
    val codebook = Ann.codebookFrom(sample)
    val encoded = Ann.pqEncodedWith(
      rot.filter(col("vec_id") >= Ann.NumQueries), codebook)
    val lut = Ann.pqLutWith(rot.filter(col("vec_id") < Ann.NumQueries),
      codebook)
    val parts = encoded
      .join(org.apache.spark.sql.functions.broadcast(lut),
        encoded("s") === lut("s") && encoded("code") === lut("k"))
      .select(col("q_id"), col("vec_id"), encoded("s"), col("part"))
    Ann.adcTailWith(parts, eAll)
  }

  /** Fitted rotation per corpus, memoized: the store read-back runs
    * once per (session, dir) — repeated calls (bench warmup + timed
    * pass, Verify) reuse the small driver-side matrix.
    */
  /** Store identity shared with `Ann.reapStaleStores`' keep-set. */
  private[graft] lazy val RotationStore = graft.storage.Materialize
    .StoreDef("graft_opq_rot", "embeddings",
      s"d=${Ann.PqSubspaces * Ann.PqSubDim}|m=${Ann.PqSubspaces}")

  /** The most recently fitted (or store-loaded) rotation — what
    * [[embedAnnOpqPqSql]] inlines as literals. Verify runs every query
    * BEFORE dumping oracle_sql.json, so by dump time this holds the
    * rotation of exactly the corpus the oracle will run against.
    */
  @volatile private var lastFitted: Option[Array[Array[Double]]] = None

  /** The fitted rotation as per-corpus warehouse parquet (r_idx, rv) —
    * the [[Ann.ivfFit]] lesson applied: the FIT is partition-order
    * double sums (not portable), but once persisted it is DATA, and
    * both engines consuming the same doubles makes the whole rotated
    * pipeline oracle-checkable. The Spark side reads the store back
    * rather than trusting its in-memory fit, so a store written by an
    * earlier JVM (different reduce order ⇒ possibly different last-ulp
    * moments) still agrees bit-for-bit with the oracle literals. Kept
    * in [[graft.storage.PlanStats]] under the store's inventory tag (not
    * the Tables value), so a regenerated corpus reads the store again
    * (ADVICE r8 discipline).
    */
  private def fittedRotation(t: graft.Tables): Array[Array[Double]] = {
    val tag = RotationStore.tag(t)
    graft.storage.PlanStats(tag) {
      val d = Ann.PqSubspaces * Ann.PqSubDim
      val store = graft.storage.Materialize.ensureParquet(
        t.spark, RotationStore.prefix, tag, {
          val e = t.embeddings.select(col("vec_id"),
            col("embedding").cast("array<double>").as("v"))
          val r = rotationFor(e.filter(col("vec_id") >= Ann.NumQueries), d)
          val sp = t.spark
          import sp.implicits._
          r.toIndexedSeq.zipWithIndex
            .map { case (row, i) => (i, row.toSeq) }.toDF("r_idx", "rv")
        })
      val m = store.collect() // 64 rows — a fit artifact, not a query path
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
        .sortBy(_._1).map(_._2)
      lastFitted = Some(m)
      m
    }
  }

  /** `embed_ann_opq_pq` — OPQ-rotated product-quantization ANN, the
    * production composition of [[rotationFor]] + the PQ machinery.
    * Oracle-green since r8: the rotation is persisted per corpus and
    * read back ([[fittedRotation]]), and the oracle inlines the same
    * doubles as literals — rotate, codebook, encode, LUT, ADC and the
    * original-space re-rank are then the already-portable PQ formulas.
    * AnnSpec additionally pins: identity-rotation ≡ embed_ann_pq
    * exactly; fitted rotation strictly beats identity recall on
    * planted anisotropic data; recall floor on the real corpus.
    */
  def embedAnnOpqPq(t: graft.Tables): DataFrame = {
    val e = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    pqTopKWith(e, fittedRotation(t))
  }

  /** DuckDB twin of [[embedAnnOpqPq]]: the last-fitted rotation as a
    * VALUES literal (Double.toString round-trips exactly; DuckDB
    * parses decimal to the same nearest double), a rotate CTE (one
    * list_dot_product per rotation row, re-assembled in r_idx order —
    * the same sequential-fold dot as the Spark side), then the shared
    * PQ CTE chain in rotated space with the exact re-rank joined back
    * to the UN-rotated `e0`. Falls back to the identity rotation if no
    * fit has run in this JVM (never the case in the Verify flow, which
    * runs every query before dumping oracle_sql.json).
    */
  def embedAnnOpqPqSql: String = {
    val d = Ann.PqSubspaces * Ann.PqSubDim
    val r = lastFitted.getOrElse(
      Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0))
    val rows = r.zipWithIndex.map { case (row, i) =>
      s"($i, [${row.map(_.toString).mkString(", ")}])"
    }.mkString(",\n  ")
    s"""WITH e0 AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |rotm(r_idx, rv) AS (VALUES
       |  $rows),
       |e AS (SELECT vec_id, list(dp ORDER BY r_idx) v FROM (
       |    SELECT e0.vec_id, r.r_idx, list_dot_product(e0.v, r.rv) dp
       |    FROM e0, rotm r) GROUP BY vec_id),
       |${Ann.pqCodeCtes},
       |parts AS (SELECT l.q_id, x.vec_id, x.s, l.part
       |          FROM enc x JOIN lut l ON l.s = x.s AND l.k = x.code),
       |${Ann.adcTailSqlWith(withBase = false, rerankRel = "e0")}""".stripMargin
  }

  /** Mean squared L2 quantization error of `vecs` under the standard
    * sample product quantizer (codewords = sub-vectors of the `k`
    * lowest-`vec_id` rows, the [[Ann.pqCodebook]] recipe): the scalar
    * OPQ minimizes, measured with the REAL encode criterion (L2
    * argmin). One ×codewords map-side expansion collapsed by partial
    * min — the [[Ann.pqEncoded]] shape.
    */
  def quantizationMse(vecs: DataFrame, k: Int = Ann.PqCodes): Double = {
    val sample = vecs.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id"), col("v"))
    val codewords = Ann.subVectors(sample)
      .select(col("s"), col("sub_v").as("c"))
    val subs = Ann.subVectors(vecs.select(col("vec_id"), col("v")))
    val d2 = graft.functions.VectorFunctions.dot(col("sub_v"), col("sub_v")) -
      lit(2.0) * graft.functions.VectorFunctions.dot(col("sub_v"), col("c")) +
      graft.functions.VectorFunctions.dot(col("c"), col("c"))
    subs.join(broadcast(codewords), Seq("s"))
      .select(col("vec_id"), col("s"), d2.as("d2"))
      .groupBy(col("vec_id"), col("s"))
      .agg(min(col("d2")).as("best"))
      .agg(avg(col("best")).as("mse"))
      .head().getDouble(0)
  }
}
