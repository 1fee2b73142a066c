package graft.dedup

import graft.Tables
import graft.functions.VectorFunctions
import graft.functions.Portable.{round6, round6Sql}
import graft.storage.Bucketing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family over the `documents` corpus — the
  * LLM-training-data operators a 100 TB pipeline runs before training.
  *
  * Every op is a declarative DataFrame plan with a bit-identical DuckDB
  * oracle. Portability rules (SURVEY §6): the only hash crossing the
  * oracle boundary is `md5` (identical hex in both engines);
  * "permutations" are min-over-md5-with-seed-prefix (lexicographic string
  * min is portable, unlike seeded integer minhash); ratios are rounded to
  * 6 dp after identical double formulas.
  *
  * Scale (100 TB): no op compares the corpus all-pairs. Candidate
  * generation is always a bucket join — by shingle (inverted index), by
  * LSH band key, by simhash chunk, by embedding sign bucket — so the
  * shuffle carries (bucket-key, doc_id) pairs and the quadratic work is
  * confined to each bucket. Documents' text never travels: every join
  * moves hashes and ids only.
  */
object Dedup {

  val ShingleSize = 3
  val NumPerms = 8   // minhash signature length
  val NumBands = 4   // 2 rows per band
  val SimhashBits = 48  // 12 md5 hex digits; stays positive in a BIGINT
  val SimhashChunks = 4 // pigeonhole: hamming<=1 pairs share >=3 chunks
  val SimhashChunkBits: Int = SimhashBits / SimhashChunks // 12 -> 4096-value chunks
  val HammingMax = 1
  val JaccardMin = 0.8
  val CosineMin = 0.35
  /** MINIMUM sign-LSH width for the embedding dedup family — the width
    * actually used at test scale factors (the adaptive ladder below
    * only widens past ~2k vectors). See [[EmbedBucketTarget]].
    */
  val EmbedBucketBits = 2

  /** Per-table dimension-slice width for the embedding dedup family:
    * each hash table owns [[EmbedBucketBitsMax]] dims and the ADAPTIVE
    * width reduces its full-slice bucket by right-shift, so widening
    * with corpus growth never re-slices tables. The r8 10× scale bench
    * measured fixed-width buckets at ~100× cost for 10× vectors
    * (dedup_embedding_mp 4.7s → 469s) — occupancy n/2^bits makes a
    * constant width quadratic; bits must track log2(n).
    */
  val EmbedBucketBitsMax = 8

  /** Target bucket occupancy: bits = clamp(minBits, maxBits,
    * floor(log2(n / target))) via the portable integer CASE ladder
    * ([[graft.functions.Portable.bucketBitsSql]]) — computed FROM THE
    * DATA identically in both engines, so the oracle stays exact at
    * every corpus size and no fit artifact or config needs shipping.
    */
  val EmbedBucketTarget = 256
  /** Max documents a shingle may appear in before it is treated as
    * boilerplate and dropped from [[dedupNgramJaccard]]'s index. Bounds
    * the posting-list self-join at O(cap²) per shingle: without it one
    * stop-shingle ("all rights reserved") shared by 1% of a 100 TB
    * corpus makes that key's join quadratic in corpus size.
    */
  val ShingleDocFreqCap = 100

  /** Max documents an LSH band key (minhash or simhash) may hold before
    * the key switches from clique to STAR candidate generation — the
    * band-join twin of [[ShingleDocFreqCap]]. A band key shared by B
    * docs emits B(B−1)/2 candidate pairs, so without the cap a
    * template-document flood (10M near-copies of one boilerplate page
    * in a 100 TB crawl) collides on every band and generates ~5×10¹³
    * pairs on a single key — O(B²) row GENERATION, which AQE
    * skew-splitting cannot undo. Keys at or under the cap keep the full
    * pair clique (O(cap²) per key); a FLOODED key instead pairs every
    * member with the key's MIN doc_id only — O(B) pairs — so the flood
    * still collapses toward one keeper through verify + clustering
    * instead of escaping dedup entirely (dropping the key outright, the
    * previous rule, retained every flood member: exactly the content
    * the cap exists for). Exact copies never reach this join at all —
    * candidate generation runs over [[keeperDocs]] (one representative
    * per md5(text) group), because exact duplicates are [[dedupExact]]'s
    * job and carrying them into LSH is pure waste. DedupSpec plants
    * both floods and pins bounded candidate counts AND the collapse;
    * the rule is part of the operator definition in BOTH engines, so
    * the DuckDB oracles carry it too.
    */
  val BandDocFreqCap = 100

  // ---------------------------------------------------------------- exact

  /** Exact dedup: group by md5(text), keeper = min doc_id. The shuffle
    * carries (hash, id) — never the text. O(n) at any scale.
    */
  def dedupExact(t: Tables): DataFrame =
    t.documents
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(count(lit(1)).as("n_copies"), min(col("doc_id")).as("keeper_id"))
      .orderBy(col("text_hash"))

  def dedupExactSql: String =
    """SELECT md5(text) AS text_hash, COUNT(*) AS n_copies,
      |  MIN(doc_id) AS keeper_id
      |FROM documents GROUP BY md5(text) ORDER BY text_hash""".stripMargin

  /** `documents` reduced to one representative per exact-duplicate
    * group ([[dedupExact]]'s keeper rule: min doc_id per md5(text)).
    * Candidate generation for every LSH family runs over THIS frame:
    * exact copies collide on every band by construction, so admitting
    * them to a band join plants exactly the quadratic flood
    * [[BandDocFreqCap]] exists to stop — and their dedup is already
    * complete after the O(n) exact pass. The shuffle here carries
    * (hash, id), never text.
    */
  private[graft] def keeperDocs(t: Tables): DataFrame =
    t.documents.join(keeperIdsMaterialized(t), Seq("doc_id"), "left_semi")

  /** The keeper doc_id list materialized once per corpus (tiny: one
    * BIGINT per distinct text). Every LIVE LSH plan re-derives
    * [[keeperDocs]] in several subtrees (Catalyst reuses exchanges, not
    * arbitrary subtrees), and in r7 each re-derivation re-ran the full
    * md5(text) groupBy — the source of the dedup_simhash /
    * dedup_minhash_verified bench regressions. With the id list on
    * warehouse parquet the reduction is paid once per corpus and each
    * subtree pays a semi-join on doc_id instead: auto-broadcast at
    * test sf, a plain (id, id) shuffle join at 100 TB where the list
    * is corpus-cardinality — still far cheaper than re-hashing the
    * text. No broadcast hint on purpose: let size decide.
    */
  private def keeperIdsMaterialized(t: Tables): DataFrame =
    graft.storage.Materialize.ensureStore(t, KeeperIdsStore,
      t.documents
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select(col("doc_id")))

  /** DuckDB twin of [[keeperDocs]] as CTEs: `kdocs` is the keeper-only
    * documents relation (same columns the shingle/simhash CTEs read).
    */
  private def keeperDocsCtes: String =
    """keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      |kdocs AS (SELECT d.doc_id, d.text FROM documents d
      |          JOIN keep k ON d.doc_id = k.doc_id)""".stripMargin

  // ------------------------------------------------------------- shingles

  /** Distinct word 3-shingles per doc — the unit of all shingle-based
    * dedup. Per-row transform (codegen'd higher-order functions), then a
    * distinct on (doc_id, shingle).
    */
  private def shingles(t: Tables): DataFrame = shinglesOf(t.documents)

  /** Keeper-only shingles — the shingle frame every LSH band path
    * builds on (see [[keeperDocs]]), derived live for the live entries;
    * the store-routed paths read [[corpusShingleStore]].
    */
  private def keeperShingles(t: Tables): DataFrame =
    shinglesOf(keeperDocs(t))

  private def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .where(size(col("ts")) >= ShingleSize)
      // native codegen'd shingling (graft.functions.WordShingles) —
      // byte-identical to the HOF form, keeps the projection inside
      // whole-stage codegen
      .select(col("doc_id"), explode(
        graft.functions.TextFunctions.shingles(col("ts"), ShingleSize)).as("s"))
      .distinct()

  /** DuckDB twin of [[shinglesOf]] as a CTE body over `docsRel`. */
  private def shinglesSqlOver(docsRel: String): String =
    s"""tok AS (SELECT doc_id, string_split(text, ' ') ts FROM $docsRel
       |        WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS s
       |       FROM tok, unnest(generate_series(1, len(ts) - 2)) t(i))""".stripMargin

  /** DuckDB twin of [[shingles]] as a CTE body. */
  private def shinglesSql: String = shinglesSqlOver("documents")

  // ------------------------------------------------------ ngram jaccard

  /** Exact shingle-Jaccard near-dup pairs via an inverted-index join:
    * shuffle (shingle, doc_id), count common shingles per candidate pair,
    * then the Jaccard formula over precomputed set sizes.
    *
    * The index is CAPPED: shingles appearing in more than
    * [[ShingleDocFreqCap]] documents are boilerplate (stop-phrases,
    * license headers) and are dropped from the shingle universe — from
    * the posting lists AND the per-doc set sizes, so the output is the
    * exact Jaccard of the capped sets (identical definition both
    * engines). This bounds the self-join at O(cap²) per shingle; the
    * quadratic work is confined to each posting list and the lists are
    * bounded, so the plan survives a corpus where one stop-shingle
    * covers 1% of 100 TB. Docs whose shingles are ALL boilerplate drop
    * out of the universe — correct: they share no distinctive content.
    *
    * 100 TB role: this is the exact SMALL-CORPUS tool (and the formula
    * donor for the verify stage); [[dedupMinhashVerified]] is the
    * production path at scale. Even capped, this op joins the ENTIRE
    * inverted index — every doc pays O(shingles) shuffle and every
    * co-occurring pair is scored — where verified-minhash touches full
    * shingle sets only for the vanishing fraction of docs LSH already
    * flagged. Recall relation (DedupSpec pins it at test sf): wherever
    * the cap does not bite a pair's shingles, capped Jaccard = full
    * Jaccard, so every verified-minhash pair also surfaces here —
    * `dedup_minhash_verified ⊆ dedup_ngram_jaccard` — and this op
    * additionally finds true pairs whose bands LSH happened to miss.
    */
  /** [[shingles]] minus boilerplate: shingles in more than `cap` docs
    * are dropped. The doc_freq aggregation and the semi join share the
    * (s) hash partitioning — one logical shuffle on the shingle key.
    */
  private[graft] def cappedShingles(t: Tables, cap: Int): DataFrame =
    cappedShinglesFrom(shingles(t), cap)

  private def cappedShinglesFrom(all: DataFrame, cap: Int): DataFrame = {
    val rare = all.groupBy(col("s")).agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") <= cap)
      .select(col("s"))
    all.join(rare, Seq("s"), "left_semi")
  }

  /** Candidate pairs + common-shingle counts from the capped inverted
    * index — the bounded-fan-out core of [[dedupNgramJaccard]], exposed
    * so DedupSpec can pin that a planted stop-shingle does not explode
    * the candidate count.
    */
  def ngramCandidates(t: Tables, cap: Int = ShingleDocFreqCap): DataFrame =
    ngramCandidatesFrom(cappedShingles(t, cap))

  private def ngramCandidatesFrom(sh: DataFrame): DataFrame = {
    sh.as("x")
      .join(sh.as("y"),
        col("x.s") === col("y.s") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("common"))
  }

  def dedupNgramJaccard(t: Tables, cap: Int = ShingleDocFreqCap): DataFrame =
    dedupNgramJaccardFrom(shingles(t), cap)

  /** [[dedupNgramJaccard]] over the MATERIALIZED shingle store (the
    * same `graft_shingles_*` table [[dedupMinhashVerifiedMat]] reads).
    * The live plan derives the tokenize + distinct shingle subtree
    * FOUR times from the raw table (doc-freq cap, both posting-list
    * self-join sides, set sizes — Catalyst reuses exchanges, not
    * arbitrary subtrees); this entry pays one columnar scan of the
    * store per consumer instead. Same oracle as the live entry —
    * DedupSpec pins result equality and no documents.parquet scan.
    */
  def dedupNgramJaccardMat(t: Tables): DataFrame =
    dedupNgramJaccardFrom(shinglesMaterialized(t), ShingleDocFreqCap)

  private def dedupNgramJaccardFrom(shAll: DataFrame, cap: Int): DataFrame = {
    val sh = cappedShinglesFrom(shAll, cap)
    scoredJaccard(ngramCandidatesFrom(sh), setSizes(sh))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Per-doc set sizes (doc_id, n) of a shingle frame. */
  private def setSizes(sh: DataFrame): DataFrame =
    sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))

  /** The scored Jaccard tail of every exact-Jaccard op: pair counts
    * (doc_a, doc_b, common, …) joined to both ends' set sizes `sz`,
    * scored round6(common / (n_a + n_b − common)) and cut at
    * [[JaccardMin]]. `keep` columns follow the score.
    */
  private def scoredJaccard(pairs: DataFrame, sz: DataFrame,
                            keep: Column*): DataFrame =
    pairs
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(Seq(col("doc_a"), col("doc_b"),
        round6(col("common").cast("double")
          / (col("sa.n") + col("sb.n") - col("common"))).as("jaccard"))
        ++ keep: _*)
      .filter(col("jaccard") >= JaccardMin)

  def dedupNgramJaccardSql: String =
    s"""WITH $shinglesSql,
       |shc AS (SELECT doc_id, s FROM sh WHERE s IN
       |          (SELECT s FROM sh GROUP BY s
       |           HAVING COUNT(*) <= $ShingleDocFreqCap)),
       |sz AS (SELECT doc_id, COUNT(*) n FROM shc GROUP BY doc_id),
       |pairs AS (SELECT x.doc_id doc_a, y.doc_id doc_b, COUNT(*) common
       |          FROM shc x JOIN shc y ON x.s = y.s AND x.doc_id < y.doc_id
       |          GROUP BY x.doc_id, y.doc_id)
       |SELECT doc_a, doc_b,
       |  ${round6Sql("common::DOUBLE / (sa.n + sb.n - common)")} AS jaccard
       |FROM pairs JOIN sz sa ON doc_a = sa.doc_id
       |           JOIN sz sb ON doc_b = sb.doc_id
       |WHERE ${round6Sql("common::DOUBLE / (sa.n + sb.n - common)")} >= $JaccardMin
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------- containment

  /** Containment threshold for [[dedupContainment]] and the minimum
    * capped-shingle count for a doc to participate: containment over a
    * 1-shingle doc is always 1.0 — meaningless — so both docs must
    * carry at least [[ContainmentMinShingles]] distinctive shingles.
    */
  val ContainmentMin = 0.9
  val ContainmentMinShingles = 5

  /** ASYMMETRIC near-dup pairs: containment = |A∩B| / min(|A|,|B|) —
    * the duplication mode symmetric Jaccard at 0.8 structurally
    * misses. A doc quoted verbatim inside a 10× larger doc has
    * Jaccard ≈ 0.1 (the union is dominated by the big doc) but
    * containment 1.0; in a training corpus this partial-inclusion
    * shape (quotes, syndicated snippets, aggregator pages) is the MOST
    * COMMON duplication mode, so a pipeline that only runs the
    * symmetric ops ships the duplicated text anyway.
    *
    * Candidate generation deliberately uses the capped INVERTED INDEX
    * ([[dedupNgramJaccard]]'s machinery), not minhash LSH: band keys
    * hash the doc's WHOLE signature, so a small doc buried in a large
    * one almost never shares a band — the posting-list join, which
    * fires on any single shared rare shingle, is the structure that
    * sees inclusion. Same O(cap²)-per-shingle bound; runs over the
    * materialized shingle store (the production layout — the verify
    * formula is the only new work).
    */
  def dedupContainment(t: Tables): DataFrame =
    dedupContainmentUnsorted(t)
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[dedupContainment]] without the presentation sort — the
    * composition form consumed by `corpus_admit` (the
    * [[minhashCandidates]] pattern: composed plans must not rely on
    * `EliminateSorts` to stay shuffle-clean).
    *
    * Reads the BUCKETED shingle store (r22): the containment gate's
    * inverted-index phase — doc-freq cap aggregation, rare-shingle
    * semi-join, posting-list self-join — all cluster on `s`, exactly
    * the store's bucket key, so over [[shinglesBucketed]] every one of
    * them is exchange-free (optimization guide §2.4 bucketed tables;
    * the `dedup_ngram_jaccard_bucketed` routing applied to the
    * containment formula). The unbucketed incremental store previously
    * used here re-expanded the capped-shingle subtree per consumer
    * side — 4 scans and 4 shingle-keyed exchanges in the admit plan.
    * Same rows, same oracle (store content ≡ live shingles).
    */
  def dedupContainmentUnsorted(t: Tables): DataFrame =
    dedupContainmentFrom(shinglesBucketed(t))

  private def dedupContainmentFrom(shAll: DataFrame): DataFrame = {
    val sh = cappedShinglesFrom(shAll, ShingleDocFreqCap)
    val sz = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= ContainmentMinShingles)
    ngramCandidatesFrom(sh)
      .join(sz.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sz.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        col("sa.n").as("n_a"), col("sb.n").as("n_b"),
        round6(col("common").cast("double")
          / least(col("sa.n"), col("sb.n"))).as("containment"))
      .filter(col("containment") >= ContainmentMin)
  }

  def dedupContainmentSql: String =
    s"""WITH $shinglesSql,
       |shc AS (SELECT doc_id, s FROM sh WHERE s IN
       |          (SELECT s FROM sh GROUP BY s
       |           HAVING COUNT(*) <= $ShingleDocFreqCap)),
       |sz AS (SELECT doc_id, COUNT(*) n FROM shc GROUP BY doc_id
       |       HAVING COUNT(*) >= $ContainmentMinShingles),
       |pairs AS (SELECT x.doc_id doc_a, y.doc_id doc_b, COUNT(*) common
       |          FROM shc x JOIN shc y ON x.s = y.s AND x.doc_id < y.doc_id
       |          GROUP BY x.doc_id, y.doc_id)
       |SELECT doc_a, doc_b, sa.n n_a, sb.n n_b,
       |  ${round6Sql("common::DOUBLE / LEAST(sa.n, sb.n)")} AS containment
       |FROM pairs JOIN sz sa ON doc_a = sa.doc_id
       |           JOIN sz sb ON doc_b = sb.doc_id
       |WHERE ${round6Sql("common::DOUBLE / LEAST(sa.n, sb.n)")} >= $ContainmentMin
       |ORDER BY doc_a, doc_b""".stripMargin

  // ----------------------------------------------------- decontamination

  /** The eval slice [[dedupDecontaminate]] screens: `source = src0`
    * plays the held-out benchmark; everything else is the training
    * corpus. At 100 TB the eval side is a benchmark suite (tiny); the
    * asymmetry is the point — see the directional threshold below.
    */
  val EvalSource = "src0"
  val ContaminationMin = 0.9

  /** Train/test DECONTAMINATION — the leakage check an LLM pipeline
    * runs before training: which held-out (eval) documents appear,
    * verbatim or nearly, inside any training document? The criterion is
    * DIRECTIONAL, unlike [[dedupContainment]]'s min-based one:
    * contamination = |eval ∩ train| / |eval| — the fraction of the EVAL
    * doc's distinctive shingles the training doc carries. A benchmark
    * question embedded in a big crawl page contaminates regardless of
    * how much else that page contains, and a train doc quoting only
    * half the eval doc does not (half the answer isn't the answer key).
    *
    * Same capped-inverted-index shape as the containment op: the
    * cross-slice posting join fires on any shared rare shingle, and the
    * doc-freq cap bounds the per-shingle fan-out. At 100 TB the eval
    * side is tiny (a benchmark suite), so the posting join is
    * effectively a semi-probe of the train index — the decision shape
    * this op exists for.
    */
  def dedupDecontaminate(t: Tables): DataFrame = {
    val sh = cappedShinglesFrom(shinglesMaterialized(t), ShingleDocFreqCap)
      .join(t.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
    val ev = sh.filter(col("source") === EvalSource)
      .select(col("doc_id").as("eval_doc"), col("s"))
    val tr = sh.filter(col("source") =!= EvalSource)
      .select(col("doc_id").as("train_doc"), col("s"))
    val nEval = ev.groupBy(col("eval_doc"))
      .agg(count(lit(1)).as("n_eval"))
      .filter(col("n_eval") >= ContainmentMinShingles)
    ev.join(tr, Seq("s"))
      .groupBy(col("eval_doc"), col("train_doc"))
      .agg(count(lit(1)).as("common"))
      .join(nEval, Seq("eval_doc"))
      .select(col("eval_doc"), col("train_doc"), col("n_eval"),
        round6(col("common").cast("double") / col("n_eval"))
          .as("contamination"))
      .filter(col("contamination") >= ContaminationMin)
      .orderBy(col("eval_doc"), col("train_doc"))
  }

  def dedupDecontaminateSql: String =
    s"""WITH $shinglesSql,
       |shc AS (SELECT sh.doc_id, sh.s, d.source FROM sh
       |        JOIN documents d ON d.doc_id = sh.doc_id
       |        WHERE sh.s IN (SELECT s FROM sh GROUP BY s
       |                       HAVING COUNT(*) <= $ShingleDocFreqCap)),
       |ev AS (SELECT doc_id eval_doc, s FROM shc WHERE source = '$EvalSource'),
       |tr AS (SELECT doc_id train_doc, s FROM shc WHERE source <> '$EvalSource'),
       |ne AS (SELECT eval_doc, COUNT(*) n_eval FROM ev GROUP BY eval_doc
       |       HAVING COUNT(*) >= $ContainmentMinShingles),
       |pairs AS (SELECT eval_doc, train_doc, COUNT(*) common
       |          FROM ev JOIN tr ON ev.s = tr.s
       |          GROUP BY eval_doc, train_doc)
       |SELECT eval_doc, train_doc, n_eval,
       |  ${round6Sql("common::DOUBLE / n_eval")} AS contamination
       |FROM pairs JOIN ne USING (eval_doc)
       |WHERE ${round6Sql("common::DOUBLE / n_eval")} >= $ContaminationMin
       |ORDER BY eval_doc, train_doc""".stripMargin

  /** Two-corpus decontamination — [[dedupDecontaminate]] generalized
    * from the source-column split to a SECOND CORPUS DIRECTORY, the
    * shape a real benchmark suite arrives in (VERDICT r8 #3): `evalT`
    * is its own `Tables` (its own dir, its own shingle store), and the
    * train-side index is built from `trainSh` alone. Two deliberate
    * index rules, both different from the single-corpus op and both
    * the right call when the eval side is external:
    *  - the shingle doc-freq CAP counts TRAIN docs only — the eval
    *    suite must not be able to push a train shingle over the cap
    *    (the corpus-side-only boundary rule of
    *    [[floodedShingleVocab]], applied cross-corpus);
    *  - eval shingles the train corpus never saw stay in `n_eval`
    *    (novel shingles are evidence of NON-contamination, exactly as
    *    in the streaming ContainmentGate).
    * At 100 TB the eval side is tiny: the posting join is a semi-probe
    * of the capped train index, never a train self-join.
    */
  def decontaminateAgainst(train: Tables, evalT: Tables): DataFrame =
    decontaminateFrom(
      shinglesMaterialized(train).select(col("doc_id"), col("s")),
      shinglesMaterialized(evalT).select(col("doc_id"), col("s")))

  private def decontaminateFrom(trainSh: DataFrame,
                                evalSh: DataFrame): DataFrame = {
    val flooded = trainSh.groupBy(col("s"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") > ShingleDocFreqCap)
      .select(col("s"))
    val tr = trainSh.join(flooded, Seq("s"), "left_anti")
      .select(col("doc_id").as("train_doc"), col("s"))
    val ev = evalSh.join(flooded, Seq("s"), "left_anti")
      .select(col("doc_id").as("eval_doc"), col("s"))
    val nEval = ev.groupBy(col("eval_doc"))
      .agg(count(lit(1)).as("n_eval"))
      .filter(col("n_eval") >= ContainmentMinShingles)
    ev.join(tr, Seq("s"))
      .groupBy(col("eval_doc"), col("train_doc"))
      .agg(count(lit(1)).as("common"))
      .join(nEval, Seq("eval_doc"))
      .select(col("eval_doc"), col("train_doc"), col("n_eval"),
        round6(col("common").cast("double") / col("n_eval"))
          .as("contamination"))
      .filter(col("contamination") >= ContaminationMin)
      .orderBy(col("eval_doc"), col("train_doc"))
  }

  /** The `source = [[EvalSource]]` slice written once per corpus as
    * its OWN on-disk corpus directory (`<root>/documents.parquet`, the
    * testdata layout) — what [[dedupDecontaminateDir]] probes, so the
    * external-directory plumbing is exercised by a driver-checkable
    * entry even though the driver mounts a single sf dir.
    */
  private[graft] lazy val EvalCorpusStore = graft.storage.Materialize
    .StoreDef("graft_eval_corpus", "documents", s"src=$EvalSource")

  private[graft] def evalCorpusDir(t: Tables): String = {
    val root = new org.apache.hadoop.fs.Path(
      t.spark.conf.get("spark.sql.warehouse.dir"),
      s"${EvalCorpusStore.prefix}_${EvalCorpusStore.tag(t)}")
    graft.storage.Materialize.ensureParquetAt(t.spark,
      new org.apache.hadoop.fs.Path(root, "documents.parquet"),
      t.documents.filter(col("source") === EvalSource))
    root.toString
  }

  /** [[decontaminateAgainst]] as a driver entry: the eval slice lives
    * in a real second directory ([[evalCorpusDir]]), the train side is
    * everything else, and the oracle recomputes the train-only cap +
    * novel-shingle rules over the single corpus — hash-exact, while
    * the Spark path runs genuine two-directory plumbing (two shingle
    * stores, cross-corpus posting probe).
    */
  def dedupDecontaminateDir(t: Tables): DataFrame = {
    val evalT = Tables(t.spark, evalCorpusDir(t))
    decontaminateFrom(
      shinglesMaterialized(t)
        .join(t.documents.select(col("doc_id"), col("source")), Seq("doc_id"))
        .filter(col("source") =!= EvalSource)
        .select(col("doc_id"), col("s")),
      shinglesMaterialized(evalT).select(col("doc_id"), col("s")))
  }

  def dedupDecontaminateDirSql: String =
    s"""WITH $shinglesSql,
       |shs AS (SELECT sh.doc_id, sh.s, d.source FROM sh
       |        JOIN documents d ON d.doc_id = sh.doc_id),
       |fl AS (SELECT s FROM shs WHERE source <> '$EvalSource'
       |       GROUP BY s HAVING COUNT(*) > $ShingleDocFreqCap),
       |tr AS (SELECT doc_id train_doc, s FROM shs
       |       WHERE source <> '$EvalSource'
       |         AND s NOT IN (SELECT s FROM fl)),
       |ev AS (SELECT doc_id eval_doc, s FROM shs
       |       WHERE source = '$EvalSource'
       |         AND s NOT IN (SELECT s FROM fl)),
       |ne AS (SELECT eval_doc, COUNT(*) n_eval FROM ev GROUP BY eval_doc
       |       HAVING COUNT(*) >= $ContainmentMinShingles),
       |pairs AS (SELECT eval_doc, train_doc, COUNT(*) common
       |          FROM ev JOIN tr ON ev.s = tr.s
       |          GROUP BY eval_doc, train_doc)
       |SELECT eval_doc, train_doc, n_eval,
       |  ${round6Sql("common::DOUBLE / n_eval")} AS contamination
       |FROM pairs JOIN ne USING (eval_doc)
       |WHERE ${round6Sql("common::DOUBLE / n_eval")} >= $ContaminationMin
       |ORDER BY eval_doc, train_doc""".stripMargin

  // -------------------------------------------------- boilerplate frac

  /** Per-document BOILERPLATE fraction — the diagnostic the shingle
    * doc-freq cap acts on, surfaced per doc: of a doc's distinct
    * shingles, what fraction appear in at least [[BoilerplateMinDocs]]
    * documents corpus-wide? High-fraction docs are templates, license
    * pages, navigation chrome — the text a pipeline strips or
    * down-weights BEFORE near-dup detection (and the reason the
    * inverted-index and band joins need their frequency caps at all).
    *
    * Plan shape: the shingle doc-freq aggregation [[dedupNgramJaccard]]
    * already pays, then a per-doc mean of an indicator — shuffles carry
    * (shingle, doc_id) then (doc_id, counts); text never travels. Docs
    * with no shingles (< [[ShingleSize]] tokens) drop out, same rule
    * both engines.
    */
  val BoilerplateMinDocs = 2

  def docBoilerplateFrac(t: Tables): DataFrame = {
    val sh = shingles(t)
    val freq = sh.groupBy(col("s")).agg(count(lit(1)).as("doc_freq"))
    sh.join(freq, Seq("s"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("doc_freq") >= BoilerplateMinDocs, 1L).otherwise(0L))
          .as("n_shared"))
      .select(col("doc_id"), col("n_shingles"), col("n_shared"),
        round6(col("n_shared").cast("double") / col("n_shingles"))
          .as("boilerplate_frac"))
      .orderBy(col("doc_id"))
  }

  def docBoilerplateFracSql: String =
    s"""WITH $shinglesSql,
       |freq AS (SELECT s, COUNT(*) doc_freq FROM sh GROUP BY s),
       |agg AS (SELECT doc_id, COUNT(*) n_shingles,
       |          SUM(CASE WHEN doc_freq >= $BoilerplateMinDocs
       |                   THEN 1 ELSE 0 END)::BIGINT n_shared
       |        FROM sh JOIN freq USING (s) GROUP BY doc_id)
       |SELECT doc_id, n_shingles, n_shared,
       |  ${round6Sql("n_shared::DOUBLE / n_shingles")} AS boilerplate_frac
       |FROM agg ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------------- minhash

  /** MinHash + LSH candidate pairs. Signature = 8 portable "permutations"
    * (min over md5 with a seed prefix — lexicographic min of hex strings,
    * identical in every engine), banded 4 × 2; candidates are docs
    * sharing any band key. The shuffles carry (doc_id, shingle-hash) then
    * (band-key, doc_id): at 100 TB the O(n²) comparison never happens —
    * only same-band collisions meet, and a downstream Jaccard verify
    * ([[dedupNgramJaccard]]'s formula) runs per candidate pair.
    *
    * Flood protection (both engines' definitions): candidates are
    * generated over [[keeperDocs]] — exact copies never reach the band
    * join — and band keys holding more than [[BandDocFreqCap]] docs are
    * dropped before the self-join, so per-key work is O(cap²) no matter
    * how many near-copies of a template document the corpus holds.
    */
  def dedupMinhash(t: Tables): DataFrame =
    minhashCandidates(t).orderBy(col("doc_a"), col("doc_b"))

  /** [[dedupMinhash]] without the output sort — the distinct candidate
    * pair set, for composition (corpus_clean_neardup, the verified-pair
    * op) where a mid-plan global sort would be waste. `bandCap` is
    * exposed so DedupSpec can pin the planted-flood blowup the default
    * cap prevents.
    */
  def minhashCandidates(t: Tables,
                        bandCap: Int = BandDocFreqCap): DataFrame =
    minhashCandidatesFrom(keeperShingles(t), bandCap)

  /** (doc_id, band_idx, band_key) over a shingle frame — the LSH band
    * table behind the self-join, exposed for stream-static composition
    * (streaming.Jobs.CorpusNearDupGate probes it with live docs).
    */
  private[graft] def bandsFrom(sh: DataFrame): DataFrame = {
    // min(md5-hex) plans as a SortAggregate pair (string buffers are
    // not UnsafeRow-mutable) — KEPT after an r22 experiment replaced
    // it with a hash-aggregatable two-long pair-min (projection-parsed
    // hi/lo + DeclarativeAggregate): the hash plan measured SLOWER on
    // every live consumer (dedup_minhash 0.87×, dedup_minhash_verified
    // 0.82×, flat controls; the band frame alone 0.98 → 1.14 s median)
    // because the shingle stores arrive nearly doc-clustered, making
    // the sorts cheap runs while the hash map pays 16 long buffer
    // columns per group. The optimization guide's §1.1 warning — the
    // "ideal" plan lost to the measured one — so the sorts stay; see
    // OPTIMIZATION_r22.md for the full A/B.
    val sigCols = (0 until NumPerms).map(p =>
      min(md5(concat(lit(s"$p:"), col("s")))).as(s"h$p"))
    val sig = sh.groupBy(col("doc_id"))
      .agg(sigCols.head, sigCols.tail: _*)
    val bandStructs = (0 until NumBands).map(b =>
      struct(lit(b).as("band_idx"),
        md5(concat(col(s"h${2 * b}"), lit("|"), col(s"h${2 * b + 1}")))
          .as("band_key")))
    sig
      .select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band_idx"), col("bk.band_key"))
  }

  /** [[bandsFrom]] over the keeper-routed shingle store
    * ([[corpusShingleStore]]), reduced
    * to the rows the streaming intake gate probes — the corpus side of
    * the stream-static band join. Keys at or under [[BandDocFreqCap]]
    * keep every row; a FLOODED key keeps only its min-doc row, so an
    * arriving flood member matches exactly the keeper the batch star
    * pairs it with ([[bandCandidatePairs]]) — gate ≡ batch parity by
    * construction. Boundary note (documented, intentional): frequencies
    * are counted over the CORPUS side only, so a genuinely NEW intake
    * doc probing a key held by exactly cap corpus docs joins all cap of
    * them, where a batch over corpus+doc would count cap+1 and star-route
    * the key. One spurious clique probe at the boundary, never O(B²):
    * the static side itself is always capped at cap rows per key.
    */
  private[graft] def corpusBands(t: Tables): DataFrame = {
    val s = bandStats(bandsFrom(corpusShingleStore(t)), Nil)
    s.filter(col("f") <= BandDocFreqCap || col("doc_id") === col("m.doc_id"))
      .select(col("doc_id"), col("band_idx"), col("band_key"))
  }

  /** Per-row band statistics: `f` = docs holding this (band_idx,
    * band_key), `m` = the key's min row as a struct of (doc_id ±
    * payload columns). ONE window over the band-key partitioning —
    * cheaper than the aggregate + semi-join pair it replaces, and
    * exchange-free over a store bucketed on exactly these keys.
    */
  private def bandStats(bands: DataFrame, payload: Seq[String]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("band_key"))
    bands
      .withColumn("f", count(lit(1)).over(w))
      .withColumn("m",
        min(struct((col("doc_id") +: payload.map(col)): _*)).over(w))
  }

  /** Candidate pairs from a band table under the flood rule ([[
    * BandDocFreqCap]] scaladoc): keys with at most `cap` docs emit the
    * full clique (x.doc_id < y.doc_id); flooded keys emit STAR pairs
    * (key-min doc, member) only — O(B) rows, and the flood still
    * collapses toward one keeper downstream. `payload` columns ride
    * along as `<p>_a`/`<p>_b` (simhash needs both signatures for the
    * hamming check). Output is distinct.
    */
  private def bandCandidatePairs(bands: DataFrame, cap: Int,
                                 payload: Seq[String] = Nil): DataFrame = {
    def pairCols(a: String => Column, b: String => Column) =
      a("doc_id").as("doc_a") +: b("doc_id").as("doc_b") +:
        payload.flatMap(p => Seq(a(p).as(s"${p}_a"), b(p).as(s"${p}_b")))
    if (cap == Int.MaxValue) {
      // uncapped escape hatch (DedupSpec demonstrates the blowup)
      bands.as("x")
        .join(bands.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(pairCols(c => col(s"x.$c"), c => col(s"y.$c")): _*)
        .distinct()
    } else {
      val s = bandStats(bands, payload)
      val small = s.filter(col("f") <= cap)
      val clique = small.as("x")
        .join(small.as("y"),
          col("x.band_idx") === col("y.band_idx") &&
            col("x.band_key") === col("y.band_key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(pairCols(c => col(s"x.$c"), c => col(s"y.$c")): _*)
      val star = s
        .filter(col("f") > cap && col("doc_id") =!= col("m.doc_id"))
        .select(pairCols(c => col(s"m.$c"), c => col(c)): _*)
      clique.union(star).distinct()
    }
  }

  private def minhashCandidatesFrom(
      sh: DataFrame, bandCap: Int = BandDocFreqCap): DataFrame =
    bandCandidatePairs(bandsFrom(sh), bandCap)

  /** THE scalable near-dup pipeline: minhash-LSH candidate generation,
    * then EXACT Jaccard computed only on candidate pairs. The global
    * posting-list join of [[dedupNgramJaccard]] disappears — shingle
    * sets are semi-joined down to candidate docs (a vanishing fraction
    * of a 100 TB corpus), so the verify stage's shuffles carry only
    * candidate-doc (doc_id, shingle) pairs and each aggregation group
    * is one candidate pair. Jaccard here is over the FULL shingle sets
    * (no doc-freq cap needed: no posting-list join exists to protect).
    *
    * Output: candidate pairs whose true Jaccard clears [[JaccardMin]] —
    * the production near-dup pair list; recall is bounded by LSH
    * (DedupSpec pins candidates ⊇ true high-jaccard pairs at test sf).
    */
  def dedupMinhashVerified(t: Tables): DataFrame = {
    val sh = keeperShingles(t)
    verifiedPairsFrom(sh, minhashCandidatesFrom(sh), Nil)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** [[dedupMinhashVerified]] over a MATERIALIZED shingle table: the
    * tokenize + distinct pass is written to warehouse parquet once per
    * corpus (the storage-amortization pattern of `storage.Bucketing`'s
    * q3 facts) and every downstream consumer — signatures, sizes, both
    * verify sides — reads the materialized store instead of re-scanning
    * and re-tokenizing `documents`. The live plan re-derives the
    * shingle subtree ~6× from the raw table (Catalyst does not reuse
    * non-exchange subtrees across joins); at 100 TB those are ~6 full
    * tokenization passes this entry does not pay. Same oracle as the
    * live entry — DedupSpec pins result equality and that the
    * materialized plan never touches documents.parquet.
    */
  def dedupMinhashVerifiedMat(t: Tables): DataFrame =
    verifiedPairsUnsorted(t).orderBy(col("doc_a"), col("doc_b"))

  /** Pair-degree above which a candidate doc is a WHALE in the verify
    * stage. Star routing makes whales STRUCTURAL, not accidental: a
    * flooded band key pairs every member with ONE keeper
    * ([[bandCandidatePairs]]), so that keeper's pair degree equals the
    * flood size. At 100 TB a 10M-near-copy template makes its keeper a
    * doc in ~10M candidate pairs, and the verify join — keyed on the
    * pair's doc id — lands ALL of them, times the keeper's shingle
    * count, in a single task (~10M × 10k rows). AQE skew-split cannot
    * save it: the blowup happens inside the task as join fan-out, not
    * as oversized shuffle input.
    */
  val WhaleDegree = 32

  /** Salt fan-out for whale docs in [[verifiedPairsSaltedFrom]]: a
    * whale's verify work spreads across this many tasks. Local-scale
    * value; at 100 TB size it so (flood / salts) × shingles rows fit a
    * task comfortably (thousands).
    */
  val VerifySalts = 8

  /** [[dedupMinhashVerified]] with WHALE-SALTED verify joins — the
    * at-scale twin of the verified entry, identical rows (same oracle:
    * salting is engine-internal). Docs whose candidate-pair degree
    * exceeds `whaleDegree` get their shingle rows replicated across
    * `salts` salt values, and each pair probes the single salt chosen
    * by hashing its PARTNER doc id — so a flood keeper's pairs scatter
    * uniformly over `salts` tasks instead of one, while non-whale docs
    * pay nothing (salt 0 both sides, no replication). The whale list is
    * tiny by construction (degree > cap only happens through star
    * routing or dense true-dup neighborhoods) and broadcasts.
    */
  def dedupMinhashVerifiedSalted(t: Tables): DataFrame =
    // candidates from the bucketed band store and shingles from the
    // incremental store — the [[verifiedPairsUnsorted]] routing note;
    // the whale/salt machinery downstream is unchanged
    verifiedPairsSaltedFrom(shinglesMaterialized(t),
      candOpt = Some(dedupMinhashBucketedUnsorted(t)))
      .orderBy(col("doc_a"), col("doc_b"))

  /** The salted verify's internal frames, exposed for the plan/row
    * pins: the broadcastable whale list, the salt-replicated shingle
    * side, the salt-routed pair side, and the per-doc set sizes.
    */
  private[graft] case class SaltedVerifyFrames(
      whales: DataFrame, sh: DataFrame, shS: DataFrame,
      candS: DataFrame, sz: DataFrame)

  private[graft] def saltedVerifyFrames(
      shAll: DataFrame,
      whaleDegree: Int = WhaleDegree,
      salts: Int = VerifySalts,
      candOpt: Option[DataFrame] = None): SaltedVerifyFrames = {
    val cand = candOpt.getOrElse(minhashCandidatesFrom(shAll))
    // ONE degree aggregation serves both consumers: candDocs is its
    // projection and the whale list its filter, so the exchange under
    // it is planned once and reused — the r20 plan derived the pair
    // endpoints twice (a distinct AND a count aggregation over
    // separate exchanges of the same union)
    val deg = pairEnds(cand).groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
    val whales = deg
      .filter(col("deg") > whaleDegree)
      .select(col("doc_id"), lit(true).as("w"))
    val (sh, sz) = candidateShingles(shAll, deg.select(col("doc_id")))
    // whale shingle rows exist once per salt; everyone else salt 0 only
    val shS = sh
      .join(broadcast(whales), Seq("doc_id"), "left")
      .select(col("doc_id"), col("s"),
        explode(when(col("w").isNotNull, sequence(lit(0), lit(salts - 1)))
          .otherwise(array(lit(0)))).as("salt"))
    // a pair probes exactly ONE salt per side, chosen by the partner id:
    // deterministic, uniform over a whale's pairs, engine-internal
    // (Murmur3 hash never crosses the oracle boundary — only row
    // placement depends on it, never row values)
    val candS = cand
      .join(broadcast(whales.select(col("doc_id").as("doc_a"),
        col("w").as("wa"))), Seq("doc_a"), "left")
      .join(broadcast(whales.select(col("doc_id").as("doc_b"),
        col("w").as("wb"))), Seq("doc_b"), "left")
      .select(col("doc_a"), col("doc_b"),
        when(col("wa").isNotNull, pmod(hash(col("doc_b")), lit(salts)))
          .otherwise(lit(0)).as("salt_a"),
        when(col("wb").isNotNull, pmod(hash(col("doc_a")), lit(salts)))
          .otherwise(lit(0)).as("salt_b"))
    SaltedVerifyFrames(whales, sh, shS, candS, sz)
  }

  private[graft] def verifiedPairsSaltedFrom(
      shAll: DataFrame,
      whaleDegree: Int = WhaleDegree,
      salts: Int = VerifySalts,
      candOpt: Option[DataFrame] = None): DataFrame = {
    val f = saltedVerifyFrames(shAll, whaleDegree, salts, candOpt)
    verifyJoin(f.candS, f.shS, f.sz, salted = true, Nil)
  }

  /** The endpoint docs of a (doc_a, doc_b) pair frame, one row per end. */
  private def pairEnds(cand: DataFrame): DataFrame =
    cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id")))

  /** The candidate docs' shingle rows and set sizes; the semi-join is
    * the keeper routing whenever the candidates are keeper pairs.
    */
  private def candidateShingles(shAll: DataFrame,
                                candDocs: DataFrame): (DataFrame, DataFrame) = {
    val sh = shAll.join(candDocs, Seq("doc_id"), "left_semi")
    (sh, setSizes(sh))
  }

  /** THE verify join of every verified-pair op: each candidate pair
    * meets its two docs' shingle rows, the shared shingles are counted
    * per pair (with `aggs` in the same pass), and the count is scored
    * ([[scoredJaccard]], `keep` riding along). `salted` adds the salt
    * to both join keys: [[saltedVerifyFrames]] routes whales, the join
    * itself is this one.
    */
  private def verifyJoin(cand: DataFrame, sh: DataFrame, sz: DataFrame,
                         salted: Boolean, aggs: Seq[Column],
                         keep: Column*): DataFrame = {
    def on(end: String, side: String): Column = {
      val doc = col(s"doc_$end") === col(s"$side.doc_id")
      if (salted) doc && col(s"salt_$end") === col(s"$side.salt") else doc
    }
    scoredJaccard(cand
      .join(sh.as("x"), on("a", "x"))
      .join(sh.as("y"), on("b", "y") && col("x.s") === col("y.s"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"), aggs: _*), sz, keep: _*)
  }

  /** Verified pairs WITHOUT the output sort — the near-dup edge list,
    * for composition ([[nearDupClusters]]) where a mid-plan global
    * sort would be waste: candidates `cand` over the shingle frame
    * `shAll`, through the one verify join.
    */
  private def verifiedPairsFrom(shAll: DataFrame, cand: DataFrame,
                                aggs: Seq[Column], keep: Column*): DataFrame = {
    val (sh, sz) = candidateShingles(shAll, pairEnds(cand).distinct())
    verifyJoin(cand, sh, sz, salted = false, aggs, keep: _*)
  }

  /** Ensure-write [[shingles]] to a per-corpus warehouse store, read
    * it back. First call pays the tokenize + distinct + write; every
    * later call (any entry, same session or later ones sharing the
    * warehouse) is a plain columnar scan.
    *
    * INCREMENTAL (r18, closes VERDICT r16 #1): shingling is
    * per-doc-pure — each (doc_id, s) row derives from exactly one
    * `documents` row, and the per-doc `.distinct()` keys on doc_id —
    * so corpus GROWTH re-tokenizes only the NEW part-files
    * (`Materialize.ensureIncremental`'s growth generation) instead of
    * the whole corpus. At 100 TB that turns the per-intake-batch store
    * cost from O(corpus) to O(arrivals). A rewrite of existing files
    * re-bases; MaterializeSpec pins appended ≡ from-scratch, the
    * new-files-only scan, and the re-base. The per-doc `.distinct()`
    * stays per-file-pure because doc_id never recurs across part-files
    * — the corpus primary key `Tables.validateDocuments` enforces
    * (ADVICE r18; see Materialize.ensureIncremental's invariant note).
    */
  private def shinglesMaterialized(t: Tables): DataFrame =
    graft.storage.Materialize.ensureIncremental(t, ShinglesStore, shinglesOf)

  /** [[keeperShingles]] over the stores: [[shinglesMaterialized]]
    * semi-joined on the keeper id store, for the band stores, the
    * stream-static verify joins (streaming.Jobs.ClusterAssignStream)
    * and the prefix-corpus delta. Tokenization is paid once per part
    * file, the md5 keeper reduction once per corpus, and no
    * documents.parquet scan is left at query time.
    */
  private[graft] def corpusShingleStore(t: Tables): DataFrame =
    shinglesMaterialized(t).join(keeperIdsMaterialized(t), Seq("doc_id"),
      "left_semi")

  /** The corpus side of the STREAMING containment gate
    * (streaming.Jobs.ContainmentGate): the capped posting list over the
    * FULL shingle store ([[dedupContainment]]'s index — containment
    * compares all docs, not keepers) with each corpus doc's capped
    * shingle count attached. (s, corpus_doc, n_b); only docs carrying
    * at least [[ContainmentMinShingles]] capped shingles participate,
    * same rule as the batch op.
    */
  private[graft] def containmentCorpusPosting(t: Tables): DataFrame = {
    val sh = cappedShinglesFrom(shinglesMaterialized(t), ShingleDocFreqCap)
    val sz = sh.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_b"))
      .filter(col("n_b") >= ContainmentMinShingles)
    sh.join(sz, Seq("doc_id"))
      .select(col("s"), col("doc_id").as("corpus_doc"), col("n_b"))
  }

  /** [[containmentCorpusPosting]] re-aggregated per corpus doc:
    * (corpus_doc, n_b, hs) with `hs` the doc's capped shingle set as
    * 64-bit xxhash64 values — the static side of the PER-ROW common
    * count in streaming.Jobs.IntakeSamplerStream (an arriving doc's
    * own hash array `array_intersect`s each matched corpus doc's set,
    * so the composed intake query needs no per-(doc, corpus_doc)
    * state). Row width is bounded by the doc's capped shingle count;
    * the table is corpus-doc-partitioned columnar like every store.
    */
  private[graft] def containmentCorpusDocSets(t: Tables): DataFrame =
    containmentCorpusPosting(t)
      .groupBy(col("corpus_doc"), col("n_b"))
      .agg(collect_list(xxhash64(col("s"))).as("hs"))

  /** Shingles the corpus holds in MORE than [[ShingleDocFreqCap]] docs —
    * the boilerplate vocabulary an arriving doc's shingles are checked
    * against ([[containmentCorpusPosting]]'s complement). Small by
    * construction: a shingle enters only by appearing in >cap docs, so
    * the list is bounded by corpus-shingle-mass / cap. Boundary note
    * (same rule as [[corpusBands]], documented there): frequencies count
    * the CORPUS side only, so a new intake doc's own occurrence never
    * pushes a shingle over the cap — one-doc drift at exactly freq=cap,
    * never unbounded.
    */
  private[graft] def floodedShingleVocab(t: Tables): DataFrame =
    shinglesMaterialized(t).groupBy(col("s"))
      .agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") > ShingleDocFreqCap)
      .select(col("s"))

  /** Buckets for the shingle / band stores. Local-scale value; at
    * 100 TB size so one bucket's posting lists fit an executor
    * (thousands — the write repartitions by the bucket key anyway).
    */
  val DedupStoreBuckets = 8

  /** Warehouse store identities — ONE constant per store, consumed by
    * BOTH the ensure-write site and [[reapStaleStores]]' keep-set
    * (ADVICE r8: hand-duplicated (prefix, config) strings meant a
    * retag that updated only one side made reap treat the live store
    * as stale and delete it). `lazy` so declaration order relative to
    * the tuning constants can never bite.
    */
  private[graft] lazy val KeeperIdsStore = graft.storage.Materialize
    .StoreDef("graft_keeper_ids", "documents", "keep-ids")
  private[graft] lazy val ShinglesStore = graft.storage.Materialize
    .StoreDef("graft_shingles", "documents", s"sh=$ShingleSize")
  private[graft] lazy val SimhashStore = graft.storage.Materialize
    .StoreDef("graft_simhash", "documents", s"bits=$SimhashBits|keep")
  private[graft] lazy val ShinglesBucketedStore = graft.storage.Materialize
    .StoreDef("graft_shingles_b", "documents",
      s"sh=$ShingleSize|b=$DedupStoreBuckets|${Bucketing.Layout}")
  private[graft] lazy val BandsBucketedStore = graft.storage.Materialize
    .StoreDef("graft_bands_b", "documents",
      s"sh=$ShingleSize|p=$NumPerms|nb=$NumBands|b=$DedupStoreBuckets|keep|" +
        Bucketing.Layout)

  /** The incremental shingle store rewritten BUCKETED by the shingle
    * string — the storage layout the inverted-index consumers want:
    * the doc-freq cap aggregation, the rare-shingle semi-join, and the
    * posting-list self-join all cluster on `s`, so over this store
    * every one of them runs with ZERO exchange (DedupSpec pins it).
    * The one shuffle the live plan pays per consumer is paid once, at
    * write, and amortized across every later query on the corpus —
    * the `storage.Bucketing` q3 pattern applied to the dedup path. The
    * rewrite reads the incremental store, so a landing tokenizes only
    * its own part files.
    */
  private def shinglesBucketed(t: Tables): DataFrame =
    // repartition on the bucket key before the bucketed write:
    // repartition and bucketBy share the Murmur3 hash, so each task
    // holds exactly one bucket's rows → ONE file per bucket, which is
    // the layout Spark trusts sortBy metadata for (multi-file buckets
    // re-sort at read)
    graft.storage.Materialize.ensureStore(t, ShinglesBucketedStore,
      shinglesMaterialized(t).repartition(DedupStoreBuckets, col("s")),
      bucketing = Some(Bucketing.spec(DedupStoreBuckets, "s")))

  /** [[dedupNgramJaccard]] over the BUCKETED shingle store: identical
    * rows (same oracle SQL), but the inverted-index phase — doc-freq
    * cap, semi-join, posting-list self-join — is exchange-free; the
    * only shuffles left are the per-pair and per-doc aggregations whose
    * keys genuinely differ from the storage key.
    */
  def dedupNgramJaccardBucketed(t: Tables): DataFrame =
    dedupNgramJaccardFrom(shinglesBucketed(t), ShingleDocFreqCap)

  /** The LSH band table as a store BUCKETED by
    * (band_idx, band_key) — exactly [[minhashCandidatesFrom]]'s
    * self-join clustering, so candidate generation over the store is
    * exchange-free (DedupSpec pins it). Bucketing on the full key pair
    * rather than band_key alone matters operationally: a subset-key
    * bucketing would still satisfy the join's distribution, but
    * Spark's DisableUnnecessaryBucketedScan heuristic only recognizes
    * exact-requirement bucketings and silently falls back to a
    * shuffled scan. The signature aggregation (one shuffle on doc_id)
    * is paid once at write; band recomputation — re-thresholding, the
    * streaming intake gate, the cluster loop's edge derivation — reads
    * 3 hashed columns. Built over [[corpusShingleStore]], so no
    * landing re-tokenizes the corpus for it.
    */
  private[graft] def bandsBucketed(t: Tables): DataFrame =
    graft.storage.Materialize.ensureStore(t, BandsBucketedStore,
      bandsFrom(corpusShingleStore(t))
        .repartition(DedupStoreBuckets, col("band_idx"), col("band_key")),
      bucketing = Some(Bucketing.spec(DedupStoreBuckets, "band_idx",
        "band_key")))

  /** [[dedupMinhash]] with candidates generated over the bucketed band
    * store — exchange-free self-join; same oracle as the live entry.
    * The [[BandDocFreqCap]] flood rule runs over the store too, and
    * stays exchange-free: the store is bucketed on exactly the
    * (band_idx, band_key) the stats window and clique join cluster on.
    */
  def dedupMinhashBucketed(t: Tables): DataFrame =
    dedupMinhashBucketedUnsorted(t)
      .orderBy(col("doc_a"), col("doc_b"))

  /** [[dedupMinhashBucketed]] without the presentation sort — the
    * composition form consumed by `corpus_admit` (the
    * [[minhashCandidates]] pattern: composed plans must not rely on
    * `EliminateSorts` to stay shuffle-clean).
    */
  def dedupMinhashBucketedUnsorted(t: Tables): DataFrame =
    bandCandidatePairs(bandsBucketed(t), BandDocFreqCap)

  /** Reap dedup warehouse stores orphaned by tag churn (ADVICE r7: the
    * r8 `|keep` retag left the pre-keeper `graft_shingles_keep` /
    * `graft_simhash` / `graft_bands_b` copies unreachable on disk).
    * Every store, bucketed ones included, is a warehouse dir reaped by
    * [[graft.storage.Materialize.reapStale]], whichever JVM wrote it.
    * Returns reaped names. Run after consumers drain, never on the
    * query path.
    *
    * Keep-set = the live tags of `t` AND every corpus in `alsoKeep` —
    * a warehouse shared by several corpora (parallel suites, multiple
    * sf dirs) reaps safely by enumerating them all (ADVICE r8: the
    * single-Tables form deleted the OTHER corpora's live caches).
    * Store identities come from the shared [[KeeperIdsStore]]-family
    * constants, the same values the ensure-write sites consume.
    * Mixing's LM-score store reaps here too (one operational sweep
    * for the documents-derived stores); Ann's embedding stores have
    * their own twin ([[graft.ann.Ann.reapStaleStores]]).
    */
  def reapStaleStores(t: Tables, alsoKeep: Seq[Tables] = Nil): Seq[String] = {
    import graft.storage.Materialize
    val corpora = t +: alsoKeep
    // ShinglesStore and Substring.WindowsStore moved to the INCREMENTAL
    // protocol in r18: their live data lives under `<prefix>_gens_<tag>`
    // roots (reaped below with stable-tag keep-sets) and any classic
    // `<prefix>_<tag>` dir left by a pre-r18 binary is unreadable
    // garbage — reaped unconditionally (empty keep-set), as is every
    // `graft_shingles_keep` dir of the retired keeper shingle store.
    val parquetStores = Seq(KeeperIdsStore -> true, ShinglesStore -> false,
      SimhashStore -> true, EvalCorpusStore -> true,
      graft.pipeline.Mixing.LmScoresStore -> true,
      graft.pipeline.Reports.EqdBoundsStore -> true,
      graft.pipeline.Planner.KeyStatsStore -> true,
      Substring.WindowsStore -> false, ShinglesBucketedStore -> true,
      BandsBucketedStore -> true, Substring.WindowsBucketedStore -> true)
    val reapedDirs = parquetStores.flatMap { case (s, live) =>
      Materialize.reapStale(t.spark, s.prefix,
        if (live) corpora.map(s.tag).toSet else Set.empty)
    } ++ Materialize.reapStale(t.spark, "graft_shingles_keep", Set.empty)
    val reapedIncRoots = Seq(ShinglesStore, Substring.WindowsStore)
      .flatMap { s =>
        Materialize.reapStale(t.spark, s.prefix + "_gens",
          corpora.map(c => Materialize.stableTag(c, s)).toSet)
      }
    reapedDirs ++ reapedIncRoots
  }

  /** The verified near-dup edge list, unsorted, over the materialized
    * stores — the composition form for cross-operator consumers
    * (pipeline.Reports.sourceNearDupMatrix) where a mid-plan global
    * sort would be waste. Same pairs as [[dedupMinhashVerifiedMat]].
    *
    * Candidates come from the BUCKETED band store ([[bandsBucketed]] —
    * the exchange-free self-join `corpus_admit` already composes):
    * pair-identical to the live band derivation by the shared oracle,
    * but the signature aggregation — a SortAggregate pair (min over
    * md5 strings cannot hash-aggregate), two full sorts of the shingle
    * frame — was paid once at store write instead of inside every
    * consumer's plan (optimization guide §2.4: bucketed tables persist
    * a partitioning so repeated joins/aggregations skip the shuffle).
    * Shingles come from the incremental store: the candidate docs are
    * keepers, so the verify join's semi-join is the keeper routing.
    */
  private[graft] def verifiedPairsUnsorted(t: Tables): DataFrame =
    verifiedPairsFrom(shinglesMaterialized(t),
      dedupMinhashBucketedUnsorted(t), Nil)

  /** CTE chain ending in `ver` (doc_a, doc_b, jaccard — the verified
    * near-dup pairs): shared by [[dedupMinhashVerifiedSql]] and the
    * cluster oracle ([[nearDupClustersSql]]) so the edge definition
    * cannot drift between the two.
    */
  private[graft] def verifiedPairCtes: String =
    s"""$minhashBandsCtes,
       |sz AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY doc_id),
       |common AS (SELECT doc_a, doc_b, COUNT(*) common
       |           FROM cand c JOIN sh x ON x.doc_id = c.doc_a
       |                       JOIN sh y ON y.doc_id = c.doc_b AND y.s = x.s
       |           GROUP BY doc_a, doc_b),
       |ver AS (SELECT doc_a, doc_b,
       |    ${round6Sql("common::DOUBLE / (sa.n + sb.n - common)")} AS jaccard
       |  FROM common JOIN sz sa ON doc_a = sa.doc_id
       |              JOIN sz sb ON doc_b = sb.doc_id
       |  WHERE ${round6Sql("common::DOUBLE / (sa.n + sb.n - common)")} >= $JaccardMin)""".stripMargin

  def dedupMinhashVerifiedSql: String =
    s"""WITH $verifiedPairCtes
       |SELECT doc_a, doc_b, jaccard FROM ver
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Shared shingles sampled per pair in the evidence report. */
  val EvidenceSampleK = 3

  /** Dedup EVIDENCE — per verified near-dup pair, the audit trail a
    * takedown/appeal process needs: the exact jaccard, the shared-
    * shingle count, and the [[EvidenceSampleK]] lexicographically-first
    * shared shingles as a human-readable sample ("these passages are
    * why"). A dedup decision that can't be explained can't be appealed;
    * this is the explainer AS A QUERY, composable into case tooling.
    *
    * Scale: the evidence rides the verify join ITSELF — `n_shared` IS
    * the verify stage's `common` count, and the sample aggregates in
    * the same (doc_a, doc_b) pass, so the r20 plan's SECOND
    * pair-×-shingle-store join (an exact duplicate of the verify
    * join's two store shuffles plus a second pair aggregation, run
    * only to re-count what the verify pass had already counted) is
    * gone — one candidate product, one aggregation, pair-sized output
    * (optimization guide §2.4: don't recompute a shuffle whose result
    * is already in hand). The collect_list state per pair is bounded
    * by the smaller doc's shingle count — the same bound the r20
    * evidence aggregation had. Portable: the sample is concat_ws over
    * a binary-collation sort — identical both engines.
    */
  def dedupPairEvidence(t: Tables): DataFrame =
    // candidates and shingles as in [[verifiedPairsUnsorted]]
    verifiedPairsFrom(shinglesMaterialized(t),
      dedupMinhashBucketedUnsorted(t),
      // bounded min-k (r22): the k lexicographically-first shared
      // shingles with O(k) heap state — the collect_list form held
      // the pair's whole shared-shingle set in the aggregation
      // buffer just to slice 3 (guide §5; same rows, same order)
      Seq(concat_ws(" | ",
        graft.functions.BoundedMinK.boundedMinK(
          col("x.s"), EvidenceSampleK)).as("sample_shingles")),
      col("common").as("n_shared"), col("sample_shingles"))
      .orderBy(col("doc_a"), col("doc_b"))

  def dedupPairEvidenceSql: String =
    s"""WITH $verifiedPairCtes,
       |ev AS (SELECT v.doc_a, v.doc_b, v.jaccard, x.s
       |       FROM ver v JOIN sh x ON x.doc_id = v.doc_a
       |                  JOIN sh y ON y.doc_id = v.doc_b AND y.s = x.s)
       |SELECT doc_a, doc_b, jaccard, COUNT(*) AS n_shared,
       |  array_to_string((list(s ORDER BY s))[1:$EvidenceSampleK], ' | ')
       |    AS sample_shingles
       |FROM ev GROUP BY doc_a, doc_b, jaccard
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------ clusters

  /** Iteration ceiling for [[clusterKeepers]] — generous: label
    * propagation converges in O(graph diameter) rounds and near-dup
    * clusters are dense and small (a 30-hop chain of pairwise-0.8
    * near-dups does not occur in practice; the require below makes the
    * assumption loud instead of silently wrong).
    */
  val MaxClusterIters = 30

  /** Near-dup CLUSTER keepers — the production dedup semantics the
    * pairwise entries stop short of: connected components of the
    * verified near-dup graph ([[dedupMinhashVerified]]'s pairs as
    * edges), one keeper (min doc_id) per component. Pairwise removal
    * (corpus_clean_neardup's left_anti on `doc_b`) over-deletes on
    * chains A~B~C (B and C both drop though C may only resemble B);
    * component labeling keeps exactly one doc per transitive cluster.
    *
    * Output: (doc_id, keeper_id, cluster_size) for every doc in at
    * least one verified pair — docs outside any pair are their own
    * trivial cluster and stay out of the output (at 100 TB the near-dup
    * graph is a vanishing fraction of the corpus; the output is sized
    * to IT, not to the corpus).
    *
    * Oracle: min-reachable-id is engine-independent (integer fixpoint),
    * so this IS oracle-checkable — DuckDB computes the same labels via
    * a WITH RECURSIVE transitive closure ([[nearDupClustersSql]]).
    */
  def nearDupClusters(t: Tables): DataFrame =
    ClusterFrames(t, "documents", "text")(
      clusterKeepers(verifiedPairsUnsorted(t)
        .select(col("doc_a"), col("doc_b"))))

  /** [[nearDupClusters]] for the EMBEDDING near-dup graph: connected
    * components of [[dedupEmbedding]]'s pairs (cosine ≥ [[CosineMin]]
    * within sign-LSH buckets), keeper = min vec_id per component —
    * semantic-dedup cluster assignment over vectors, same machinery,
    * same recursive-closure oracle.
    */
  def embedDedupClusters(t: Tables): DataFrame =
    ClusterFrames(t, "embeddings", "embed")(
      clusterKeepers(embedPairsFrom(t)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b"))))
      .select(col("doc_id").as("vec_id"), col("keeper_id"),
        col("cluster_size"))

  /** Converged cluster frames: the label fixpoint runs eagerly at plan
    * build, so repeated calls (bench passes, Verify) reuse its frame.
    * Keyed on (Tables, graph, `corpusTag` of the graph's source table):
    * a landing moves the tag and the loop runs again; the Tables handle
    * scopes a frame to its own session (ADVICE r20). Each call evicts
    * its (Tables, graph)'s superseded tags and every stopped session's
    * entries, so the ContextCleaner reclaims their checkpointed labels
    * (ADVICE r21). The loop runs outside the map's locks.
    */
  private[graft] object ClusterFrames {
    private val frames =
      new java.util.concurrent.ConcurrentHashMap[(Tables, String, String), DataFrame]()

    def apply(t: Tables, table: String, graph: String)(
        converge: => DataFrame): DataFrame = {
      val key = (t, graph, graft.storage.Materialize.corpusTag(t, table, graph))
      val it = frames.keySet.iterator
      while (it.hasNext) {
        val k = it.next()
        if ((k._1 == t && k._2 == graph && k != key) ||
            k._1.spark.sparkContext.isStopped)
          it.remove()
      }
      Option(frames.get(key)).getOrElse {
        val df = converge
        Option(frames.putIfAbsent(key, df)).getOrElse(df)
      }
    }
  }

  /** Connected components of an undirected (doc_a, doc_b) edge list by
    * min-label propagation with POINTER JUMPING: every node starts
    * labeled with its own id; each round takes the min of its label and
    * its neighbors' labels, then replaces its label with its LABEL'S
    * label (lbl ← lbl(lbl) — labels always point within the component
    * and only decrease, so the jump is safe and collapses chains
    * exponentially). At the fixpoint the label is the component's min
    * id. Plain propagation needs O(diameter) rounds — a planted path
    * graph (DedupSpec) stalls a diameter-bound loop; with the jump the
    * round count is O(log diameter), so [[MaxClusterIters]] covers any
    * graph that fits in a datacenter.
    *
    * Scale (100 TB): each round is two equi-joins of (node, label)
    * pairs with map-side partial min, AQE-sized. The driver never sees
    * the data: per-round actions are scalar convergence counts. Each
    * round's labels are EAGERLY localCheckpoint'ed — load-bearing, not
    * hygiene: an iterative self-referencing DataFrame loop otherwise
    * grows its LOGICAL plan exponentially (labels appears twice per
    * round), and round ~15 dies planning, not executing (caching
    * short-circuits execution, never analysis). On a cluster where
    * executor loss matters, swap for reliable `checkpoint()` — same
    * truncation, durable blocks.
    */
  private[graft] def clusterKeepers(edges0: DataFrame): DataFrame = {
    val edges = edges0
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges0.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .persist()
    var labels = edges.select(col("src").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id"))
      .localCheckpoint()
    var changed = 1L
    var iters = 0
    while (changed > 0 && iters < MaxClusterIters) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("lbl").as("nlbl")),
          Seq("dst"))
        .groupBy(col("src"))
        .agg(min(col("nlbl")).as("nmin"))
        .select(col("src").as("doc_id"), col("nmin"))
      val stepped = labels
        .join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
      val jumpTable = stepped
        .select(col("doc_id").as("lbl"), col("lbl").as("lbl2"))
      val next = stepped
        .join(jumpTable, Seq("lbl"), "left")
        .select(col("doc_id"), col("prev"),
          coalesce(col("lbl2"), col("lbl")).as("lbl"))
        .localCheckpoint()
      changed = next.filter(col("lbl") =!= col("prev")).count()
      labels = next.select(col("doc_id"), col("lbl"))
      iters += 1
    }
    require(changed == 0,
      s"cluster labeling did not converge in $MaxClusterIters rounds")
    edges.unpersist(false)
    val sizes = labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("lbl"))
      .select(col("doc_id"), col("lbl").as("keeper_id"), col("cluster_size"))
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of [[nearDupClusters]]: transitive closure of the
    * verified-pair edges by recursive CTE (UNION-distinct fixpoint),
    * label = min reachable id. Same `ver` CTE as the pairwise oracle.
    */
  /** `edges`/`reach`/`lab` CTEs over `ver` — requires `WITH RECURSIVE`
    * and [[verifiedPairCtes]] upstream. `lab` is (doc_id, keeper_id).
    * Shared with pipeline.CorpusClean's clustered composite.
    */
  private[graft] def clusterLabCtes: String =
    s"""edges AS (SELECT doc_a a, doc_b b FROM ver
       |          UNION ALL SELECT doc_b, doc_a FROM ver),
       |reach(doc_id, r) AS (
       |  SELECT DISTINCT a, a FROM edges
       |  UNION
       |  SELECT re.doc_id, e.b FROM reach re JOIN edges e ON re.r = e.a),
       |lab AS (SELECT doc_id, MIN(r) keeper_id FROM reach GROUP BY doc_id)""".stripMargin

  def nearDupClustersSql: String =
    s"""WITH RECURSIVE $verifiedPairCtes,
       |$clusterLabCtes
       |SELECT doc_id, keeper_id,
       |  COUNT(*) OVER (PARTITION BY keeper_id) AS cluster_size
       |FROM lab ORDER BY doc_id""".stripMargin

  /** Power-iteration rounds for [[clusterRank]] — FIXED, part of the
    * operator's definition (both engines unroll exactly this many),
    * and enough to separate centers from leaves in near-dup clusters
    * (diameter is small; scores stabilize in a few rounds).
    */
  val RankIters = 5

  /** Teleport mass per node in millionths (0.15) and the damping
    * numerator (0.85 as 85/100) — the standard PageRank constants in
    * exact integer arithmetic.
    */
  val RankBase = 150000L
  val RankDampNum = 85L

  /** PageRank CENTRALITY over the verified near-dup graph — which doc
    * should REPRESENT its cluster. Min-id keepers ([[nearDupClusters]])
    * are deterministic but arbitrary; quality keepers
    * ([[clusterQualityKeepers]]) need a score column; centrality is the
    * graph's own answer: the doc most connected to everything else in
    * its cluster (the canonical version a chain of edits degrades away
    * from) accumulates the most rank. Output: every graph doc with its
    * cluster label, fixed-point rank, and `central` = it is its
    * cluster's argmax (ties to the smaller id) — the representative a
    * takedown/browse/sample UI should show.
    *
    * The iteration is the unnormalized power method with uniform
    * teleport: pr₀ = 10⁶; prₖ₊₁(v) = [[RankBase]] +
    * (85·Σ_{u∼v} prₖ(u) div deg(u)) div 100 — EXACT integer arithmetic
    * (per-neighbor integer division, then an associative integer sum),
    * so both engines produce bit-identical scores; [[RankIters]]
    * rounds are part of the operator definition, and the oracle
    * unrolls exactly that many generated CTE passes over the same
    * `ver` edges.
    *
    * Scale: each round is ONE hash join of the node-sized score frame
    * against the edge-sized adjacency (shuffle keyed on src) and one
    * dst-keyed partial-aggregated sum — no corpus-sized anything (the
    * graph is a vanishing fraction of the corpus by the candidate
    * caps). Edges persist across rounds; per-round scores are eagerly
    * localCheckpoint'ed (the [[clusterKeepers]] plan-truncation
    * discipline — five self-referencing rounds would otherwise stack
    * an exponential logical plan). The final window partitions by
    * cluster — bounded by the largest near-dup cluster, never the
    * corpus.
    */
  def clusterRank(t: Tables): DataFrame =
    ClusterFrames(t, "documents", "rank") {
      val labels = nearDupClusters(t)
        .select(col("doc_id"), col("keeper_id"))
      val scores = rankScoresFrom(
        verifiedPairsUnsorted(t).select(col("doc_a"), col("doc_b")))
      val byCluster = org.apache.spark.sql.expressions.Window
        .partitionBy(col("keeper_id"))
        .orderBy(col("pr_fp").desc, col("doc_id"))
      labels
        .join(scores, col("doc_id") === col("node"))
        .select(col("doc_id"), col("keeper_id"), col("pr_fp"))
        .withColumn("central",
          row_number().over(byCluster) === 1)
        .orderBy(col("doc_id"))
    }

  /** The fixed-point power iteration on an undirected edge list —
    * (node, pr_fp) after [[RankIters]] rounds.
    */
  private[graft] def rankScoresFrom(edges0: DataFrame): DataFrame = {
    val sym = edges0
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(edges0.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val adj = sym
      .join(sym.groupBy(col("src")).agg(count(lit(1)).as("deg")),
        Seq("src"))
      .persist()
    var scores = adj.select(col("src").as("node")).distinct()
      .withColumn("pr_fp", lit(1000000L))
      .localCheckpoint()
    (1 to RankIters).foreach { _ =>
      scores = adj
        .join(scores.select(col("node").as("src"), col("pr_fp")),
          Seq("src"))
        .select(col("dst"), expr("pr_fp div deg").as("contrib"))
        .groupBy(col("dst"))
        .agg(sum(col("contrib")).as("m"))
        .select(col("dst").as("node"),
          (lit(RankBase) + expr(s"($RankDampNum * m) div 100"))
            .as("pr_fp"))
        .localCheckpoint()
    }
    adj.unpersist(false)
    scores
  }

  def clusterRankSql: String = {
    val prCtes = (1 to RankIters).map { i =>
      s"""p$i AS (SELECT dst AS node,
         |  ($RankBase + ($RankDampNum * SUM(pr // deg)) // 100)::BIGINT
         |    AS pr
         |FROM adj JOIN p${i - 1} ON p${i - 1}.node = adj.src
         |GROUP BY dst)""".stripMargin
    }.mkString(",\n")
    s"""WITH RECURSIVE $verifiedPairCtes,
       |$clusterLabCtes,
       |sym AS (SELECT doc_a AS src, doc_b AS dst FROM ver
       |        UNION ALL SELECT doc_b, doc_a FROM ver),
       |dg AS (SELECT src, COUNT(*)::BIGINT AS deg FROM sym GROUP BY 1),
       |adj AS (SELECT s.src, s.dst, d.deg FROM sym s JOIN dg d USING (src)),
       |p0 AS (SELECT src AS node, 1000000::BIGINT AS pr FROM dg),
       |$prCtes
       |SELECT l.doc_id, l.keeper_id, p.pr AS pr_fp,
       |  (row_number() OVER (PARTITION BY l.keeper_id
       |    ORDER BY p.pr DESC, l.doc_id) = 1) AS central
       |FROM lab l JOIN p$RankIters p ON p.node = l.doc_id
       |ORDER BY l.doc_id""".stripMargin
  }

  /** SOFT dedup — the loss-reweighting alternative to dropping: one
    * surviving representative per full-dedup class (exact classes
    * collapsed to their keeper, then near-dup CLUSTERS of keepers
    * collapsed to the cluster keeper), carrying `weight` = how many
    * original docs it stands for. A trainer multiplies per-doc loss by
    * weight (or samples ∝ weight) and sees the original corpus
    * distribution through the deduped corpus — hard dedup silently
    * reweights toward rare content; this keeps that choice explicit.
    *
    * Invariant (spec-pinned): ∑weight = |documents| — every original
    * doc is represented exactly once.
    *
    * Scale: the exact pass is the O(n) (hash, id) groupBy; the cluster
    * labels are [[nearDupClusters]]' near-dup-graph-sized frame (and
    * the memoized one — a Verify/bench run shares the fixpoint with
    * `dedup_clusters`); the final fold joins keeper-cardinality rows
    * on id and groups on id. Nothing corpus-sized shuffles text.
    */
  def dedupWeighted(t: Tables): DataFrame = {
    val exact = t.documents
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("w"))
      .select(col("doc_id"), col("w"))
    exact
      .join(nearDupClusters(t).select(col("doc_id"), col("keeper_id")),
        Seq("doc_id"), "left")
      .select(coalesce(col("keeper_id"), col("doc_id")).as("doc_id"),
        col("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("w")).as("weight"))
      .orderBy(col("doc_id"))
  }

  /** Quality-keeper cluster representatives — near-dup cluster dedup
    * where the kept doc is the BEST one, not the lowest-id one: per
    * [[nearDupClusters]] component, the member with the highest
    * [[graft.textanalysis.TextAnalysis]] quality score (doc_id breaks
    * ties). Min-id keepers are arbitrary; a production dedup keeps the
    * cleanest copy of syndicated content. Output: (cluster_id, rep_id,
    * rep_quality, cluster_size) — cluster_id stays the min-id LABEL
    * (stable across quality re-scores), rep_id is the elected copy.
    *
    * Scale: quality is computed ONLY for docs in the near-dup graph
    * (semi-join first — the vanishing-fraction bound), and the
    * election Window partitions per cluster over that graph-sized
    * frame; the largest cluster is band-cap bounded, so no whale
    * partition. Ordering is portable: quality is round6'd, ties on id.
    */
  def nearDupClustersQuality(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = nearDupClusters(t)
    val quality = t.documents
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("n_chars"),
        explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("n_chars"))
      .agg(count(lit(1)).as("n_tok"), countDistinct(col("w")).as("n_distinct"))
      .select(col("doc_id"),
        graft.textanalysis.TextAnalysis.qualityExpr(
          col("n_chars"), col("n_tok"), col("n_distinct")).as("quality"))
    labels.join(quality, Seq("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("keeper_id"))
          .orderBy(col("quality").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("keeper_id").as("cluster_id"), col("doc_id").as("rep_id"),
        col("quality").as("rep_quality"), col("cluster_size"))
      .orderBy(col("cluster_id"))
  }

  def nearDupClustersQualitySql: String =
    s"""WITH RECURSIVE $verifiedPairCtes,
       |$clusterLabCtes,
       |csz AS (SELECT doc_id, keeper_id,
       |          COUNT(*) OVER (PARTITION BY keeper_id) AS cluster_size
       |        FROM lab),
       |qtok AS (SELECT d.doc_id, d.n_chars,
       |           unnest(string_split(d.text, ' ')) w
       |         FROM documents d JOIN lab ON d.doc_id = lab.doc_id),
       |qsc AS (SELECT doc_id, ${graft.textanalysis.TextAnalysis
      .qualityExprSql("ANY_VALUE(n_chars)", "count(*)", "count(DISTINCT w)")
    } AS quality
       |        FROM qtok GROUP BY doc_id)
       |SELECT csz.keeper_id AS cluster_id, csz.doc_id AS rep_id,
       |  qsc.quality AS rep_quality, csz.cluster_size
       |FROM csz JOIN qsc ON csz.doc_id = qsc.doc_id
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY csz.keeper_id
       |  ORDER BY qsc.quality DESC, csz.doc_id) = 1
       |ORDER BY cluster_id""".stripMargin

  def dedupWeightedSql: String =
    s"""WITH RECURSIVE $verifiedPairCtes,
       |$clusterLabCtes,
       |ex AS (SELECT MIN(doc_id) doc_id, COUNT(*) w
       |       FROM documents GROUP BY md5(text))
       |SELECT COALESCE(lab.keeper_id, ex.doc_id) AS doc_id,
       |  SUM(w)::BIGINT AS weight
       |FROM ex LEFT JOIN lab ON ex.doc_id = lab.doc_id
       |GROUP BY 1 ORDER BY doc_id""".stripMargin

  /** The cluster RELABEL sweep across a corpus growth step — the
    * oracle-checked batch instance of [[graft.storage.ClusterStore
    * .relabelDelta]]'s maintained-store form: old = the cluster labels
    * the FIRST-HALF corpus prefix (doc_id ≤ max/2) would have
    * published, new = the full corpus's [[nearDupClusters]] — the
    * growth event that makes a recompute publish in the first place,
    * reconstructed deterministically so DuckDB can name identical
    * labels. Output: (doc_id, keeper_old, keeper_new) for exactly the
    * docs whose keeper CHANGED — a doc newly clustered carries
    * keeper_old = -1, one no longer clustered keeper_new = -1 (the
    * sentinel keeps the oracle columns integer-typed; doc_ids are
    * non-negative).
    *
    * The prefix filter commutes with keeper routing: a duplicate
    * class's keeper is its min doc_id, and min ≤ cutoff iff the class
    * has any member ≤ cutoff — so filtering the keeper-routed shingle
    * store to the prefix equals routing the prefix corpus.
    *
    * Scale: the label fixpoint runs twice over near-dup-graph-sized
    * frames (never corpus-sized — [[nearDupClusters]]' output bound),
    * and the delta join carries id pairs; output = movers only.
    */
  def nearDupClustersDelta(t: Tables): DataFrame = {
    val cutoff = t.documents.agg(max(col("doc_id"))).head.getLong(0) / 2
    // the fixpoint runs eagerly at construction — memoized like the
    // full-corpus labels so repeated calls (bench passes) pay once
    val lab0 = ClusterFrames(t, "documents", "text_pfx") {
      val sh = corpusShingleStore(t).filter(col("doc_id") <= cutoff)
      clusterKeepers(verifiedPairsFrom(sh, minhashCandidatesFrom(sh), Nil)
        .select(col("doc_a"), col("doc_b")))
    }
    val lab1 = nearDupClusters(t)
    lab0.select(col("doc_id"), col("keeper_id").as("keeper_old"))
      .join(lab1.select(col("doc_id"), col("keeper_id").as("keeper_new")),
        Seq("doc_id"), "full_outer")
      .filter(!(col("keeper_old") <=> col("keeper_new")))
      .select(col("doc_id"),
        coalesce(col("keeper_old"), lit(-1L)).as("keeper_old"),
        coalesce(col("keeper_new"), lit(-1L)).as("keeper_new"))
      .orderBy(col("doc_id"))
  }

  /** Oracle for [[nearDupClustersDelta]]: the verified-pair + closure
    * CTE chain twice — once over the prefix corpus (`documents`
    * textually rebound to a doc_id ≤ max/2 view; each chain lives in
    * its own derived table, so the shared CTE names cannot collide) —
    * then the full-outer keeper diff with the -1 sentinel.
    */
  def nearDupClustersDeltaSql: String = {
    def labChain(ctes: String) =
      s"""(WITH RECURSIVE $ctes,
         |$clusterLabCtes
         |SELECT doc_id, keeper_id FROM lab)""".stripMargin
    val pfxCtes = verifiedPairCtes.replace("FROM documents",
      "FROM documents_pfx")
    s"""WITH documents_pfx AS (SELECT * FROM documents
       |  WHERE doc_id <= (SELECT max(doc_id) // 2 FROM documents)),
       |lab0 AS ${labChain(pfxCtes)},
       |lab1 AS ${labChain(verifiedPairCtes)}
       |SELECT coalesce(l0.doc_id, l1.doc_id) AS doc_id,
       |  coalesce(l0.keeper_id, -1) AS keeper_old,
       |  coalesce(l1.keeper_id, -1) AS keeper_new
       |FROM lab0 l0 FULL OUTER JOIN lab1 l1 ON l0.doc_id = l1.doc_id
       |WHERE l0.keeper_id IS DISTINCT FROM l1.keeper_id
       |ORDER BY doc_id""".stripMargin
  }

  /** CTE chain (`keep`, `kdocs`, `tok`, `sh`, `sig`, `bands0`, `bstat`,
    * `cand`) behind [[dedupMinhashSql]], shared with pipeline
    * .CorpusClean's near-dup composite so the candidate definition
    * cannot drift between the two oracles. Mirrors the Spark plan
    * exactly: shingles over keeper docs only, then the flood rule of
    * [[bandCandidatePairs]] — clique pairs for keys at or under
    * [[BandDocFreqCap]], star pairs (key min doc, member) above it.
    */
  def minhashBandsCtes: String = {
    val mins = (0 until NumPerms)
      .map(p => s"min(md5('$p:' || s)) h$p").mkString(", ")
    val bands = (0 until NumBands).map(b =>
      s"SELECT doc_id, $b band_idx, md5(h${2 * b} || '|' || h${2 * b + 1}) band_key FROM sig")
      .mkString(" UNION ALL ")
    s"""$keeperDocsCtes,
       |${shinglesSqlOver("kdocs")},
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |bands0 AS ($bands),
       |bstat AS (SELECT band_idx, band_key, COUNT(*) f, MIN(doc_id) m
       |          FROM bands0 GROUP BY band_idx, band_key),
       |cand AS (SELECT DISTINCT doc_a, doc_b FROM (
       |  SELECT x.doc_id doc_a, y.doc_id doc_b
       |  FROM bands0 x JOIN bands0 y
       |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
       |   AND x.doc_id < y.doc_id
       |  JOIN bstat st ON st.band_idx = x.band_idx
       |               AND st.band_key = x.band_key
       |  WHERE st.f <= $BandDocFreqCap
       |  UNION ALL
       |  SELECT st.m, b.doc_id
       |  FROM bands0 b JOIN bstat st ON st.band_idx = b.band_idx
       |                             AND st.band_key = b.band_key
       |  WHERE st.f > $BandDocFreqCap AND b.doc_id <> st.m) u)""".stripMargin
  }

  def dedupMinhashSql: String =
    s"""WITH $minhashBandsCtes
       |SELECT doc_a, doc_b FROM cand
       |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------- simhash

  /** Count-weighted 48-bit SimHash near-dup pairs. Each token contributes
    * its per-doc count with sign taken from bit i of md5(token)'s first
    * 48 bits (12 hex digits parsed via ascii arithmetic — portable; 48
    * keeps the signature positive in a signed BIGINT both engines);
    * simhash bit i is the sign of the sum. Candidates share at least
    * one PAIR of 12-bit chunks (hamming ≤ 1 leaves ≥ 3 of 4 chunks
    * equal ⇒ some pair matches); 24-bit pair keys make random
    * collisions negligible, so candidates ≈ true near-dups even at
    * billions of documents. Shuffles: (doc, token) counts, then
    * (chunk-key, id).
    */
  /** (doc_id, simhash) — the 48-bit count-weighted signature per doc,
    * computed PER ROW by the native [[graft.functions.SimHash48]]
    * expression (per-occurrence ±1 sums ≡ the count-weighted
    * per-(doc, token) groupBy — the DuckDB oracle still computes the
    * count-weighted SQL form, pinning the equivalence bit-for-bit).
    * The earlier implementation tokenized, shuffled (doc, token)
    * counts and ran a 48-column aggregation; the signature now never
    * leaves the scan projection — zero shuffle at any corpus size,
    * and whole-stage codegen end to end.
    */
  private[graft] def simhashSignatures(t: Tables): DataFrame =
    simhashSignaturesOf(t.documents)

  private def simhashSignaturesOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.TextFunctions.simhash48(split(col("text"), " "))
        .as("simhash"))

  /** Chunk-pair band structs over a `simhash` column — 6 bands of two
    * 12-bit chunks (pigeonhole: hamming ≤ 1 pairs share ≥ 1 band).
    * Shared by the batch join and the streaming twin.
    */
  private[graft] def simhashBandStructs: Seq[org.apache.spark.sql.Column] = {
    val chunkVals = 1L << SimhashChunkBits
    def chunkOf(i: Int) =
      s"((simhash div ${1L << (SimhashChunkBits * i)}L) % ${chunkVals}L)"
    val chunkPairs = for {
      i <- 0 until SimhashChunks; j <- (i + 1) until SimhashChunks
    } yield (i, j)
    chunkPairs.zipWithIndex.map { case ((i, j), idx) =>
      struct(lit(idx).as("band_idx"),
        expr(s"${chunkOf(i)} * ${chunkVals}L + ${chunkOf(j)}").as("band_key"))
    }
  }

  /** [[dedupSimhash]] over a MATERIALIZED signature store: the
    * 48-per-bit count-weighted aggregation — the dominant cost, a full
    * tokenize + (doc, token) shuffle over the corpus — is written once
    * per corpus as a (doc_id, simhash) warehouse table (8 bytes of
    * signature per document; the 100 TB corpus's signature store is
    * ~gigabytes), and the band self-join reads the store. Re-running
    * near-dup detection with different banding/threshold constants
    * never re-tokenizes the corpus. Same oracle as the live entry —
    * DedupSpec pins result equality and no documents.parquet scan.
    */
  def dedupSimhashMat(t: Tables): DataFrame =
    dedupSimhashFrom(simhashSignaturesMaterialized(t))

  /** Ensure-write the KEEPER [[simhashSignatures]] to a per-corpus
    * warehouse parquet dir (cache keyed on the documents file inventory
    * and [[SimhashBits]] — storage.Materialize), read it back.
    */
  private def simhashSignaturesMaterialized(t: Tables): DataFrame =
    graft.storage.Materialize.ensureStore(t, SimhashStore,
      simhashSignaturesOf(keeperDocs(t)))

  def dedupSimhash(t: Tables, bandCap: Int = BandDocFreqCap): DataFrame =
    dedupSimhashFrom(simhashSignaturesOf(keeperDocs(t)), bandCap)

  private def dedupSimhashFrom(
      sig: DataFrame, bandCap: Int = BandDocFreqCap): DataFrame = {
    val bands = sig
      .select(col("doc_id"), col("simhash"),
        explode(array(simhashBandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band_idx"), col("bk.band_key"))
    bandCandidatePairs(bands, bandCap, payload = Seq("simhash"))
      .select(col("doc_a"), col("doc_b"),
        expr("bit_count(simhash_a ^ simhash_b)").cast("int").as("hamming"))
      .filter(col("hamming") <= HammingMax)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def dedupSimhashSql: String = {
    val nHex = SimhashBits / 4
    def hexDigit(i: Int) =
      s"(ascii(substr(md5(w), $i, 1)) - 48 - 39 * " +
        s"(CASE WHEN ascii(substr(md5(w), $i, 1)) >= 97 THEN 1 ELSE 0 END))"
    val hv = (1 to nHex) // ::BIGINT before the multiply — int32 overflows
      .map(i => s"${hexDigit(i)}::BIGINT * ${1L << (4 * (nHex - i))}")
      .mkString(" + ")
    val sums = (0 until SimhashBits).map(i =>
      s"sum(cnt * (CASE WHEN (hv // ${1L << i}) % 2 = 1 THEN 1 ELSE -1 END)) s$i")
      .mkString(", ")
    val simhash = (0 until SimhashBits).map(i =>
      s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    val chunkVals = 1L << SimhashChunkBits
    def chunkOf(c: String) =
      s"((simhash // (${chunkVals} ** b.$c)::BIGINT) % ${chunkVals})"
    s"""WITH $keeperDocsCtes,
       |tok AS (SELECT doc_id, w, COUNT(*) cnt FROM
       |  (SELECT doc_id, unnest(string_split(text, ' ')) w FROM kdocs)
       |  GROUP BY doc_id, w),
       |hvt AS (SELECT doc_id, cnt, $hv AS hv FROM tok),
       |sums AS (SELECT doc_id, $sums FROM hvt GROUP BY doc_id),
       |sig AS (SELECT doc_id, ($simhash)::BIGINT simhash FROM sums),
       |bands0 AS (SELECT doc_id, simhash, b.i * 4 + b.j band_idx,
       |    ${chunkOf("i")} * ${chunkVals}
       |      + ${chunkOf("j")} band_key
       |  FROM sig, (VALUES (0,1),(0,2),(0,3),(1,2),(1,3),(2,3)) b(i, j)),
       |bstat AS (SELECT band_idx, band_key, COUNT(*) f, MIN(doc_id) m
       |          FROM bands0 GROUP BY band_idx, band_key),
       |pairs0 AS (
       |  SELECT x.doc_id doc_a, y.doc_id doc_b, x.simhash sa, y.simhash sb
       |  FROM bands0 x JOIN bands0 y
       |    ON x.band_idx = y.band_idx AND x.band_key = y.band_key
       |   AND x.doc_id < y.doc_id
       |  JOIN bstat st ON st.band_idx = x.band_idx
       |               AND st.band_key = x.band_key
       |  WHERE st.f <= $BandDocFreqCap
       |  UNION ALL
       |  SELECT st.m, b.doc_id, sm.simhash, b.simhash
       |  FROM bands0 b JOIN bstat st ON st.band_idx = b.band_idx
       |                             AND st.band_key = b.band_key
       |                JOIN sig sm ON sm.doc_id = st.m
       |  WHERE st.f > $BandDocFreqCap AND b.doc_id <> st.m)
       |SELECT DISTINCT doc_a, doc_b, bit_count(xor(sa, sb))::INT hamming
       |FROM pairs0
       |WHERE bit_count(xor(sa, sb)) <= $HammingMax
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ----------------------------------------------------------- embedding

  /** Embedding-cosine near-dup pairs over sign-LSH buckets: bucket =
    * sign bits of the first [[EmbedBucketBits]] dimensions, pairs meet
    * only within a bucket, kept when cosine ≥ [[CosineMin]]. Cosine is
    * the fused one-pass [[graft.functions.CosineSim]] (dot + both norms
    * in one array traversal, sequential double folds — the portable
    * summation order, bit-identical to the precomputed-norm composition
    * so the DuckDB oracle is unchanged); pairs are sparse here (a vector
    * meets only its bucket), which is exactly the fused form's sweet
    * spot — no norm column in the self-join payload. Rounds to 6 dp.
    * Width ADAPTS to corpus size (the [[EmbedBucketTarget]] ladder):
    * the r8 10× bench measured the fixed-width version at ~100× cost
    * for 10× vectors — occupancy n/2^bits is the whole ballgame. The
    * plan shape, a bucket-equi-join, is unchanged at any width.
    */
  def dedupEmbedding(t: Tables): DataFrame =
    embedPairsFrom(t).orderBy(col("vec_a"), col("vec_b"))

  /** [[dedupEmbedding]] without the output sort — the embedding
    * near-dup edge list, for composition ([[embedDedupClusters]]).
    * `forceBits` pins the width for DedupSpec's adaptive-vs-fixed
    * comparison; production always adapts.
    */
  private[graft] def embedPairsFrom(t: Tables,
                                    forceBits: Option[Int] = None): DataFrame = {
    val e = embedBucketed(t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v")),
      offset = 0, forceBits.getOrElse(embedBits(t)))
    e.as("x")
      .join(e.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"),
        round6(VectorFunctions.cosineSim(col("x.v"), col("y.v")))
          .as("cos_sim"))
      .filter(col("cos_sim") >= CosineMin)
  }

  /** (vec_id, v, bucket) under a given width: the full
    * [[EmbedBucketBitsMax]]-bit sign bucket of the dim slice at
    * `offset`, right-shifted down to `bits` — a literal, so the bucket
    * stays one codegen'd projection.
    */
  private def embedBucketed(e: DataFrame, offset: Int, bits: Int): DataFrame = {
    val full = graft.functions.Portable.signBucketExpr(
      EmbedBucketBitsMax, oneBasedIndex = false, offset = offset)
    e.withColumn("bucket",
      expr(s"shiftright($full, ${EmbedBucketBitsMax - bits})"))
  }

  /** The adaptive width for `t`'s embedding corpus — the Scala twin of
    * [[graft.functions.Portable.bucketBitsSql]]'s integer ladder
    * (identical thresholds, so Spark and the oracle can never disagree)
    * over ONE memoized parquet count per corpus STATE. The count is a
    * metadata-only scan (parquet row-group footers) and the driver
    * sees a single long — the clusterKeepers scalar-count precedent,
    * not a data collect. A literal width keeps the bucket projection
    * inside whole-stage codegen and the dedup plans free of the
    * one-row-broadcast join a column-typed width would need.
    *
    * Kept in [[graft.storage.PlanStats]] under the embeddings'
    * `corpusTag` (the ladder's constants as config): a landing, a
    * regenerated corpus or new constants derive it again — keying on
    * the Tables value (ADVICE r8) served a stale width after the corpus
    * grew under a live dir, breaking the exact-oracle property.
    */
  private[graft] def embedBits(t: Tables): Int =
    graft.storage.PlanStats(graft.storage.Materialize.corpusTag(t, "embeddings",
      s"bits=$EmbedBucketBits..$EmbedBucketBitsMax|tgt=$EmbedBucketTarget"))(
      graft.functions.Portable.bucketBits(t.embeddings.count(),
        EmbedBucketBits, EmbedBucketBitsMax, EmbedBucketTarget))

  /** Hash tables for [[dedupEmbeddingMultitable]] — each table buckets
    * on a DISJOINT [[EmbedBucketBitsMax]]-dim sign slice (offsets 0,
    * 8, 16), reduced to the adaptive width. OR-amplification: a pair
    * is a candidate if ANY table agrees, so recall over near-neighbors
    * rises from p to 1−(1−p)^tables while each table's join stays a
    * bucket equi-join. This is the production recall dial the
    * single-table entry's scaladoc promises ("multiple hash tables for
    * recall") realized as an operator.
    */
  val EmbedNumTables = 3

  /** [[dedupEmbedding]] with [[EmbedNumTables]] OR'd hash tables:
    * candidates = distinct pairs sharing any (table, bucket), then one
    * exact-cosine verify per pair. Table 0's slice equals the
    * single-table bucketing, so single-table pairs are a SUBSET of
    * these (DedupSpec pins it) — strictly better recall for ~tables×
    * the candidate-generation work, the standard LSH trade. Vectors do
    * not travel through the band join: pairs are distinct'd first,
    * then the two vectors are fetched by id for the verify — at 100 TB
    * the (table, bucket, id) shuffle dominates and carries 3 ints.
    */
  def dedupEmbeddingMultitable(t: Tables): DataFrame = {
    val e = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val b = embedTables(e, embedBits(t))
    val cand = b.as("x")
      .join(b.as("y"),
        col("x.tbl") === col("y.tbl") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round6(VectorFunctions.cosineSim(col("va"), col("vb"))).as("cos_sim"))
      .filter(col("cos_sim") >= CosineMin)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** (vec_id, tbl, bucket) for all [[EmbedNumTables]] hash tables at
    * width `bits` — one explode, all projections codegen'd; shared by
    * the multi-table and multiprobe entries so the table definitions
    * cannot drift.
    */
  private def embedTables(e: DataFrame, bits: Int): DataFrame = {
    val tbls = (0 until EmbedNumTables).map { j =>
      struct(lit(j).as("tbl"), expr(graft.functions.Portable.signBucketExpr(
        EmbedBucketBitsMax, oneBasedIndex = false,
        offset = j * EmbedBucketBitsMax)).as("full"))
    }
    e.select(col("vec_id"), explode(array(tbls: _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"),
        expr(s"shiftright(tb.full, ${EmbedBucketBitsMax - bits})")
          .as("bucket"))
  }

  /** Probe budget for [[dedupEmbeddingMultiprobe]]'s QUERY-DIRECTED
    * probing: per (vector, table), only the [[ProbeBudget]] bits whose
    * sign-defining dimensions have the SMALLEST magnitude are flipped.
    * A hamming-1 probe can only recover pairs split by a near-zero
    * dimension (a confidently signed dim agrees across any pair worth
    * verifying), so probes belong on the least-confident bits — and a
    * BUDGET, unlike a magnitude threshold, makes the fan-out a
    * width-independent constant: probe-everything cost (1+bits)× and
    * was 56s of the sf1 bench at 6 bits (~6× the multi-table entry),
    * while a threshold is data-dependent (95% of this corpus's dims
    * sit under any margin loose enough to catch real splits). At the
    * test-sf floor width (2 bits ≤ budget) every bit is probed, so
    * results there are identical to exhaustive hamming-1 probing.
    */
  val ProbeBudget = 2

  /** [[dedupEmbeddingMultitable]] PLUS within-table QUERY-DIRECTED
    * hamming-1 probing — multi-probe LSH with probe SEQUENCES: one
    * side of each table's join additionally probes the buckets that
    * differ in one of its [[ProbeBudget]] least-confident sign bits
    * (smallest |v[dim]|, deterministic i-tiebreak — identical
    * struct-sort semantics in both engines). A near-dup pair split
    * across a sign boundary still meets (the boundary dim is small by
    * definition); confidently-signed bits are never probed. Pairs
    * remain a SUPERSET of the multi-table entry's (DedupSpec pins it —
    * the own-bucket probe survives any budget), the probe selection is
    * map-side HOFs (sort of a ≤8-element array per row, inside
    * codegen), and only ids travel through the expanded join. The
    * exact-cosine verify is unchanged.
    */
  def dedupEmbeddingMultiprobe(t: Tables,
                               forceBits: Option[Int] = None): DataFrame = {
    val e = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    multiprobeCandidates(t, forceBits)
      .join(e.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
      .join(e.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round6(VectorFunctions.cosineSim(col("va"), col("vb"))).as("cos_sim"))
      .filter(col("cos_sim") >= CosineMin)
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** The multiprobe CANDIDATE pair frame (distinct, vec_a < vec_b) —
    * candidate generation split out so growth is pinned by PAIR COUNT
    * rather than wall-clock (VERDICT r8 #5): counts are deterministic
    * data, immune to the run-to-run variance that made the sf1 timing
    * ambiguous (25–40s across runs). DedupSpec pins the mechanism at
    * forced widths — pairs grow ~linearly when the width tracks the
    * [[EmbedBucketTarget]] ladder and ~quadratically when it is held
    * fixed — and Bench reports the count (`mp_pairs`) next to the
    * timings, so a scale run separates candidate growth from noise.
    */
  private[graft] def multiprobeCandidates(
      t: Tables, forceBits: Option[Int] = None): DataFrame = {
    val e = t.embeddings
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val bits = forceBits.getOrElse(embedBits(t))
    val b = embedTables(e, bits)
    // per table: own bucket ++ the budgeted flips, one explode
    val probeArrays = (0 until EmbedNumTables).map { j =>
      val full = graft.functions.Portable.signBucketExpr(
        EmbedBucketBitsMax, oneBasedIndex = false,
        offset = j * EmbedBucketBitsMax)
      val bucket = s"shiftright($full, ${EmbedBucketBitsMax - bits})"
      val absPairs = (0 until bits).map { i =>
        val dim = j * EmbedBucketBitsMax + (bits - 1 - i)
        s"named_struct('a', abs(v[$dim]), 'i', $i)"
      }.mkString("array(", ", ", ")")
      val flips = s"transform(slice(array_sort($absPairs), 1, $ProbeBudget)," +
        s" p -> ($bucket) ^ shiftleft(1, p.i))"
      struct(lit(j).as("tbl"),
        expr(s"concat(array($bucket), $flips)").as("buckets"))
    }
    val probes = e
      .select(col("vec_id"), explode(array(probeArrays: _*)).as("tb"))
      .select(col("vec_id"), col("tb.tbl").as("tbl"),
        explode(col("tb.buckets")).as("bucket"))
    probes.as("x")
      .join(b.as("y"),
        col("x.tbl") === col("y.tbl") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
  }

  /** `nb` CTE — the adaptive-width ladder over the `e` relation; `b` —
    * all hash tables' reduced buckets. Shared by both multi-table SQL
    * generators (must match [[embedTables]] exactly).
    */
  private def embedTablesCtes: String = {
    val ladder = graft.functions.Portable.bucketBitsSql(
      "COUNT(*)", EmbedBucketBits, EmbedBucketBitsMax, EmbedBucketTarget)
    val tableSelects = (0 until EmbedNumTables).map { j =>
      val full = graft.functions.Portable.signBucketExpr(
        EmbedBucketBitsMax, oneBasedIndex = true, offset = j * EmbedBucketBitsMax)
      s"SELECT vec_id, $j tbl, nb.bits, ($full) >> ($EmbedBucketBitsMax - nb.bits) bucket FROM e, nb"
    }.mkString(" UNION ALL ")
    s"""nb AS (SELECT $ladder bits FROM e),
       |b AS ($tableSelects)""".stripMargin
  }

  def dedupEmbeddingMultiprobeSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |$embedTablesCtes,
       |bv AS (SELECT b.*, e.v FROM b JOIN e USING (vec_id)),
       |pr AS (SELECT vec_id, tbl, bucket FROM bv
       |       UNION ALL
       |       SELECT vec_id, tbl, xor(bucket, 1 << u.p.i) bucket
       |       FROM bv, UNNEST(list_slice(list_sort(
       |         list_transform(generate_series(0, bits - 1), i ->
       |           struct_pack(a := abs(v[tbl * $EmbedBucketBitsMax
       |                                  + (bits - 1 - i) + 1]), i := i))),
       |         1, $ProbeBudget)) AS u(p)),
       |cand AS (SELECT DISTINCT x.vec_id vec_a, y.vec_id vec_b
       |         FROM pr x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket
       |          AND x.vec_id < y.vec_id)
       |SELECT vec_a, vec_b,
       |  ${round6Sql("list_dot_product(ea.v, eb.v) / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))")} AS cos_sim
       |FROM cand JOIN e ea ON vec_a = ea.vec_id
       |          JOIN e eb ON vec_b = eb.vec_id
       |WHERE ${round6Sql("list_dot_product(ea.v, eb.v) / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))")} >= $CosineMin
       |ORDER BY vec_a, vec_b""".stripMargin

  def dedupEmbeddingMultitableSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |$embedTablesCtes,
       |cand AS (SELECT DISTINCT x.vec_id vec_a, y.vec_id vec_b
       |         FROM b x JOIN b y ON x.tbl = y.tbl AND x.bucket = y.bucket
       |          AND x.vec_id < y.vec_id)
       |SELECT vec_a, vec_b,
       |  ${round6Sql("list_dot_product(ea.v, eb.v) / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))")} AS cos_sim
       |FROM cand JOIN e ea ON vec_a = ea.vec_id
       |          JOIN e eb ON vec_b = eb.vec_id
       |WHERE ${round6Sql("list_dot_product(ea.v, eb.v) / (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v)))")} >= $CosineMin
       |ORDER BY vec_a, vec_b""".stripMargin

  /** `e`/`b`/`ver` CTEs for the embedding near-dup pairs (ver aliases
    * the pair columns doc_a/doc_b so [[clusterLabCtes]] composes).
    */
  private def embedPairCtes: String = {
    val ladder = graft.functions.Portable.bucketBitsSql(
      "COUNT(*)", EmbedBucketBits, EmbedBucketBitsMax, EmbedBucketTarget)
    val full =
      graft.functions.Portable.signBucketExpr(EmbedBucketBitsMax, oneBasedIndex = true)
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] v FROM embeddings),
       |nb AS (SELECT $ladder bits FROM e),
       |b AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) norm,
       |        ($full) >> ($EmbedBucketBitsMax - nb.bits) AS bucket FROM e, nb),
       |ver AS (SELECT x.vec_id doc_a, y.vec_id doc_b,
       |    ${round6Sql("list_dot_product(x.v, y.v) / (x.norm * y.norm)")} AS cos_sim
       |  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id < y.vec_id
       |  WHERE ${round6Sql("list_dot_product(x.v, y.v) / (x.norm * y.norm)")} >= $CosineMin)""".stripMargin
  }

  def dedupEmbeddingSql: String =
    s"""WITH $embedPairCtes
       |SELECT doc_a AS vec_a, doc_b AS vec_b, cos_sim FROM ver
       |ORDER BY vec_a, vec_b""".stripMargin

  def embedDedupClustersSql: String =
    s"""WITH RECURSIVE $embedPairCtes,
       |$clusterLabCtes
       |SELECT doc_id AS vec_id, keeper_id,
       |  COUNT(*) OVER (PARTITION BY keeper_id) AS cluster_size
       |FROM lab ORDER BY vec_id""".stripMargin

  /** Semantic-dedup validation report — label purity per
    * [[embedDedupClusters]] component: if embedding near-dup clusters
    * are real near-duplicates, members should agree on `label`; a
    * low-purity cluster is the threshold set too loose (or genuinely
    * mislabeled data — either way, the report a semantic-dedup rollout
    * reads before trusting the clusters). Output per cluster:
    * (cluster_id, n_members, top_label, purity) with top_label the
    * majority label (smallest label breaks ties — portable ordering on
    * integers).
    *
    * Scale: everything downstream of the cluster labels is
    * graph-sized (the vanishing-fraction bound); two aggregations
    * keyed on (cluster, label) then cluster, one per-cluster election
    * Window.
    */
  def embedLabelPurity(t: Tables): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = embedDedupClusters(t)
      .join(t.embeddings.select(col("vec_id"), col("label")), Seq("vec_id"))
      .groupBy(col("keeper_id"), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val byCluster = Window.partitionBy(col("keeper_id"))
    counts
      .withColumn("n_members", sum(col("cnt")).over(byCluster))
      .withColumn("rn", row_number().over(
        byCluster.orderBy(col("cnt").desc, col("label"))))
      .filter(col("rn") === 1)
      .select(col("keeper_id").as("cluster_id"), col("n_members"),
        col("label").as("top_label"),
        graft.functions.Portable.round6(
          col("cnt").cast("double") / col("n_members").cast("double"))
          .as("purity"))
      .orderBy(col("cluster_id"))
  }

  def embedLabelPuritySql: String =
    s"""WITH RECURSIVE $embedPairCtes,
       |$clusterLabCtes,
       |lc AS (SELECT lab.keeper_id, e.label, COUNT(*) cnt
       |       FROM lab JOIN embeddings e ON lab.doc_id = e.vec_id
       |       GROUP BY 1, 2),
       |lt AS (SELECT keeper_id, SUM(cnt)::BIGINT n_members
       |       FROM lc GROUP BY 1)
       |SELECT lc.keeper_id AS cluster_id, lt.n_members,
       |  lc.label AS top_label,
       |  ${graft.functions.Portable.round6Sql(
      "cnt::DOUBLE / n_members::DOUBLE")} AS purity
       |FROM lc JOIN lt USING (keeper_id)
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY lc.keeper_id
       |  ORDER BY cnt DESC, lc.label) = 1
       |ORDER BY cluster_id""".stripMargin
}
