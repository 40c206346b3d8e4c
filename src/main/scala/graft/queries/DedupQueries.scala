package graft.queries

import graft.Tables
import graft.functions.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — exact, n-gram Jaccard,
  * MinHash+LSH, SimHash (north-star ops; absent in the reference, which
  * intentionally counts duplicates — /root/reference/src/app/vertex_degree.rs:32-53).
  *
  * Scale design:
  *  - exact dedup groups on a 128-bit digest, not the full text: shuffle
  *    rows are ~40 bytes instead of document-sized.
  *  - pairwise Jaccard is inherently quadratic, so the oracle-checked query
  *    bounds its candidate universe (doc_id < 500) — the LINEAR route to the
  *    same answer at 100 TB is the MinHash+LSH query below it, whose shuffle
  *    is O(docs × bands), never O(docs²).
  *  - the driver corpus has a ~40-word vocabulary, so nearly every doc pair
  *    shares tokens — a worst case for candidate generation; thresholds and
  *    band geometry below are tuned for it.
  */
object DedupQueries {

  /** Exact dedup via content fingerprint: one row per distinct text with the
    * canonical (minimum) doc_id — deterministic, unlike dropDuplicates.
    */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** Exact pairwise near-dup detection: word-bigram shingle Jaccard ≥ 0.8
    * over a bounded candidate universe. Shingle-exploded self-join → one
    * shuffle on shingle, count intersections, derive |union| from set sizes.
    *
    * `sorted = false` skips the output total order — for consumers that
    * immediately re-aggregate or collect the pair set (cluster
    * resolution), where a sort ahead of a bounded collect would plan an
    * expensive TakeOrdered heap for no benefit.
    */
  /** Pair-graph universe bound shared by ngramJaccard and every consumer
    * of its pair set (cluster resolution, keep-best curation): the scored
    * corpus and the pair graph MUST cover the same doc_id range or keep
    * decisions silently desynchronize.
    */
  val PairUniverseMaxDocId: Long = 500L

  /** ASYMMETRIC containment detection — the near-dup class Jaccard
    * systematically misses: when doc A is (nearly) a sub-document of a
    * larger B, |A∩B|/|A| ≈ 1 while Jaccard |A∩B|/|A∪B| can sit far below
    * any symmetric threshold. Emits both directed containments plus the
    * Jaccard for contrast, flagging pairs whose larger containment ≥ 0.9
    * — the quote/boilerplate/subset-dup gate (cf. Broder's containment
    * sketches). Same shingle universe and intersection shape as
    * `ngramJaccard`; at 100 TB the intersection join keys on shingle
    * hashes exactly as documented there.
    */
  def containmentPairs(s: SparkSession, d: String,
      maxDocId: Long = PairUniverseMaxDocId, threshold: Double = 0.9): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), bigramShingles(spaceTokens(col("text"))).as("shingles"))
    val sizes = docs.select(col("doc_id"), size(col("shingles")).cast("long").as("n"))
    val exploded = docs.select(col("doc_id"), explode(col("shingles")).as("sh"))
    exploded.as("a")
      .join(exploded.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
      .join(sizes.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
      .withColumn("cont_ab", col("n_inter") / col("na"))
      .withColumn("cont_ba", col("n_inter") / col("nb"))
      .withColumn("jac", col("n_inter") / (col("na") + col("nb") - col("n_inter")))
      .filter(greatest(col("cont_ab"), col("cont_ba")) >= threshold)
      .select("da", "db", "n_inter", "na", "nb", "cont_ab", "cont_ba", "jac")
      .orderBy("da", "db")
  }

  /** Dedup-yield threshold curve: how many candidate pairs clear each
    * Jaccard threshold from 0.50 to 0.95 — the tuning table every dedup
    * rollout is calibrated against before picking its production cut.
    * All ten counters come from ONE conditional-sum pass over the pair
    * stats (no per-threshold rescans, no pair×threshold join), reshaped
    * to rows exactly like pipeline_gate_ablation.
    */
  def thresholdCurve(s: SparkSession, d: String,
      maxDocId: Long = PairUniverseMaxDocId): DataFrame = {
    val thresholds = (50 to 95 by 5).map(_ / 100.0)
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), bigramShingles(spaceTokens(col("text"))).as("shingles"))
    val sizes = docs.select(col("doc_id"), size(col("shingles")).cast("long").as("n"))
    val exploded = docs.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val pairs = exploded.as("a")
      .join(exploded.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
      .join(sizes.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
      .withColumn("jac", col("n_inter") / (col("na") + col("nb") - col("n_inter")))
    val counters = thresholds.map(t =>
      sum(when(col("jac") >= t, 1L).otherwise(0L)).as(s"ge_${(t * 100).toInt}"))
    val a = pairs.agg(count(lit(1)).as("n_candidates"), counters: _*)
    a.select(explode(array(thresholds.map(t =>
        struct(lit(t).as("threshold"),
          col(s"ge_${(t * 100).toInt}").as("n_pairs"),
          col("n_candidates").as("n_candidates"))): _*)).as("x"))
      .select(col("x.threshold").as("threshold"), col("x.n_pairs").as("n_pairs"),
        col("x.n_candidates").as("n_candidates"))
      .orderBy("threshold")
  }

  def ngramJaccard(s: SparkSession, d: String, maxDocId: Long = PairUniverseMaxDocId,
      threshold: Double = 0.8, sorted: Boolean = true): DataFrame = {
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), bigramShingles(spaceTokens(col("text"))).as("shingles"))
    val sizes = docs.select(col("doc_id"), size(col("shingles")).cast("long").as("n"))
    val exploded = docs.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val a = exploded.as("a")
    val b = exploded.as("b")
    val inter = a.join(b, col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("da"), col("b.doc_id").as("db"))
      .agg(count(lit(1)).as("n_inter"))
    val joined = inter
      .join(sizes.withColumnRenamed("doc_id", "da").withColumnRenamed("n", "na"), "da")
      .join(sizes.withColumnRenamed("doc_id", "db").withColumnRenamed("n", "nb"), "db")
      .withColumn("jac", col("n_inter") / (col("na") + col("nb") - col("n_inter")))
      .filter(col("jac") >= threshold)
      .select("da", "db", "n_inter", "na", "nb", "jac")
    if (sorted) joined.orderBy("da", "db") else joined
  }

  /** No-op: the module keeps no state across queries (the persisted
    * shingle corpus is freed by `spark.catalog.clearCache()`). Kept because
    * the benchmark harness (`perfbench` `Harness.resetState`) calls it. */
  def reset(): Unit = ()

  /** MinHash + LSH near-dup pairs — the linear-scale path. 128 minhashes,
    * 8 bands × 16 rows (tuned to catch J ≥ 0.9 with high probability while
    * keeping candidates sparse in this pathologically self-similar corpus),
    * exact Jaccard verification of candidates.
    *
    * ORACLED against the exact J ≥ 0.9 pair set: precision is 1.0 by
    * construction (candidates are verified before emission) and recall is
    * measured 1.0 on the fixtures at every SF (set-equality incl. jac
    * values confirmed at sf0.001/0.01/0.1), so the emitted set equals the
    * SQL-expressible ground truth. If a future change to the band
    * geometry or hash family drops recall below 1.0 here, the oracle
    * failing IS the regression signal (LlmOpsSpec's two-scale recall test
    * bounds it independently).
    */
  def minhashLsh(s: SparkSession, d: String, maxDocId: Long = 2000L,
      threshold: Double = 0.9): DataFrame = {
    val k = 128; val bands = 8; val rows = 16
    // The shingled corpus feeds three consumers (sketch, and both sides of
    // the verification join) — persist it once instead of recomputing the
    // scan+shingle subplan per consumer. At warehouse scale this is the
    // materialized sketch-input table every dedup pipeline keeps.
    val docs = Tables.documents(s, d)
      .filter(col("doc_id") < maxDocId)
      .select(col("doc_id"), bigramShingles(spaceTokens(col("text"))).as("shingles"))
      .persist()
    // The k-family sketch: explode shingle hashes, then ONE native
    // multi-min aggregate (plans/MinHashSketch, r12) instead of k = 128
    // separate min(xxhash64(seed, h)) aggregate expressions. Same values
    // bit-for-bit (MinHashSketchSpec: the aggregate calls the identical
    // XXH64 statics with the per-slot inner seeds hoisted), but the plan
    // and its codegen are O(1) in k — the relational form's ~700-node
    // aggregate was this query's dominant per-fresh-plan constant. The
    // earlier nested higher-order-function expression
    // (transform∘array_min∘transform) stays rejected: interpreted per
    // element, measured ~20× slower. Still one doc-keyed shuffle with
    // map-side partial mins (ObjectHashAggregate partial/final).
    val exploded = docs.select(col("doc_id"),
      explode(transform(col("shingles"), sh => xxhash64(sh))).as("h"))
    val sigs = exploded.groupBy("doc_id")
      .agg(graft.plans.MinHashSketch.minhash_sketch(col("h"), k).as("sig"))
    // Candidate pairs WITHOUT a self-join: group doc ids per band bucket and
    // emit intra-bucket combinations. A self-join would evaluate the whole
    // sketch subplan twice (broadcast joins defeat exchange reuse); this
    // shape computes it once and shuffles only (band, doc_id) pairs. Bucket
    // member lists are tiny by construction (a hot bucket means the docs
    // really are near-dups).
    val banded = sigs.select(col("doc_id"),
      explode(bandKeys(col("sig"), bands, rows)).as("band"))
    val buckets = banded.groupBy("band")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val cand = buckets
      .select(explode(flatten(transform(col("ids"),
        (a, i) => transform(slice(col("ids"), i + 2, size(col("ids"))),
          b => struct(a.as("da"), b.as("db")))))).as("p"))
      .select(col("p.da"), col("p.db"))
      .distinct()
    // re-attach shingles only for the (sparse) candidate set, then verify
    val sh = docs.select(col("doc_id"), col("shingles"))
    cand
      .join(sh.select(col("doc_id").as("da"), col("shingles").as("sha")), "da")
      .join(sh.select(col("doc_id").as("db"), col("shingles").as("shb")), "db")
      .withColumn("n_inter", size(array_intersect(col("sha"), col("shb"))))
      .withColumn("jac", col("n_inter") /
        (size(col("sha")) + size(col("shb")) - col("n_inter")))
      .filter(col("jac") >= threshold)
      .select("da", "db", "jac")
      .orderBy("da", "db")
  }

  /** SimHash signatures: 64-bit locality-sensitive fingerprints; identical
    * signatures (or small Hamming distance) flag near-dups in O(n).
    *
    * Token hash family is FNV-1a (the native `Fnv1a64` expression, running
    * inside codegen) rather than xxhash64 — deliberately: FNV-1a folds in
    * DuckDB as a HUGEINT reduce (the `q_fnv_buckets` technique), which
    * makes the full 64-bit signature SQL-expressible and turns this from a
    * rows-only check into an exact oracle. Locality behavior is identical
    * (LlmOpsSpec's Hamming tests don't care which universal family votes).
    */
  /** The shared tokenize→fnv1a64→simhash64 derivation — single source of
    * truth for both the signature query and the pairs query (mirrors the
    * shared `simhashSigSql` on the oracle side).
    */
  /** The 64-bit SimHash of a `text` column as a pure expression — usable
    * on batch AND streaming frames (StreamingBridge.simhashDedupViaStream
    * reuses it verbatim, so the streaming dedup can never drift from the
    * batch signature definition). */
  private[graft] def simhashCol: Column =
    // native one-pass SimHash (plans.SimHash64) — bit-identical to the
    // composed TextFunctions.simhash64 (SimHashSpec differential) but
    // without the 64-unrolled interpreted aggregate per row
    graft.plans.SimHash64.simhash64(
      transform(filter(spaceTokens(col("text")), t => t =!= lit("")),
        t => graft.plans.Fnv1a64.fnv1a64(t)))

  private[queries] def simhashSigs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), simhashCol.as("simhash"))

  def simhashSignatures(s: SparkSession, d: String): DataFrame =
    simhashSigs(s, d).orderBy("doc_id")

  /** SimHash near-dup PAIRS — signatures to answers, linearly: 64-bit
    * signatures split into 4 × 16-bit bands; docs sharing any band value
    * become candidates (per-bucket sorted lists, never a self-join — the
    * minhash shape); candidates verified by bit_count(xor) ≤ maxHamming.
    * Recall is EXACT by pigeonhole: ≤ 3 differing bits cannot touch all 4
    * bands, so every qualifying pair shares a band. Precision is exact by
    * verification. O(docs × 4) bucketing shuffle of (long, long) rows vs
    * O(docs²) comparisons — the Hamming analog of minhash banding.
    */
  def simhashPairs(s: SparkSession, d: String, maxHamming: Int = 3): DataFrame = {
    // pigeonhole recall holds only for maxHamming <= bands-1: 4 differing
    // bits can touch all 4 bands and the pair would silently never become
    // a candidate while still passing the verify threshold
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit banding is recall-exact only for Hamming <= 3, got $maxHamming")
    val sigs = simhashSigs(s, d)
    val banded = sigs.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftrightunsigned(col("simhash"), b * 16)
            .bitwiseAND(lit(0xffffL)).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    val buckets = banded.groupBy("band", "key")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("simhash")))).as("items"))
      .filter(size(col("items")) > 1)
    val cand = BucketPairs.pairs(buckets, "items", "a", "b")
      .select(col("a.doc_id").as("da"), col("a.simhash").as("sa"),
        col("b.doc_id").as("db"), col("b.simhash").as("sb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))))
      .filter(col("hamming") <= maxHamming)
      .select("da", "db", "hamming")
      .orderBy("da", "db")
  }

  /** Embedding-cosine near-dup pairs: vectors whose cosine similarity
    * exceeds the threshold, bounded candidate universe (the linear-scale
    * route is LSH bucketing first — sim_ann_lsh — then this verification
    * within buckets).
    */
  // Defaults tuned so the answer is NON-EMPTY at every test SF (the driver
  // corpus embeddings are near-random: max pairwise cosine ≈ 0.48/0.51/0.60
  // at sf0.001/0.01/0.1, so a 0.9 threshold verified nothing).
  def embeddingCosine(s: SparkSession, d: String, maxVecId: Long = 500L,
      threshold: Double = 0.4): DataFrame = {
    val e = Tables.embeddings(s, d)
      .filter(col("vec_id") < maxVecId)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("vec_id").as("va"), col("v").as("xa"))
    val b = e.select(col("vec_id").as("vb"), col("v").as("xb"))
    a.join(b, col("va") < col("vb"))
      .withColumn("sim",
        graft.plans.CosineSimilarity.cosine_sim(col("xa"), col("xb")))
      .filter(col("sim") > threshold)
      .select("va", "vb", "sim")
      .orderBy("va", "vb")
  }

  /** The LINEAR-scale route to the same embedding near-dup answer:
    * multi-table random-hyperplane LSH bucketing (same planes as
    * `sim_ann_topk`), intra-bucket candidate pairs via per-bucket sorted id
    * lists (the minhash no-self-join shape — the signature subplan is
    * computed once), fused-cosine verification. O(n × tables) bucketing
    * shuffle instead of O(n²) pairs; candidate volume collapses on corpora
    * with real cluster structure (here, isotropic-random, it IS near
    * all-pairs — the documented worst case). Deterministic planes → fully
    * oracled, like `sim_ann_topk`.
    *
    * Band geometry 4 bits × 24 tables: vs the 3-bit family this halves the
    * isotropic candidate volume (16 vs 8 buckets/table) while keeping
    * recall ≈ 0.985 for the weakest (sim = 0.4) pairs — 1-(1-0.633⁴)²⁴;
    * LlmOpsSpec's two-SF recall ≥ 0.9 bound is the regression guard.
    */
  def embeddingLsh(s: SparkSession, d: String, threshold: Double = 0.4,
      bits: Int = 4, tables: Int = 24): DataFrame = {
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // scale-aware band width (r10): `bits` is the fixture-era FLOOR; the
    // effective width grows with the measured corpus size so per-table
    // MEAN bucket occupancy stays ~125 vectors and candidate volume stays
    // bucket-bounded instead of Ω(n²/2^bits) — the sizing a production
    // near-dup pass uses. At every driver fixture SF the floor binds, so
    // those answers are unchanged; at sf10 (200k vectors) this reads 11
    // bits / 2 048 buckets per table. Measured there (r11, DuckDB bucket
    // histogram on the oracle's own sigs CTE): 4.30e9 candidate pairs
    // with per-table multiplicity vs 2.00e10 all-pairs — a 4.6×
    // reduction, NOT the hoped-for orders of magnitude, because random-
    // projection signatures are heavily skewed on this clustered upscale
    // (max bucket 14 813 of 200 000). Occupancy targeting bounds the
    // MEAN; residual sig-skew is inherent to hyperplane LSH and is why
    // the banded families (minhash/simhash) stay the primary near-dup
    // scale path, with this operator as the embedding-space verifier.
    // r12: footer-metadata count (zero Spark jobs per fresh plan) — the
    // same exact value the count() job returned; see Tables.rowCount
    val n = Tables.rowCount(s, d, "embeddings")
    val effBits = SimilarityQueries.scaledLshBits(n, legacy = bits)
    // single shared definition of the plane family — see lshTableSigs
    val sigs = SimilarityQueries.lshTableSigs(base, effBits, tables,
      legacyBits = bits)
    val buckets = sigs.groupBy("tbl", "sig")
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    // pair generation as two codegen'd Generates (posexplode + sliced
    // explode) — the nested-lambda struct form used for minhash is
    // interpreted per element, fine for its tiny near-dup buckets but ~5×
    // slower here where this corpus's isotropic worst case makes buckets
    // fat (sf0.1: 2000 vectors → ~1.7M candidate pairs)
    // blocked pair generation: isotropic corpora make these buckets FAT
    // (n/16 ids each), so the plain shape's parallelism caps at the
    // bucket count — the blocked form scales with pair volume
    val cand = BucketPairs.pairsBlocked(buckets, "ids", "va", "vb")
    val vecsById = base.select(col("vec_id"), col("v"))
    // vector-table joins hinted by MEASURED vector count — the candidate
    // stream dwarfs the vector table and its stats descend from the
    // bucket aggregate, so auto-planning sort-merge-joins the pair
    // stream past the auto-broadcast threshold (rationale at
    // SimilarityQueries.vecsFitBroadcast)
    val fit = SimilarityQueries.vecsFitBroadcast(s, n)
    def vside(df: DataFrame): DataFrame = if (fit) broadcast(df) else df
    // DISTINCT runs AFTER the cosine filter (r11, guide §2.3/§2.4 —
    // mirrors the same restructuring the sf10 oracle run forced on the
    // DuckDB side): deduping the raw multi-table pair stream shuffled
    // every candidate (sf0.1: ~3M rows, the query's largest exchange);
    // sim is deterministic per (va, vb), so scoring duplicates and
    // deduping the filtered survivors (~1k rows here) is answer-identical
    // while the pair stream stays fully pipelined generate→probe→score.
    cand
      .join(vside(vecsById.select(col("vec_id").as("va"), col("v").as("xa"))), "va")
      .join(vside(vecsById.select(col("vec_id").as("vb"), col("v").as("xb"))), "vb")
      .withColumn("sim",
        graft.plans.CosineSimilarity.cosine_sim(col("xa"), col("xb")))
      .filter(col("sim") > threshold)
      .select("va", "vb", "sim")
      .distinct()
      .orderBy("va", "vb")
  }

  /** The composed corpus-cleaning pipeline every training-data run executes:
    * quality gate → language gate → exact dedup (keep min doc_id per
    * fingerprint) → cleaned corpus stats. One declarative plan; Catalyst
    * fuses the gates into the scan.
    */
  def cleanCorpus(s: SparkSession, d: String): DataFrame = {
    val toks = spaceTokens(col("text"))
    val gated = Tables.documents(s, d)
      .filter(col("n_chars") >= 100 && size(toks) >= 20)
      .filter(array_contains(toks, "the")) // langid gate (en heuristic)
    val deduped = gated
      .groupBy(md5(col("text").cast("binary")).as("fp"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
    deduped.select(col("doc_id"), col("fp"), col("n_copies"))
      .orderBy("doc_id")
  }

  /** Incremental (cross-snapshot) dedup — the mode a 100 TB pipeline
    * actually runs: a NEW batch (doc_id >= 400) is admitted against the
    * fingerprint store of the EXISTING corpus (doc_id < 400) — never
    * re-deduping the whole corpus. Anti-join against the store, then
    * within-batch keep-min — both shuffles carry 32-byte fingerprints.
    * The fingerprint is the md5 of the sorted distinct token set
    * (word-order-insensitive canonicalization), which unlike raw-text md5
    * is non-vacuous on this corpus at every SF (reworded near-dups share
    * token sets: 11/16/631 cross-batch hits at sf0.001/0.01/0.1).
    */
  def dedupIncremental(s: SparkSession, d: String, batchMin: Long = 400L): DataFrame = {
    val fp = Tables.documents(s, d).select(col("doc_id"),
      md5(concat_ws(" ",
        array_sort(array_distinct(filter(spaceTokens(col("text")),
          t => t =!= lit(""))))).cast("binary")).as("fp"))
    val store = fp.filter(col("doc_id") < batchMin).select("fp").distinct()
    fp.filter(col("doc_id") >= batchMin)
      .join(store, Seq("fp"), "left_anti")
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_batch_copies"))
      .orderBy("keep_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_incremental" -> (dedupIncremental(_, _)),
    "dedup_embedding_cosine" -> (embeddingCosine(_, _)),
    "dedup_embedding_lsh" -> (embeddingLsh(_, _)),
    "pipeline_clean_corpus" -> (cleanCorpus(_, _)),
    "dedup_exact" -> (dedupExact(_, _)),
    "dedup_ngram_jaccard" -> (ngramJaccard(_, _)),
    "dedup_containment" -> (containmentPairs(_, _)),
    "dedup_threshold_curve" -> (thresholdCurve(_, _)),
    "dedup_minhash_lsh" -> (minhashLsh(_, _)),
    "dedup_simhash" -> (simhashSignatures(_, _)),
    "dedup_simhash_pairs" -> (simhashPairs(_, _))
  )

  val oracles: Map[String, String] = Map(
    // token-set canonical fingerprint; ASCII lowercase tokens ⇒ DuckDB
    // list_sort == Spark array_sort binary ordering
    "dedup_incremental" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |         md5(array_to_string(list_sort(list_distinct(
        |           list_filter(string_split(text, ' '), x -> x <> ''))), ' ')) AS fp
        |  FROM documents),
        |store AS (SELECT DISTINCT fp FROM fp WHERE doc_id < 400)
        |SELECT f.fp, min(f.doc_id) AS keep_id, count(*) AS n_batch_copies
        |FROM fp f
        |WHERE f.doc_id >= 400
        |  AND NOT EXISTS (SELECT 1 FROM store s WHERE s.fp = f.fp)
        |GROUP BY f.fp ORDER BY keep_id""".stripMargin,
    "dedup_embedding_cosine" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings WHERE vec_id < 500)
        |SELECT a.vec_id AS va, b.vec_id AS vb,
        |       list_cosine_similarity(a.v, b.v) AS sim
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) > 0.4
        |ORDER BY va, vb""".stripMargin,
    // band width computed from the corpus size by the same INTEGER rule as
    // scaledLshBits (never floating log2 — a float boundary must not be
    // able to disagree between engines); the VALUES list carries the full
    // MaxLshBits-per-table plane family and `bit < nb` selects the prefix.
    // sig folds with bit_or, not sum: the per-(vec_id,tbl) rows carry
    // disjoint powers of two so the answers are identical, but DuckDB's
    // sum(INTEGER) accumulates in INT128 and its spilled external
    // aggregate miscasts that state at sf10 volumes (observed r11) —
    // bit_or stays INTEGER end-to-end.
    // the pair stream is never materialized: DISTINCT runs AFTER the
    // cosine filter (sim is deterministic per (va,vb), so deduping
    // (va,vb,sim) post-score is answer-identical), and the vectors ride
    // INTO the bucket self-join on the signature rows (svecs) so the
    // ~4.3e9-pair sf10 stream flows scan→probe→cosine→filter in one
    // pipeline with a 4.8M-row build side. Both a DISTINCT on the raw
    // pairs and a pairs-then-vectors join shape materialized the stream
    // (~70 GB, exceeds the sandbox disk — observed r11, twice).
    "dedup_embedding_lsh" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |nb AS (SELECT coalesce(min(b), ${SimilarityQueries.MaxLshBits}) AS b
         |       FROM (SELECT unnest(generate_series(4, ${SimilarityQueries.MaxLshBits})) AS b),
         |            (SELECT count(*) AS n FROM e)
         |       WHERE 125 * (CAST(1 AS BIGINT) << b) >= n),
         |p(tbl, bit, pl) AS (VALUES ${SimilarityQueries.planeRowsSqlScaled(24, 4)}),
         |bits AS (
         |  SELECT e.vec_id, p.tbl,
         |         CASE WHEN list_dot_product(e.v, p.pl) > 0
         |              THEN 1 << p.bit ELSE 0 END AS b
         |  FROM e CROSS JOIN p
         |  WHERE p.bit < (SELECT b FROM nb)),
         |sigs AS (SELECT vec_id, tbl, CAST(bit_or(b) AS INT) AS sig
         |         FROM bits GROUP BY vec_id, tbl),
         |svecs AS (SELECT s.vec_id, s.tbl, s.sig, e.v
         |          FROM sigs s JOIN e USING (vec_id))
         |SELECT DISTINCT va, vb, sim FROM (
         |  SELECT a.vec_id AS va, b.vec_id AS vb,
         |         list_cosine_similarity(a.v, b.v) AS sim
         |  FROM svecs a
         |  JOIN svecs b ON a.tbl = b.tbl AND a.sig = b.sig
         |              AND a.vec_id < b.vec_id)
         |WHERE sim > 0.4
         |ORDER BY va, vb""".stripMargin,
    "pipeline_clean_corpus" ->
      """SELECT min(doc_id) AS doc_id, md5(text) AS fp, count(*) AS n_copies
        |FROM documents
        |WHERE n_chars >= 100
        |  AND len(string_split(text, ' ')) >= 20
        |  AND list_contains(string_split(text, ' '), 'the')
        |GROUP BY md5(text)
        |ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "dedup_threshold_curve" -> {
      val selects = (50 to 95 by 5).map { t =>
        s"""SELECT CAST(0.$t AS DOUBLE) AS threshold,
           |  CAST(sum(CASE WHEN jac >= 0.$t THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_pairs,
           |  CAST(count(*) AS BIGINT) AS n_candidates FROM scored""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH sh AS (
         |  SELECT doc_id,
         |         list_distinct(list_transform(list_zip(l[1:len(l)-1], l[2:len(l)]),
         |                                      x -> x[1] || ' ' || x[2])) AS shingles
         |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents
         |        WHERE doc_id < 500)
         |), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh
         |), ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh
         |), inter AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_inter
         |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |), scored AS (
         |  SELECT n_inter / (sa.n + sb.n - n_inter) AS jac
         |  FROM inter
         |  JOIN sizes sa ON da = sa.doc_id
         |  JOIN sizes sb ON db = sb.doc_id)
         |$selects
         |ORDER BY threshold""".stripMargin
    },
    "dedup_containment" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(list_zip(l[1:len(l)-1], l[2:len(l)]),
        |                                      x -> x[1] || ' ' || x[2])) AS shingles
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |        WHERE doc_id < 500)
        |), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh
        |), ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh
        |), inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, n_inter, sa.n AS na, sb.n AS nb,
        |       n_inter / sa.n AS cont_ab,
        |       n_inter / sb.n AS cont_ba,
        |       n_inter / (sa.n + sb.n - n_inter) AS jac
        |FROM inter
        |JOIN sizes sa ON da = sa.doc_id
        |JOIN sizes sb ON db = sb.doc_id
        |WHERE greatest(n_inter / sa.n, n_inter / sb.n) >= 0.9
        |ORDER BY da, db""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(list_zip(l[1:len(l)-1], l[2:len(l)]),
        |                                      x -> x[1] || ' ' || x[2])) AS shingles
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |        WHERE doc_id < 500)
        |), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh
        |), ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh
        |), inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, n_inter, sa.n AS na, sb.n AS nb,
        |       n_inter / (sa.n + sb.n - n_inter) AS jac
        |FROM inter
        |JOIN sizes sa ON da = sa.doc_id
        |JOIN sizes sb ON db = sb.doc_id
        |WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.8
        |ORDER BY da, db""".stripMargin,
    // the exact J >= 0.9 pair set over the LSH universe (doc_id < 2000):
    // equals the LSH output because precision and (measured) recall are
    // both 1.0 — see minhashLsh scaladoc
    "dedup_minhash_lsh" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |         list_distinct(list_transform(list_zip(l[1:len(l)-1], l[2:len(l)]),
        |                                      x -> x[1] || ' ' || x[2])) AS shingles
        |  FROM (SELECT doc_id, string_split(text, ' ') AS l FROM documents
        |        WHERE doc_id < 2000)
        |), sizes AS (SELECT doc_id, len(shingles) AS n FROM sh
        |), ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh
        |), inter AS (
        |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS n_inter
        |  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT da, db, n_inter / (sa.n + sb.n - n_inter) AS jac
        |FROM inter
        |JOIN sizes sa ON da = sa.doc_id
        |JOIN sizes sb ON db = sb.doc_id
        |WHERE n_inter / (sa.n + sb.n - n_inter) >= 0.9
        |ORDER BY da, db""".stripMargin,
    // full 64-bit SimHash re-derived in SQL: FNV-1a per token as a HUGEINT
    // fold (codepoint==byte on this ASCII corpus, as in q_fnv_buckets),
    // per-bit ±1 votes over 64 unnested bit positions, signature assembled
    // from positive-vote bits and wrapped to the signed BIGINT Spark emits
    // (the shared `signed` CTE chain in simhashSigSql)
    "dedup_simhash" ->
      s"""$simhashSigSql
         |SELECT doc_id, simhash FROM signed ORDER BY doc_id""".stripMargin,
    // band blocking is recall-exact by pigeonhole, so the oracle needs no
    // bucketing — the answer set is simply all pairs at Hamming <= 3
    "dedup_simhash_pairs" ->
      s"""$simhashSigSql
         |SELECT a.doc_id AS da, b.doc_id AS db,
         |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         |FROM signed a JOIN signed b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY da, db""".stripMargin
  )

  /** The signature re-derivation shared by both simhash oracles, ending in
    * `signed(doc_id, simhash BIGINT)`.
    */
  private[queries] lazy val simhashSigSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
      |), hashed AS (
      |  SELECT doc_id,
      |         list_reduce(
      |           list_prepend(14695981039346656037::HUGEINT,
      |             list_transform(string_split_regex(t, ''),
      |                            c -> unicode(c)::HUGEINT)),
      |           (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
      |                     % 18446744073709551616::HUGEINT) AS h
      |  FROM toks WHERE t <> ''
      |), bits AS (
      |  SELECT doc_id, j,
      |         sum(CASE WHEN (h // (1::HUGEINT << j)) % 2 = 1
      |                  THEN 1 ELSE -1 END) AS vote
      |  FROM hashed CROSS JOIN (SELECT unnest(range(64)) AS j) b
      |  GROUP BY doc_id, j
      |), sig AS (
      |  SELECT doc_id,
      |         sum(CASE WHEN vote > 0 THEN (1::HUGEINT << j)
      |                  ELSE 0::HUGEINT END) AS u
      |  FROM bits GROUP BY doc_id
      |), signed AS (
      |  SELECT doc_id,
      |         CASE WHEN u >= (1::HUGEINT << 63)
      |              THEN (u - (1::HUGEINT << 64))::BIGINT
      |              ELSE u::BIGINT END AS simhash
      |  FROM sig)""".stripMargin
}
