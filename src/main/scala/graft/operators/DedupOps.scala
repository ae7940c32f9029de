package graft.operators

import graft.{Engine, Q}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines over `documents`.
  *
  * Scale design (100 TB): every pipeline is
  *   per-row signature (map-side, codegen'd expressions)
  *   -> shuffle keyed on a *bounded-width* bucket key (band hash / simhash
  *      band / shingle with a document-frequency cap)
  *   -> pair verification inside buckets only.
  * No driver-side collection, no cross join of the full corpus. Hot-key
  * blowup is bounded by the DF cap / band width; AQE skew-join splitting
  * handles residual skew.
  */
object DedupOps {

  private def t(s: SparkSession, d: String, n: String): DataFrame = {
    Engine.configure(s)
    Engine.table(s, d, n)
  }

  // ---- shared signature plumbing -----------------------------------------
  // Signatures use the native codegen'd kernels (TextSignatures): word
  // 3-gram FNV hashes and the 64-permutation MinHash, one tight loop per
  // row each — higher-order-function lambdas are interpreted in Spark and
  // cost ~10x on the 100 TB hot path.

  /** Distinct word-3-gram FNV-1a hashes of lower(text). */
  private def shingleHashes(text: Column): Column =
    call_function("shingle_hashes", text, lit(3))

  // ---- operators ---------------------------------------------------------

  /** Exact dedup: hash-groupBy on content hash, keep the smallest doc_id
    * (deterministic survivor). One shuffle on a 128-bit key.
    */
  val exact: Q = Q("dedup_exact",
    (s, d) => t(s, d, "documents")
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id")),
    Some("""SELECT MD5(text) AS content_hash, MIN(doc_id) AS keep_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY MD5(text) ORDER BY keep_id""".stripMargin))

  /** Deterministic planted twins for the oracle gate: every `every`-th
    * row duplicated at `id + TwinOffset` with identical payload. An
    * identical payload is GUARANTEED to collide in every signature
    * scheme (equal minhash/simhash/sign bits), so the twin pair list is
    * predictable by the DuckDB oracle without replicating any engine
    * hash — which makes the full banding/join pipeline hash-checkable.
    */
  private[operators] val TwinOffset = 10000000L

  // star-contraction round bound for the dedup cluster passes
  // (GraphOps.connectedComponents): rounds past the fixpoint stop on
  // the stable edge-set signature, so the margin costs nothing
  private[graft] val CcRounds = 20

  private def plantTwins(df: DataFrame, idCol: String,
      every: Int): DataFrame =
    df.unionByName(df.filter(col(idCol) % every === 0)
      .withColumn(idCol, col(idCol) + TwinOffset))

  /** Band a (doc_id, text, ...) relation: one row per (doc, band) with
    * the 64-hash MinHash signature banded into 16 x 4-row buckets;
    * every non-text input column rides through (so a streaming caller
    * keeps its event-time column and the watermark attached to it).
    * Works on any relation with those columns — including a streaming
    * one (the expressions are all map-side), which is how
    * [[graft.streaming.StreamNearDedup]] reuses the exact batch
    * banding.
    */
  def minhashBandify(docs: DataFrame): DataFrame = {
    val keep = docs.columns.filter(_ != "text").toSeq.map(col)
    docs
      .withColumn("sh", shingleHashes(col("text")))
      .filter(size(col("sh")) > 0)
      .withColumn("sig", call_function("minhash64", col("sh")))
      .select(keep ++ Seq(col("sig"),
        posexplode(transform(sequence(lit(0), lit(15)),
          b => xxhash64(slice(col("sig"), b * 4 + 1, lit(4)), b)))
          .as(Seq("band_idx", "band_hash"))): _*)
  }

  /** One row per (doc, band) over the documents table. Shared by the
    * pair path ([[minhashPairs]]) and the cluster-feeding star path
    * ([[minhashStarEdges]]).
    */
  def minhashBands(s: SparkSession, d: String, planted: Boolean): DataFrame = {
      val base = t(s, d, "documents").select(col("doc_id"), col("text"))
      // shingle+minhash is the expensive map step over a single-task
      // scan — fan out first (guide §2.5; batch path only, the
      // streaming caller goes through minhashBandify directly)
      minhashBandify(Engine.fanOut(
        if (planted) plantTwins(base, "doc_id", 20) else base,
        col("doc_id")))
  }

  /** MinHash + LSH near-dup candidates: 64-hash signature, 16 bands x 4
    * rows (s-curve threshold ~0.5 Jaccard), candidates = pairs sharing a
    * band bucket, verified by signature agreement >= 0.35.
    *
    * `planted = false` is the organic semantic — every banded pair over
    * the real corpus at the 0.35 threshold (DedupOrganicSpec pins it
    * end-to-end). `planted = true` (the driver entry) unions identical
    * twins and projects the twin pairs, making the full
    * shingle->signature->band-join pipeline hash-checkable: an identical
    * payload collides in every band with agreement exactly 64/64.
    */
  def minhashPairs(s: SparkSession, d: String, planted: Boolean): DataFrame = {
      val bands = minhashBands(s, d, planted)
      val a = bands.select(col("band_idx"), col("band_hash"),
        col("doc_id").as("doc_a"), col("sig").as("sig_a"))
      val b = bands.select(col("band_idx"), col("band_hash"),
        col("doc_id").as("doc_b"), col("sig").as("sig_b"))
      val verified = a.join(b, Seq("band_idx", "band_hash"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          (size(filter(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => x === y), p => p)) / lit(64.0)).as("est_jaccard"))
        .distinct()
        .filter(col("est_jaccard") >= 0.35)
      (if (planted)
        verified.filter(col("doc_b") === col("doc_a") + TwinOffset)
      else verified)
        .orderBy(col("doc_a"), col("doc_b"))
  }

  val minhashLsh: Q = Q("dedup_minhash",
    (s, d) => minhashPairs(s, d, planted = true),
    // a twin exists iff the doc has >= 3 whitespace tokens (word-3-gram
    // shingles nonempty); its signature agreement is exactly 64/64
    Some("""SELECT doc_id AS doc_a, doc_id + 10000000 AS doc_b,
      |  CAST(1.0 AS DOUBLE) AS est_jaccard
      |FROM documents
      |WHERE doc_id % 20 = 0
      |  AND LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'),
      |      t -> t <> '')) >= 3
      |ORDER BY doc_a, doc_b""".stripMargin))

  /** Band a (doc_id, text, ...) relation with the 64-bit SimHash split
    * into 4 x 16-bit bands; every non-text column rides through, and
    * the expressions are all map-side — so a streaming caller keeps
    * its event-time/watermark columns, exactly like [[minhashBandify]].
    *
    * Guards for the advertised any-relation reuse: a pre-existing
    * `sh`/`band_idx`/`band_val` column would be silently overwritten,
    * so it is rejected instead; and zero-token documents are dropped
    * before hashing — an empty token stream simhashes to the same
    * degenerate value for every such doc, which would chain ALL empty
    * documents into one Hamming-0 mega-cluster.
    */
  def simhashBandify(docs: DataFrame): DataFrame = {
    val reserved = Seq("sh", "band_idx", "band_val", "__toks")
      .filter(docs.columns.contains)
    require(reserved.isEmpty,
      s"simhashBandify input must not have columns ${reserved.mkString(",")}")
    val keep = docs.columns.filter(_ != "text").toSeq.map(col)
    docs
      .withColumn("__toks", call_function("token_hashes", col("text")))
      .filter(size(col("__toks")) > 0)
      .withColumn("sh", call_function("graft_simhash", col("__toks")))
      .select(keep ++ Seq(col("sh"),
        posexplode(transform(sequence(lit(0), lit(3)),
          b => call_function("shiftrightunsigned", col("sh"), b * 16)
            .bitwiseAND(lit(0xffffL))))
          .as(Seq("band_idx", "band_val"))): _*)
  }

  /** One row per (doc, band): the 64-bit SimHash split into 4 x 16-bit
    * bands. Shared by [[simhashPairs]] and [[simhashStarEdges]].
    */
  def simhashBands(s: SparkSession, d: String, planted: Boolean): DataFrame = {
      Engine.configure(s)
      val base = t(s, d, "documents").select(col("doc_id"), col("text"))
      // tokenize+simhash is the expensive map step over a single-task
      // scan — fan out first (guide §2.5)
      simhashBandify(Engine.fanOut(
        if (planted) plantTwins(base, "doc_id", 20) else base,
        col("doc_id")))
  }

  /** SimHash near-dup candidates: 64-bit simhash (custom codegen'd
    * expression), 4 x 16-bit bands, pairs sharing a band verified by
    * Hamming distance <= 6. `planted` as in [[minhashPairs]]: false =
    * the organic banded pairs at the Hamming threshold, true = the
    * twin-projected driver entry (identical token streams -> identical
    * simhash -> Hamming 0).
    */
  def simhashPairs(s: SparkSession, d: String, planted: Boolean): DataFrame = {
      val bands = simhashBands(s, d, planted)
      val a = bands.select(col("band_idx"), col("band_val"),
        col("doc_id").as("doc_a"), col("sh").as("sh_a"))
      val b = bands.select(col("band_idx"), col("band_val"),
        col("doc_id").as("doc_b"), col("sh").as("sh_b"))
      val verified = a.join(b, Seq("band_idx", "band_val"))
        .filter(col("doc_a") < col("doc_b"))
        .select(col("doc_a"), col("doc_b"),
          bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
        .distinct()
        .filter(col("hamming") <= 6)
      (if (planted)
        verified.filter(col("doc_b") === col("doc_a") + TwinOffset)
      else verified)
        .orderBy(col("doc_a"), col("doc_b"))
  }

  val simhash: Q = Q("dedup_simhash",
    (s, d) => simhashPairs(s, d, planted = true),
    // identical token streams give identical simhashes: hamming 0
    Some("""SELECT doc_id AS doc_a, doc_id + 10000000 AS doc_b,
      |  CAST(0 AS INT) AS hamming
      |FROM documents WHERE doc_id % 20 = 0
      |ORDER BY doc_a, doc_b""".stripMargin))

  /** Min-representative ("star") edge emission over LSH band buckets —
    * the cluster-feeding default. All-pairs emission is quadratic in
    * clique size: a k-way dup group collides in every band and emits
    * C(k,2) pairs per band (the 10x sweep's 100%-dup corpus ran 6.5x
    * super-linear). For dedup the pairs are only consumed by connected
    * components, and a star — each bucket member linked to the bucket's
    * min doc_id — has IDENTICAL transitive closure to the bucket clique
    * while emitting k-1 edges (ClusterSpec pins the equivalence).
    * No signature-verify step on the MINHASH path: banding itself is
    * the similarity threshold (16 bands x 4 rows, s-curve ~0.5), the
    * same bucket-is-candidate semantic production MinHash dedup
    * pipelines use; the verified candidate-PAIR semantic (with its
    * est_jaccard / hamming evidence) stays on
    * [[minhashPairs]]/[[simhashPairs]]. The SIMHASH star path does NOT
    * use this helper — its 16-bit buckets chance-collide at corpus
    * scale, so [[simhashStarEdgesOf]] Hamming-verifies each edge.
    *
    * Shape at 100 TB: ONE pass over the banded signatures — the
    * bucket min is a window aggregate over the band keys (one
    * shuffle), then a distinct on the edge (second shuffle). The
    * groupBy-reps + join-back alternative reads clean but plans TWO
    * scans + shingle/minhash passes over the corpus: the agg and probe
    * subtrees differ by an isnotnull join-key filter, so AQE exchange
    * reuse cannot dedup them (PlanBudgetSpec pins the one scan).
    */
  private def starEdges(bands: DataFrame, bucketCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col(bucketCol))
    bands.select(col("band_idx"), col(bucketCol), col("doc_id"))
      .withColumn("doc_a", min(col("doc_id")).over(w))
      .filter(col("doc_id") > col("doc_a"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash star edges for cluster feeding (see [[starEdges]]). */
  def minhashStarEdges(s: SparkSession, d: String): DataFrame =
    starEdges(minhashBands(s, d, planted = false), "band_hash")

  /** Star edges over an arbitrary (doc_id, text) relation — the
    * batch-side reference for the streaming operator's equivalence
    * spec.
    */
  def minhashStarEdgesOf(docs: DataFrame): DataFrame =
    starEdges(minhashBandify(docs), "band_hash")

  /** SimHash star edges, Hamming-verified. The bucket-is-candidate
    * semantic that justifies unverified MinHash star emission does NOT
    * transfer to simhash: a 16-bit band has only 65536 buckets, so at
    * corpus scale unrelated documents chance-collide routinely and an
    * unverified transitive closure would chain unrelated clusters
    * together. Here each bucket's min-(doc_id, simhash) representative
    * is a window aggregate (still ONE corpus scan, same shape as
    * [[starEdges]]) and an edge is emitted only when the member is
    * within Hamming <= 6 of the representative's full 64-bit simhash —
    * the same verify threshold as [[simhashPairs]]. Edges are therefore
    * a subset of the verified pair set (rep is a bucket member), so the
    * closure can only merge documents some verified pair connects.
    *
    * RECALL ASYMMETRY (deliberate, ClusterSpec quantifies it): members
    * verify only against the bucket REPRESENTATIVE, so two docs within
    * Hamming <= 6 of each other but both > 6 from the rep get no edge
    * from that bucket — the star closure can SPLIT clusters the
    * verified-pair closure connects (the minhash star's subsumption
    * property does NOT hold here). That is the price of one-scan star
    * emission with chance-collision safety; pipelines needing the full
    * verified-pair recall use [[simhashStarEdgesFullOf]] (star + a
    * residual pair-verify pass, closure EQUAL to [[simhashPairs]]'s) or
    * [[simhashPairs]] itself as the cluster feed instead.
    */
  def simhashStarEdgesOf(bands: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band_idx"), col("band_val"))
    bands.select(col("band_idx"), col("band_val"), col("doc_id"), col("sh"))
      .withColumn("rep", min(struct(col("doc_id"), col("sh"))).over(w))
      .filter(col("doc_id") > col("rep.doc_id") &&
        bit_count(col("sh").bitwiseXOR(col("rep.sh"))) <= 6)
      .select(col("rep.doc_id").as("doc_a"), col("doc_id").as("doc_b"))
      .distinct()
  }

  /** SimHash star edges for cluster feeding (see [[simhashStarEdgesOf]]). */
  def simhashStarEdges(s: SparkSession, d: String): DataFrame =
    simhashStarEdgesOf(simhashBands(s, d, planted = false))

  /** [[simhashStarEdgesOf]] plus a RESIDUAL pair-verify pass that closes
    * the star's recall gap, with the transitive closure EQUAL to the
    * verified-pair closure of [[simhashPairs]] (ClusterSpec pins exact
    * label-map equality). Three edge levels:
    *  1. identical simhashes collapse to a per-(bucket, sh)
    *     representative; replicas chain to it at Hamming 0 (k-1 edges
    *     per replica clique — identical docs are interchangeable, so
    *     everything downstream runs over DISTINCT simhashes);
    *  2. star edges over the distinct representatives (rep = bucket
    *     min, verify Hamming <= 6 — same as the plain star);
    *  3. representatives failing the rep verify are re-verified
    *     all-pairs against the bucket's distinct representatives.
    * Every verified pair is either same-sh (level 1), rep-covered
    * (level 2, connected through the rep), or touches a residual
    * representative (level 3) — hence closure equality.
    *
    * Scale shape: ONE corpus scan (PlanBudgetSpec pins it — all three
    * branches reuse the level-0 window exchange); edge count is linear
    * in replica cliques and quadratic ONLY in distinct residual sh
    * values per bucket (the naive member-level residual pass emitted
    * 106M edges on the 100x sweep's 100%-dup corpus; this emits ~600k,
    * NOTES r11).
    */
  def simhashStarEdgesFullOf(bands: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // vacuous null guards, applied EXPLICITLY at the shared root: the
    // residual branch's joins/filters infer isnotnull on the band key,
    // doc_id and sh for THEIR copies of the shared subtrees, which would
    // otherwise differ from the other branches' and defeat AQE exchange
    // reuse — the corpus would run shingle/simhash once per branch (the
    // r9 lesson, NOTES.md; PlanBudgetSpec pins the scan budget)
    val base = bands
      .select(col("band_idx"), col("band_val"), col("doc_id"), col("sh"))
      .filter(col("band_val").isNotNull && col("doc_id").isNotNull &&
        col("sh").isNotNull)
    // LEVEL 0 — collapse identical simhashes: one representative per
    // distinct (bucket, sh); replicas chain to it at Hamming 0 (always
    // a verified pair). Without this the residual pass is quadratic in
    // dup-CLIQUE size: on the 100x sweep's 100%-dup corpus the naive
    // residual re-verify emitted 106M edges (every replica of a text
    // re-checked individually); over distinct simhashes it is quadratic
    // only in distinct residual VALUES per bucket, which banding keeps
    // small.
    val wSh = Window.partitionBy(col("band_idx"), col("band_val"), col("sh"))
    val withSrep = base.withColumn("srep", min(col("doc_id")).over(wSh))
    val zeroEdges = withSrep.filter(col("doc_id") > col("srep"))
      .select(col("srep").as("doc_a"), col("doc_id").as("doc_b"))
    val distinctSh = withSrep.filter(col("doc_id") === col("srep"))
      .select(col("band_idx"), col("band_val"), col("doc_id"), col("sh"))
    // star + residual over the distinct-sh representatives only
    val w = Window.partitionBy(col("band_idx"), col("band_val"))
    val withRep = distinctSh
      .withColumn("rep", min(struct(col("doc_id"), col("sh"))).over(w))
      .filter(col("doc_id") > col("rep.doc_id"))
      .withColumn("dist", bit_count(col("sh").bitwiseXOR(col("rep.sh"))))
    val star = withRep.filter(col("dist") <= 6)
      .select(col("rep.doc_id").as("doc_a"), col("doc_id").as("doc_b"))
    val residual = withRep.filter(col("dist") > 6)
      .select(col("band_idx"), col("band_val"),
        col("doc_id").as("r_id"), col("sh").as("r_sh"))
    val members = distinctSh.select(col("band_idx"), col("band_val"),
      col("doc_id").as("m_id"), col("sh").as("m_sh"))
    val residualEdges = residual.join(members, Seq("band_idx", "band_val"))
      .filter(col("r_id") =!= col("m_id") &&
        bit_count(col("r_sh").bitwiseXOR(col("m_sh"))) <= 6)
      .select(least(col("r_id"), col("m_id")).as("doc_a"),
        greatest(col("r_id"), col("m_id")).as("doc_b"))
    zeroEdges.union(star).union(residualEdges).distinct()
  }

  /** Full-recall simhash star edges over the documents table (see
    * [[simhashStarEdgesFullOf]]).
    */
  def simhashStarEdgesFull(s: SparkSession, d: String): DataFrame =
    simhashStarEdgesFullOf(simhashBands(s, d, planted = false))

  /** Driver entry for the full-recall simhash star: planted identical
    * twins must ALWAYS land in one cluster of the edge closure — the
    * level-0 same-simhash collapse links a twin pair directly, so
    * unlike the plain star (where twins drop together when every
    * shared bucket's rep is > Hamming 6 away) the outcome is exactly
    * predictable: every doc with >= 1 whitespace token reports
    * twin_linked = true. The inner joins make a doc MISSING from the
    * closure a row-count mismatch, so the oracle checks universe
    * membership too, not just the flag.
    */
  val simhashFull: Q = Q("dedup_simhash_full",
    (s, d) => {
      val comps = GraphOps.connectedComponents(
        simhashStarEdgesFullOf(simhashBands(s, d, planted = true))
          .select(col("doc_a").as("x"), col("doc_b").as("y")), CcRounds)
      val base = t(s, d, "documents")
        .filter(col("doc_id") % 20 === 0 &&
          size(call_function("token_hashes", col("text"))) >= 1)
        .select(col("doc_id"))
      base
        .join(comps.select(col("node").as("doc_id"),
          col("component").as("c1")), Seq("doc_id"))
        .join(comps.select((col("node") - TwinOffset).as("doc_id"),
          col("component").as("c2")), Seq("doc_id"))
        .select(col("doc_id"), (col("c1") === col("c2")).as("twin_linked"))
        .orderBy(col("doc_id"))
    },
    // a twin exists iff the doc has >= 1 whitespace token (simhash
    // eligibility after the zero-token guard); the pair always links
    Some("""SELECT doc_id, TRUE AS twin_linked FROM documents
      |WHERE doc_id % 20 = 0
      |  AND LEN(LIST_FILTER(STRING_SPLIT_REGEX(text, '\s+'),
      |      t -> t <> '')) >= 1
      |ORDER BY doc_id""".stripMargin))

  /** Exact n-gram Jaccard via an inverted shingle index: explode distinct
    * shingles, cap document frequency (drops stop-shingles — bounds the
    * self-join fan-out at scale), count shared shingles per pair, Jaccard
    * >= 0.3. No approximation: this is the verifier MinHash approximates.
    *
    * One-pass index (r9 plan audit): the doc's shingle-set SIZE rides
    * the exploded rows and the DF cap is a window count over the
    * shingle key — the earlier sizes-joins + rare-set-join formulation
    * planned SIX corpus scans (each re-running tokenization), because
    * the renamed/filtered subtrees defeat AQE exchange reuse. Only the
    * inherent a/b self-join reads the index twice now.
    */
  def ngramJaccardPairs(s: SparkSession, d: String,
      planted: Boolean): DataFrame = {
      val base = t(s, d, "documents").select(col("doc_id"), col("text"))
      // shingle hashing is the expensive map step over a near-single-
      // task scan — fan out first, like the minhash/simhash band paths
      // (guide §2.5; the gate skips the exchange on multi-task scans).
      // r15 A/B (min of 3, idle host): fanOut 1.20 s vs plain 1.26 s —
      // small here (the sf0.1 scan already splits 3-ways), the win is
      // the single-file worst case. A capped-index materialization was
      // ALSO tried (kill the a/b self-join's double derivation): 1.65 s
      // — the checkpoint write+read cost more than the second
      // derivation at this scale, so it was reverted.
      val doc = Engine.fanOut(
          if (planted) plantTwins(base, "doc_id", 20) else base,
          col("doc_id"))
        .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
        .filter(size(col("sh")) > 0)
      val inv = doc.select(col("doc_id"), size(col("sh")).as("n_sh"),
        explode(col("sh")).as("shingle"))
      // document-frequency cap: shingles appearing in >50 docs carry no
      // dedup signal and would otherwise explode the join
      val wDf = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shingle"))
      // materialize the capped inverted index ONCE: the a/b self-join
      // below reads it twice, and differently-aliased subtrees defeat
      // exchange reuse — uncheckpointed, the WHOLE tokenize->shingle->
      // window pipeline planned and ran twice (r15 plan dump: two
      // Window+Exchange subtrees; guide §2.4 / §3.3 "materialise an
      // intermediate to truncate the plan")
      val capped = inv
        .withColumn("df", count(lit(1)).over(wDf))
        .filter(col("df") <= 50)
        .select(col("shingle"), col("doc_id"), col("n_sh"))
      val pairs = capped
        .select(col("shingle"), col("doc_id").as("doc_a"), col("n_sh").as("na"))
        .join(capped.select(col("shingle"), col("doc_id").as("doc_b"),
          col("n_sh").as("nb")), Seq("shingle"))
        .filter(col("doc_a") < col("doc_b"))
        // na/nb are functions of doc_a/doc_b — extra keys, no cardinality
        .groupBy(col("doc_a"), col("doc_b"), col("na"), col("nb"))
        .agg(count(lit(1)).as("shared"))
      val verified = pairs
        .select(col("doc_a"), col("doc_b"),
          (col("shared").cast("double") /
            (col("na") + col("nb") - col("shared"))).as("jaccard"))
        .filter(col("jaccard") >= 0.3)
      (if (planted)
        verified.filter(col("doc_b") === col("doc_a") + TwinOffset)
      else verified)
        .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact n-gram Jaccard driver entry (planted twins; see
    * [[ngramJaccardPairs]]).
    */
  val ngramJaccard: Q = Q("dedup_ngram_jaccard",
    (s, d) => ngramJaccardPairs(s, d, planted = true),
    // FULL semantic mirror, no hashes: DuckDB recomputes the word-3-gram
    // sets as strings, the document-frequency cap over the planted
    // corpus, the shared counts and the exact double Jaccard — shingle
    // hashing is injective up to 64-bit collisions, so the string-set
    // computation is the same math
    Some("""WITH base AS (SELECT doc_id, text FROM documents),
      |corpus AS (SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 10000000, text FROM base WHERE doc_id % 20 = 0),
      |toks AS (SELECT doc_id,
      |    LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
      |                t -> t <> '') tk
      |  FROM corpus),
      |sh AS (SELECT doc_id,
      |    LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(tk) - 2),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) shs
      |  FROM toks WHERE LEN(tk) >= 3),
      |sizes AS (SELECT doc_id, LEN(shs) n_sh FROM sh),
      |inv AS (SELECT doc_id, UNNEST(shs) shingle FROM sh),
      |rare AS (SELECT shingle FROM inv GROUP BY shingle
      |         HAVING COUNT(*) <= 50),
      |capped AS (SELECT inv.doc_id, inv.shingle
      |           FROM inv JOIN rare USING (shingle)),
      |pairs AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) shared
      |          FROM capped a JOIN capped b USING (shingle)
      |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
      |j AS (SELECT doc_a, doc_b,
      |        CAST(shared AS DOUBLE) / (sa.n_sh + sb.n_sh - shared) jaccard
      |      FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
      |                 JOIN sizes sb ON sb.doc_id = doc_b)
      |SELECT doc_a, doc_b, jaccard FROM j
      |WHERE jaccard >= 0.3 AND doc_b = doc_a + 10000000
      |ORDER BY doc_a, doc_b""".stripMargin))

  /** Edit-distance fuzzy dedup: the Levenshtein-verified sibling of
    * [[ngramJaccardPairs]]. Candidates come from the same word-3-gram
    * inverted index (DF cap 50, >= 2 shared rare shingles); the verify
    * is Spark's BANDED levenshtein(a, b, threshold) — O(k*n) per pair
    * instead of O(n*m), returning -1 past the band, so a blown-up
    * candidate (two long docs sharing boilerplate shingles) costs the
    * band, not the full DP table. A pair survives if dist <= 40 AND
    * dist*4 <= max(len) (the relative criterion that makes 40 edits
    * "near" for a 553-char doc but not a 48-char one). Planted twins
    * carry a VARYING true distance — text || repeat(" x", doc_id % 4),
    * i.e. 0/2/4/6 pure insertions — so the oracle checks exact
    * distances, not just pair survival. Scale shape: the inverted
    * index shuffles ids only; texts are fetched per *candidate pair*
    * by two id joins, never carried through the shingle explosion.
    */
  def editDistancePairs(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "documents").select(col("doc_id"), col("text"))
    val twins = base.filter(col("doc_id") % 20 === 0)
      .select((col("doc_id") + TwinOffset).as("doc_id"),
        concat(col("text"),
          repeat(lit(" x"), (col("doc_id") % 4).cast("int"))).as("text"))
    val corpus = base.unionByName(twins)
    // same fan-out as ngramJaccardPairs (guide §2.5); the capped-index
    // materialization was measured slower here too (r15 A/B: 2.29 s vs
    // 2.38 s fanOut-only vs 2.13 s r14 shape — all within noise at
    // sf0.1, fanOut kept for the single-file worst case)
    val doc = Engine.fanOut(corpus, col("doc_id"))
      .select(col("doc_id"), shingleHashes(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
    val inv = doc.select(col("doc_id"), explode(col("sh")).as("shingle"))
    val wDf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shingle"))
    // same once-not-twice materialization as ngramJaccardPairs (the
    // a/b self-join otherwise re-derives the full shingle pipeline)
    val capped = inv
      .withColumn("df", count(lit(1)).over(wDf))
      .filter(col("df") <= 50)
      .select(col("shingle"), col("doc_id"))
    val pairs = capped.select(col("shingle"), col("doc_id").as("doc_a"))
      .join(capped.select(col("shingle"), col("doc_id").as("doc_b")),
        Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
    val verified = pairs
      .join(corpus.select(col("doc_id").as("doc_a"), col("text").as("ta")),
        Seq("doc_a"))
      .join(corpus.select(col("doc_id").as("doc_b"), col("text").as("tb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("shared"),
        levenshtein(col("ta"), col("tb"), 40).as("dist"),
        greatest(length(col("ta")), length(col("tb"))).as("max_len"))
      .filter(col("dist") >= 0 && col("dist") * 4 <= col("max_len"))
    verified.select(col("doc_a"), col("doc_b"), col("shared"), col("dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Driver entry + FULL semantic oracle for [[editDistancePairs]]:
    * DuckDB recomputes the shingle blocking as strings and the exact
    * Levenshtein distances (both engines implement the classic
    * unit-cost edit distance over an all-ASCII corpus).
    */
  val editDistance: Q = Q("dedup_editdist",
    (s, d) => editDistancePairs(s, d),
    Some("""WITH base AS (SELECT doc_id, text FROM documents),
      |corpus AS (SELECT doc_id, text FROM base
      |  UNION ALL
      |  SELECT doc_id + 10000000,
      |         text || REPEAT(' x', CAST(doc_id % 4 AS INT))
      |  FROM base WHERE doc_id % 20 = 0),
      |toks AS (SELECT doc_id,
      |    LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\s+'),
      |                t -> t <> '') tk
      |  FROM corpus),
      |sh AS (SELECT doc_id,
      |    LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(tk) - 2),
      |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) shs
      |  FROM toks WHERE LEN(tk) >= 3),
      |inv AS (SELECT doc_id, UNNEST(shs) shingle FROM sh),
      |rare AS (SELECT shingle FROM inv GROUP BY shingle
      |         HAVING COUNT(*) <= 50),
      |capped AS (SELECT inv.doc_id, inv.shingle
      |           FROM inv JOIN rare USING (shingle)),
      |pairs AS (SELECT a.doc_id doc_a, b.doc_id doc_b, COUNT(*) shared
      |          FROM capped a JOIN capped b USING (shingle)
      |          WHERE a.doc_id < b.doc_id GROUP BY 1, 2
      |          HAVING COUNT(*) >= 2),
      |v AS (SELECT doc_a, doc_b, shared,
      |        LEVENSHTEIN(ca.text, cb.text) dist,
      |        GREATEST(LEN(ca.text), LEN(cb.text)) max_len
      |      FROM pairs JOIN corpus ca ON ca.doc_id = doc_a
      |                 JOIN corpus cb ON cb.doc_id = doc_b)
      |SELECT doc_a, doc_b, shared, CAST(dist AS INT) dist FROM v
      |WHERE dist <= 40 AND dist * 4 <= max_len
      |ORDER BY doc_a, doc_b""".stripMargin))

  /** Substring-level exact dedup (the Lee et al. 2022 "ExactSubstr"
    * primitive): all maximal shared character spans >= minSpan between
    * document pairs, as (doc_a, doc_b, a_start, b_start, span_len) with
    * 1-based positions.
    *
    * Pipeline: winnowed k-gram fingerprints (one codegen'd
    * [[graft.functions.WinnowGrams]] pass per doc, density ~2/(w+1) per
    * character — the scale lever vs a full 1-row-per-character position
    * index) -> self-join on the 64-bit fingerprint, ids+positions only
    * (texts never ride the fingerprint shuffle) -> anchors grouped per
    * doc pair -> texts joined back ONCE per pair -> one
    * [[graft.functions.ExtendSpans]] kernel call extends every anchor
    * to its maximal char-equal run and dedupes. For
    * minSpan >= w + k - 1 the result provably equals the full-index
    * per-diagonal islands semantics (winnowing theorem — see the kernel
    * scaladoc); SubstringDedupSpec pins w=12 == w=1 (full index) on the
    * corpus and the DuckDB oracle recomputes the islands from the full
    * position index in SQL.
    *
    * Skew note: gram DF is naturally long-tail-bounded after winnowing
    * (max DF 4 on the test corpus); a boilerplate-heavy corpus would cap
    * fingerprint DF the same way ngramJaccardPairs caps shingle DF —
    * dropping a >cap fingerprint only loses spans whose every other
    * fingerprint is also >cap, i.e. corpus-wide boilerplate.
    */
  def substringSpans(corpus: DataFrame, k: Int = 40, w: Int = 12,
      minSpan: Int = 60): DataFrame = {
    require(minSpan >= w + k - 1,
      s"minSpan must be >= w+k-1 for exact winnowed recall (got $minSpan < ${w + k - 1})")
    val fp = corpus
      .select(col("doc_id"),
        explode(call_function("winnow_grams", col("text"), lit(k), lit(w)))
          .as("fp"))
      .select(col("doc_id"), col("fp.pos").as("pos"), col("fp.h").as("h"))
    val anchors = fp.select(col("h"), col("doc_id").as("doc_a"),
        col("pos").as("pa"))
      .join(fp.select(col("h"), col("doc_id").as("doc_b"),
        col("pos").as("pb")), Seq("h"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(collect_list(struct(col("pa"), col("pb"))).as("anchors"))
    anchors
      .join(corpus.select(col("doc_id").as("doc_a"), col("text").as("ta")),
        Seq("doc_a"))
      .join(corpus.select(col("doc_id").as("doc_b"), col("text").as("tb")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        explode(call_function("extend_spans", col("ta"), col("tb"),
          col("anchors"))).as("sp"))
      .select(col("doc_a"), col("doc_b"), col("sp.a_start").as("a_start"),
        col("sp.b_start").as("b_start"), col("sp.span_len").as("span_len"))
      .filter(col("span_len") >= minSpan)
  }

  /** Driver entry + FULL semantic oracle for [[substringSpans]]: planted
    * docs embed a shifted 250-char slice of an original (substr(text, 8,
    * 250) framed by sentinel chars, so the span is interior on both
    * sides), and DuckDB recomputes ALL maximal spans — planted AND the
    * organic prefix-duplicates the corpus generator produces — from the
    * full k-gram position index as per-diagonal islands
    * (gaps-and-islands over pa - row_number per (pair, pb-pa) diagonal).
    */
  /** Shared planted corpus for the substring entries (Spark side). */
  private def substringCorpus(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "documents").select(col("doc_id"), col("text"))
    val planted = base.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + TwinOffset).as("doc_id"),
        concat(lit("Z#"), substring(col("text"), 8, 250), lit("#Q"))
          .as("text"))
    base.unionByName(planted)
  }

  /** Shared oracle prefix: corpus + full-index per-diagonal islands ->
    * `spans` (>= 60 filter applied downstream). MATERIALIZED stops
    * DuckDB re-expanding the position self-join per consumer.
    */
  private val SubstrOracleWith: String =
    """WITH corpus AS MATERIALIZED (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 10000000, 'Z#' || substr(text, 8, 250) || '#Q'
      |  FROM documents WHERE doc_id % 10 = 0),
      |pos AS (
      |  SELECT doc_id, i, substr(text, CAST(i AS INT), 40) gram
      |  FROM corpus, UNNEST(GENERATE_SERIES(1, LEN(text) - 39)) AS u(i)),
      |m AS (
      |  SELECT a.doc_id doc_a, b.doc_id doc_b, a.i pa, b.i pb, b.i - a.i delta
      |  FROM pos a JOIN pos b ON a.gram = b.gram AND a.doc_id < b.doc_id),
      |isl AS (
      |  SELECT doc_a, doc_b, delta, pa, pb,
      |    pa - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, delta
      |                            ORDER BY pa) grp
      |  FROM m),
      |spans AS MATERIALIZED (
      |  SELECT doc_a, doc_b, MIN(pa) a_start, MIN(pb) b_start,
      |    COUNT(*) + 39 span_len
      |  FROM isl GROUP BY doc_a, doc_b, delta, grp)""".stripMargin

  val substringDedup: Q = Q("dedup_substring",
    (s, d) => substringSpans(substringCorpus(s, d), k = 40, w = 12,
        minSpan = 60)
      .orderBy(col("doc_a"), col("doc_b"), col("a_start"), col("b_start")),
    Some(s"""$SubstrOracleWith
      |SELECT doc_a, doc_b, CAST(a_start AS INT) a_start,
      |  CAST(b_start AS INT) b_start, CAST(span_len AS INT) span_len
      |FROM spans WHERE span_len >= 60
      |ORDER BY doc_a, doc_b, a_start, b_start""".stripMargin))

  /** Span REMOVAL — the apply step of exact-substring dedup: every
    * duplicated span is cut from the pair's HIGHER doc_id (so within a
    * duplicate cluster the smallest id keeps the only copy), intervals
    * per victim doc merged (touching counts as one island) before one
    * [[graft.functions.CutSpans]] kernel call rebuilds the cleaned
    * text. Interval merge is a per-doc running-max window — one shuffle
    * on doc_id, linear within; the kernel sees non-overlapping islands.
    * Docs with no spans pass through untouched (left join).
    */
  def substringCut(corpus: DataFrame, k: Int = 40, w: Int = 12,
      minSpan: Int = 60): DataFrame = {
    val spans = substringSpans(corpus, k, w, minSpan)
    val ivRaw = spans.select(col("doc_b").as("doc_id"),
      col("b_start").as("s"),
      (col("b_start") + col("span_len")).as("e"))
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("s"), col("e"))
    val flagged = ivRaw
      .withColumn("prev_max", max(col("e"))
        .over(wOrd.rowsBetween(Long.MinValue, -1)))
      .withColumn("ni",
        when(col("prev_max").isNull || col("s") > col("prev_max"), 1L)
          .otherwise(0L))
      .withColumn("island",
        sum(col("ni")).over(wOrd.rowsBetween(Long.MinValue, 0)))
    val merged = flagged.groupBy(col("doc_id"), col("island"))
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val ivs = merged.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(col("e") - col("s")).cast("bigint").as("n_cut"),
        collect_list(struct(col("s").cast("int").as("s"),
          col("e").cast("int").as("e"))).as("ivs"))
    corpus.join(ivs, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_cut"), lit(0L)).as("n_cut"),
        when(col("ivs").isNull, col("text"))
          .otherwise(call_function("cut_spans", col("text"), col("ivs")))
          .as("clean_text"))
      .orderBy(col("doc_id"))
  }

  /** Driver entry + FULL semantic oracle for [[substringCut]]: DuckDB
    * merges the same intervals with the same running-max islands and
    * rebuilds each cleaned text as the ordered STRING_AGG of the kept
    * segments — cleaned TEXTS hash-compared doc by doc.
    */
  val substringCutQ: Q = Q("dedup_substring_cut",
    (s, d) => substringCut(substringCorpus(s, d), k = 40, w = 12,
      minSpan = 60),
    Some(s"""$SubstrOracleWith,
      |iv AS (
      |  SELECT doc_b AS doc_id, b_start s, b_start + span_len e
      |  FROM spans WHERE span_len >= 60),
      |fl AS (
      |  SELECT doc_id, s, e,
      |    CASE WHEN s > COALESCE(MAX(e) OVER (PARTITION BY doc_id
      |           ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING
      |           AND 1 PRECEDING), -1) THEN 1 ELSE 0 END ni
      |  FROM iv),
      |isl2 AS (
      |  SELECT doc_id, s, e, SUM(ni) OVER (PARTITION BY doc_id
      |    ORDER BY s, e ROWS UNBOUNDED PRECEDING) island
      |  FROM fl),
      |mg AS MATERIALIZED (
      |  SELECT doc_id, island, MIN(s) s, MAX(e) e
      |  FROM isl2 GROUP BY doc_id, island),
      |segs AS (
      |  SELECT doc_id,
      |    COALESCE(LAG(e) OVER (PARTITION BY doc_id ORDER BY s), 1) seg_s,
      |    s AS seg_e
      |  FROM mg
      |  UNION ALL
      |  SELECT doc_id, MAX(e), NULL FROM mg GROUP BY doc_id),
      |clean AS (
      |  SELECT g.doc_id,
      |    STRING_AGG(SUBSTR(c.text, CAST(seg_s AS INT),
      |      CAST(COALESCE(seg_e, LEN(c.text) + 1) - seg_s AS INT)),
      |      '' ORDER BY seg_s) clean_text
      |  FROM segs g JOIN corpus c USING (doc_id) GROUP BY g.doc_id),
      |stats AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_spans,
      |    CAST(SUM(e - s) AS BIGINT) n_cut
      |  FROM mg GROUP BY doc_id)
      |SELECT c.doc_id, COALESCE(st.n_spans, 0) n_spans,
      |  COALESCE(st.n_cut, 0) n_cut,
      |  COALESCE(cl.clean_text, c.text) clean_text
      |FROM corpus c
      |LEFT JOIN stats st USING (doc_id)
      |LEFT JOIN clean cl USING (doc_id)
      |ORDER BY c.doc_id""".stripMargin))

  /** Embedding-cosine near-dup: sign-LSH banding over random hyperplanes,
    * candidate pairs share any band bucket, exact cosine verify.
    *
    * Parameter law (sign-LSH agree prob = 1 - theta/pi):
    *  - production near-dup tau >= 0.9 -> 8-16 bit bands: recall ~99.6%
    *    at 16x8, bucket fan-out 2^8..2^16 per band actually prunes.
    *  - the registered query uses tau=0.45 with 4-bit bands so it is
    *    exercised on the driver testdata (random vectors, max pair cosine
    *    ~0.51 — no true near-dups exist at 0.9). At this loose tau LSH
    *    prunes little; it exists to pin the operator end to end, and
    *    DedupEmbeddingSpec asserts recall 1.0 against brute force.
    */
  def embeddingNearDup(emb: DataFrame, tau: Double, bandBits: Int,
      bands: Int): DataFrame = {
    val dim = 64
    val rnd = new java.util.Random(11)
    val planes = Seq.fill(bands * bandBits)(
      Seq.fill(dim)(rnd.nextGaussian()))
    // native codegen'd sequential-fold dot product (DotVec)
    def dot(a: Column, b: Column): Column = call_function("dot_vec", a, b)
    // band value = that band's plane signs packed by the SignBits kernel
    // (bit i = sign of plane b*bandBits+i): one loop-nest kernel call per
    // band instead of bandBits separate dot expressions per band, whose
    // generated code at 64+ planes blows JIT method limits (NOTES.md).
    // Values are identical to the per-sign sum this replaces.
    val bandCols = (0 until bands).map { b =>
      call_function("sign_bits", col("embedding"),
        array(planes.slice(b * bandBits, (b + 1) * bandBits)
          .map(p => array(p.map(lit): _*)): _*)).cast("int")
    }
    // Band join carries ONLY ids (a pair sharing k bands would otherwise
    // shuffle both 64-float vectors k times); distinct candidate pairs
    // first, then fetch vectors once per pair for the exact verify.
    val sig = emb.select(col("vec_id"),
      posexplode(array(bandCols: _*)).as(Seq("band_idx", "band_val")))
    val candidates = sig.select(col("band_idx"), col("band_val"),
        col("vec_id").as("id_a"))
      .join(sig.select(col("band_idx"), col("band_val"),
        col("vec_id").as("id_b")), Seq("band_idx", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    val norm = sqrt(dot(col("embedding"), col("embedding")))
    val vecs = emb.select(col("vec_id"), col("embedding"), norm.as("nrm"))
    candidates
      .join(vecs.select(col("vec_id").as("id_a"), col("embedding").as("e_a"),
        col("nrm").as("n_a")), Seq("id_a"))
      .join(vecs.select(col("vec_id").as("id_b"), col("embedding").as("e_b"),
        col("nrm").as("n_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        (dot(col("e_a"), col("e_b")) / (col("n_a") * col("n_b"))).as("cosine"))
      .filter(col("cosine") >= tau)
      .orderBy(col("id_a"), col("id_b"))
  }

  val embeddingCosine: Q = Q("dedup_embedding",
    (s, d) => {
      // planted identical twins: equal vectors share every sign band and
      // verify at cosine ~1.0 >= tau, so the twin pairs are predictable;
      // the metric column is dropped from the driver-visible output (its
      // exact float value is engine-expression-ordered)
      val emb = plantTwins(
        t(s, d, "embeddings").select(col("vec_id"), col("embedding")),
        "vec_id", 20)
      embeddingNearDup(emb, tau = 0.45, bandBits = 4, bands = 16)
        .filter(col("id_b") === col("id_a") + TwinOffset)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"))
    },
    Some("""SELECT vec_id AS id_a, vec_id + 10000000 AS id_b
      |FROM embeddings WHERE vec_id % 20 = 0 ORDER BY id_a""".stripMargin))

  /** The CHAIN edge set over a documents relation: consecutive doc_ids
    * within each (source, lang) group, as canonical (x < y) edges —
    * the adversarial diameter-equals-group-size input for connected
    * components ([[clusterAssign]], [[survivorQuality]], ScaleSweep).
    */
  def chainEdges(docs: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("lang")).orderBy(col("doc_id"))
    docs.select(lag(col("doc_id"), 1).over(w).as("x"), col("doc_id").as("y"))
      .filter(col("x").isNotNull)
  }

  /** Cluster assignment over a CHAIN pair set ([[chainEdges]]): every
    * document in a component gets the component's smallest doc id as
    * `cluster_id`, and `keep = (doc_id == cluster_id)` marks the
    * canonical survivor — the step that turns any pair-producing dedup
    * (exact, MinHash, SimHash, embedding-cosine) into a keep/drop
    * decision when dup relations chain (A~B, B~C but not A~C). Chains
    * are the adversarial input (diameter = group size, up to ~112 on
    * the driver data), and the fixpoint is independently checkable: a
    * chain connects its whole group, so cluster_id must equal the
    * group's min doc_id, which DuckDB expresses as a window min. Real
    * pipelines feed LSH/exact pairs into the same operator.
    */
  val clusterAssign: Q = Q("dedup_cluster_assign",
    (s, d) => {
      GraphOps.connectedComponents(chainEdges(t(s, d, "documents")), CcRounds)
        .select(col("node").as("doc_id"), col("component").as("cluster_id"),
          (col("node") === col("component")).as("keep"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH g AS (SELECT source, lang FROM documents
      |  GROUP BY source, lang HAVING COUNT(*) > 1)
      |SELECT d.doc_id,
      |  MIN(d.doc_id) OVER (PARTITION BY d.source, d.lang) AS cluster_id,
      |  (d.doc_id = MIN(d.doc_id) OVER (PARTITION BY d.source, d.lang))
      |    AS keep
      |FROM documents d JOIN g USING (source, lang)
      |ORDER BY d.doc_id""".stripMargin))

  /** Skew-proof survivor pick over cluster membership rows
    * (doc_id, cluster_id, n_chars): the per-cluster best is a 2-phase
    * max(struct(n_chars, doc_id)) aggregate (struct comparison is
    * lexicographic, so this IS "longest, tiebreak max id"), joined back
    * to mark `keep`. Map-side partial aggregation reduces every
    * partition's slice of a cluster to ONE row before the shuffle, so a
    * boilerplate mega-cluster (millions of members) costs each task one
    * buffer entry — unlike a row_number window partitioned by
    * cluster_id, which funnels the whole cluster through a single task
    * (the straggler/spill bomb the r9 verdict named). Cost: the
    * membership is read by both the aggregate and the probe side of the
    * join-back; both shuffle on cluster_id, so AQE exchange reuse
    * collapses them when the input is a materialized relation.
    */
  def survivorPick(members: DataFrame): DataFrame = {
    val best = members.groupBy(col("cluster_id"))
      .agg(max(struct(col("n_chars"), col("doc_id"))).as("__best"))
      .select(col("cluster_id"), col("__best.doc_id").as("__best_id"))
    members.join(best, Seq("cluster_id"))
      .withColumn("keep", col("doc_id") === col("__best_id"))
      .drop("__best_id")
  }

  /** Quality-based survivor selection over dedup clusters: production
    * pipelines keep the BEST document per near-dup cluster (longest /
    * highest quality), not the smallest id — the C4/RefinedWeb recipe.
    * Same chain pair structure as [[clusterAssign]] (so clusters stay
    * oracle-expressible as the (source, lang) groups), clusters from
    * the real [[GraphOps.connectedComponents]] operator, then the 2-phase
    * [[survivorPick]] aggregate chooses the survivor — map-side
    * partials break mega-cluster skew (SurvivorPlanSpec pins no Window
    * in the pick and partial+final aggregation on cluster_id). At
    * scale: the cluster join shuffles on doc_id, the pick shuffles on
    * cluster_id — no driver state, no per-cluster collection, no
    * single-task cluster processing.
    */
  val survivorQuality: Q = Q("dedup_survivor",
    (s, d) => {
      val docs = t(s, d, "documents")
      val clusters = GraphOps.connectedComponents(chainEdges(docs), CcRounds)
        .select(col("node").as("doc_id"), col("component").as("cluster_id"))
      val members = docs.join(clusters, Seq("doc_id"))
        .select(col("doc_id"), col("cluster_id"), col("n_chars"))
      survivorPick(members)
        .select(col("doc_id"), col("cluster_id"), col("n_chars"), col("keep"))
        .orderBy(col("doc_id"))
    },
    Some("""WITH g AS (SELECT source, lang FROM documents
      |  GROUP BY source, lang HAVING COUNT(*) > 1)
      |SELECT d.doc_id,
      |  MIN(d.doc_id) OVER (PARTITION BY d.source, d.lang) AS cluster_id,
      |  d.n_chars,
      |  (ROW_NUMBER() OVER (PARTITION BY d.source, d.lang
      |     ORDER BY d.n_chars DESC, d.doc_id DESC) = 1) AS keep
      |FROM documents d JOIN g USING (source, lang)
      |ORDER BY d.doc_id""".stripMargin))

  /** Incremental dedup of a new batch against an existing snapshot — the
    * standard shape for deduping a fresh crawl against a 100 TB corpus
    * without joining the full corpus: (1) aggregate the snapshot's
    * 32-bit content hashes into a split block Bloom filter (the
    * reference's runtime-filter structure, be/src/util/bloom-filter.h;
    * distributed build, OR-merge partials, ~1 MB result), (2) broadcast
    * the filter and probe it map-side over the batch — rows the filter
    * rejects are DEFINITELY new (no false negatives) and never reach a
    * shuffle, (3) only bloom-positive rows (true dups + the ~0.1% false
    * positives) enter the exact verify join on the full content hash.
    * The one shuffle join is sized by the dup rate, not the batch size.
    * Result is exact, so it oracle-checks against a plain join.
    *
    * The static plan references `probed` from both union branches, so
    * pre-AQE it prints two bloom BroadcastExchange builds; at stage
    * materialization AQE's exchange reuse dedups them — BlockBloomSpec
    * pins ReusedExchange in the final adaptive plan (the build runs
    * once at runtime; if that pin ever breaks, persist `probed`).
    */
  val bloomIncremental: Q = Q("dedup_incremental",
    (s, d) => {
      val docs = t(s, d, "documents")
      def h32 = crc32(col("text")).cast("int") // low 32 bits as the probe key
      val snap = docs.filter(col("doc_id") % 10 < 7)
      val batch = docs.filter(col("doc_id") % 10 >= 7)
        .select(col("doc_id"), col("text"), h32.as("h"))
      val bf = snap.agg(
        call_function("bloom_build", h32, lit(20)).as("bf"))
      val probed = batch.join(broadcast(bf)) // 1-row build side
      val hit = call_function("bloom_find", col("bf"), col("h"))
      val definiteNew = probed.filter(!hit)
        .select(col("doc_id"), lit(false).as("is_dup"))
      val candidates = probed.filter(hit)
        .select(col("doc_id"), md5(col("text")).as("ch"))
      val snapHashes = snap.select(md5(col("text")).as("sch")).distinct()
      // ONE left_outer join resolves both outcomes (dup vs bloom false
      // positive) — a semi+anti pair would evaluate the probe subtree
      // twice (r7 verdict: 2.45x regression from exactly that shape).
      val resolved = candidates
        .join(snapHashes, col("ch") === col("sch"), "left_outer")
        .select(col("doc_id"), col("sch").isNotNull.as("is_dup"))
      definiteNew.union(resolved)
        .orderBy(col("doc_id"))
    },
    Some("""SELECT b.doc_id, (s.h IS NOT NULL) AS is_dup
      |FROM (SELECT doc_id, MD5(text) AS h FROM documents
      |      WHERE doc_id % 10 >= 7) b
      |LEFT JOIN (SELECT DISTINCT MD5(text) AS h FROM documents
      |           WHERE doc_id % 10 < 7) s ON b.h = s.h
      |ORDER BY b.doc_id""".stripMargin))

  val defs: Seq[Q] = Seq(exact, minhashLsh, simhash, simhashFull,
    ngramJaccard, editDistance, substringDedup, substringCutQ, embeddingCosine, clusterAssign,
    survivorQuality, bloomIncremental)
}
