package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Deduplication for large-scale training-data pipelines (extension
  * beyond the reference surface, SURVEY.md §7.1(7)): exact, n-gram
  * Jaccard, MinHash+LSH, SimHash, and embedding-cosine near-dup over the
  * `documents` / `embeddings` tables.
  *
  * Scale design — none of these do an unblocked O(n²) self-join:
  *
  *  - exact: one hash-shuffle on the content digest (map-side combine);
  *  - n-gram Jaccard: inverted-index join — explode distinct shingles,
  *    self-join on shingle code, count common per pair. Shuffle carries
  *    (shingle, doc) postings, and candidate pairs are only those sharing
  *    ≥1 shingle. Stop-shingle skew (a shingle in k docs yields k²
  *    pairs) is the known hot spot: at corpus scale drop postings longer
  *    than a cap before the join (AQE skew-join handles the residue);
  *  - MinHash/LSH: signatures are a per-row scan projection; the join is
  *    on (band, band-signature) — candidates per band bucket only.
  *    Classic Broder resemblance sketch: k=16 permutations, 8 bands × 2
  *    rows ⇒ catches ~90% of pairs at J=0.5, ~99.9% at J=0.8;
  *  - SimHash: one 31-bit signature per doc (Charikar sketch); pairs via
  *    pigeonhole block join (4 blocks of 8 bits ⇒ any pair within
  *    Hamming 3 shares a block — complete, not probabilistic);
  *  - embedding near-dup: random-hyperplane sign buckets (8 bits) then
  *    exact cosine only within buckets.
  *
  * All arithmetic is cross-engine deterministic (TextFunctions): the
  * DuckDB oracle replays the identical pipeline — including the same
  * LSH misses — so results hash-match exactly. Cosines are folded in
  * array-index order in both engines, making even the floating-point
  * bits identical.
  */
object Dedup {

  val ShingleN = 3
  val MinHashK = 16
  val Bands = 8 // × 2 rows per band = 16
  val JaccardThreshold = 0.5
  val HammingMax = 3
  val SimHashBits = 31
  val SimHashBlocks = 4 // blocks of 8 bits; pigeonhole-complete for d ≤ 3
  val HyperplaneBits = 8
  val CosineThreshold = 0.3

  // ---------------------------------------------------------------- exact

  /** Exact dedup: canonical doc per content digest. At 100 TB this is
    * the cheapest pass — digest in the scan projection, one shuffle of
    * (digest, id). */
  def exactOn(docs: DataFrame, text: Column, id: Column): DataFrame =
    docs
      .select(md5(text).as("digest"), id.as("doc_id"))
      .groupBy(col("digest"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_copies"))

  def exact(spark: SparkSession, dir: String): DataFrame =
    exactOn(Tables.documents(spark, dir), col("text"), col("doc_id"))

  // ------------------------------------------------- exact n-gram Jaccard

  /** Posting-list document-frequency cap for the inverted-index join.
    * A no-op on every testdata scale factor (sf0.1 has ~10³ docs), and
    * mirrored verbatim in the jaccard-derived oracle SQL (postsCte), so
    * engine/oracle parity holds even at a scale where it bites; at
    * corpus scale it is THE skew valve — a stop-shingle present in k
    * docs otherwise contributes k² candidate pairs to one join key. */
  val DefaultMaxShingleDf = 100000L

  /** (doc_id, distinct shingle codes, set size) over any (doc_id, text)
    * frame — public seam so specs can feed synthetic corpora. */
  private[graft] def shingledOn(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), shingleCodes(col("text"), ShingleN).as("codes"))
      .withColumn("sz", size(col("codes")).cast("long"))

  /** The (doc_id, codes, sz) shingle frame, materialized once per
    * (session, dir) and shared by every shingle consumer (jaccard,
    * prefix, containment, span-frac, minhash/LSH, decontamination,
    * novelty) — the "shingle the corpus once per generation" step of a
    * production run. Before the memo, the three most expensive bench
    * lines each re-shingled the corpus per query. |docs| rows with a
    * bounded code array each — corpus-linear, never pair-shaped. */
  private val shingleMemo = new DirMemo

  private def shingled(spark: SparkSession, dir: String): DataFrame =
    shingleMemo(spark, dir) {
      // repartition the INPUT docs before the shingle projection: the
      // testdata tables are single-row-group parquet, so the scan stage
      // is one task and the fused ShingleHashes pass would otherwise
      // run single-threaded into the checkpoint (r16; one narrow
      // build-time exchange, the artifact itself lands partitioned —
      // exactly how a generation build writes it at scale)
      shingledOn(Tables.documents(spark, dir).repartition(col("doc_id")))
        .localCheckpoint()
    }

  /** Exact word-3-gram Jaccard near-dup pairs via inverted index.
    * `sh` appears three times in the plan and is recomputed per use —
    * cheap here (ShingleHashes is one fused scan pass) and leak-free; a
    * 100 TB run would checkpoint the shingle table to storage once
    * instead (a library-held `.persist()` with no unpersist hook leaks
    * executor storage across a long session).
    *
    * @param maxDf drop shingle codes whose document frequency exceeds
    *   this BEFORE the self-join. Dropping a shingle removes it from
    *   every doc's posting list but not from the set sizes, so the
    *   capped jaccard is a LOWER BOUND on the true one: the cap can only
    *   miss pairs whose overlap rides on corpus-wide stop-shingles —
    *   exactly the pairs that are near-dups of boilerplate, not content.
    *   The df counts reuse the same `code` shuffle key as the join that
    *   follows, so the cap costs one co-partitioned aggregate, not an
    *   extra wide shuffle. */
  def jaccardPairsOn(sh: DataFrame, maxDf: Long = DefaultMaxShingleDf): DataFrame =
    jaccardPairsUnsortedOn(sh, maxDf)

  /** [[jaccardPairsOn]]'s body — kept as the named seam the clustering
    * consumers call directly. No sort anywhere: the driver/oracle
    * comparator canonicalizes, and a global sort feeding a hash-shuffle
    * join is pure waste (the exchange destroys the order immediately). */
  /** Exploded (doc_id, sz, code) postings with the document-frequency
    * cap applied — THE skew valve (see [[jaccardPairsOn]]), shared by
    * the jaccard and containment pair joins so the cap can never
    * desynchronize between them. Postings carry the owning doc's set
    * size: one extra long on the (code, doc) shuffle buys back the
    * sh-joins the similarity denominators otherwise need. The df
    * aggregate reuses the same `code` shuffle key as the join that
    * follows, so the cap costs one co-partitioned aggregate. */
  private def cappedPosts(sh: DataFrame, maxDf: Long): DataFrame = {
    val allPosts = sh.select(col("doc_id"), col("sz"),
      explode(col("codes")).as("code"))
    val rare = allPosts.groupBy(col("code"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .select(col("code"))
    allPosts.join(rare, Seq("code"), "left_semi")
  }

  /** The cap's AUDIT channel: the shingle codes [[jaccardPairsOn]] (via
    * cappedPosts) will DROP at `maxDf`, with their document frequency —
    * a production run materializes this tiny frame alongside the pair
    * join so the recall the cap trades away is REPORTED, never silent
    * (each row is a boilerplate shingle whose pairs-by-overlap are
    * excluded; the bench/spec assert the resulting pair-completeness
    * delta explicitly). Same df aggregate the cap itself runs — at
    * 100 TB this is |hot codes| rows, a log line, not a dataset. */
  def droppedShingleReport(
      sh: DataFrame, maxDf: Long = DefaultMaxShingleDf): DataFrame =
    sh.select(explode(col("codes")).as("code"))
      .groupBy(col("code"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf)

  private[graft] def jaccardPairsUnsortedOn(
      sh: DataFrame, maxDf: Long = DefaultMaxShingleDf): DataFrame =
    jaccardPairsOnPosts(cappedPosts(sh, maxDf))

  private def jaccardPairsOnPosts(posts: DataFrame): DataFrame = {
    posts.as("a").join(posts.as("b"),
        col("a.code") === col("b.code") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("common"),
        first(col("a.sz")).as("sz_i"), first(col("b.sz")).as("sz_j"))
      .withColumn("jaccard",
        col("common") / (col("sz_i") + col("sz_j") - col("common")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_i"), col("doc_j"), col("jaccard"))
  }

  def jaccardPairs(spark: SparkSession, dir: String): DataFrame =
    jaccardPairsUnsorted(spark, dir) // memoized; same frame as jaccardPairsOn

  // ------------------------------------- exact prefix-filtered sim join

  /** PPJoin-style prefix-filtered EXACT Jaccard self-join over the same
    * distinct word-3-gram shingle-code sets as [[jaccardPairs]] (the
    * public all-pairs algorithm family: Bayardo et al. WWW'07 prefix
    * filtering, Xiao et al. WWW'08). Complements the inverted-index
    * join: that one is a LOWER BOUND under its df cap, while this join
    * is exact at τ = 1/2 with no cap — a pair with jaccard ≥ τ must
    * share a code inside each side's (m − ⌈τm⌉ + 1)-code prefix once
    * every doc's codes are ordered by global rarity, so candidates
    * from prefix postings alone are complete, and the length filter
    * 2·min(m) ≥ max(m) prunes the rest before verification.
    *
    * Scale shape: the df aggregate and the prefix-posting self-join
    * share the `code` shuffle key; prefix postings carry each doc's
    * RAREST codes, so posting lists on the join key are short by
    * construction (the whole point of the rarity order — boilerplate
    * shingles never become join keys, which is what lets exactness
    * survive without jaccardPairs's skew valve). Verification rejoins
    * the bounded candidate set to the code arrays by doc_id and runs
    * one exact array_intersect per surviving pair. All similarity
    * arithmetic is exact integers (2·inter ≥ un, ppm via integer div)
    * — no float comparison anywhere. */
  def prefixJoin(spark: SparkSession, dir: String): DataFrame =
    prefixPairsMemo(spark, dir) {
      prefixJoinOnArr(prefixIndexMemo(spark, dir) {
        prefixIndexOn(shingled(spark, dir))
      }).localCheckpoint()
    }

  /** The EXACT pair frame — the generation's ground truth, consumed by
    * the pair query and the method-agreement audit. Post-threshold,
    * orders smaller than the corpus, like the capped pair memo. */
  private val prefixPairsMemo = new DirMemo

  /** The rarity-ordered prefix index (doc_id, codes-by-global-df, m) —
    * per-(session, dir) memo: the index is the expensive half of the
    * PPJoin (a wide shuffle + per-doc sort), is deterministic, and is
    * exactly what a production run materializes once per corpus
    * generation. |docs| rows. */
  private val prefixIndexMemo = new DirMemo

  /** Core over any (doc_id, codes) shingle frame — spec seam for the
    * adversarial boundary-overlap corpora the positional filter's
    * completeness is differential-tested on. */
  private[graft] def prefixJoinOn(sh: DataFrame): DataFrame =
    prefixJoinOnArr(prefixIndexOn(sh))

  /** Codes per doc in canonical rarity order (df asc, code asc) —
    * materialized (localCheckpoint): the join plan consumes this frame
    * FOUR times (both sides of the prefix self-join, both verification
    * rejoins), and Catalyst does not share subplans, so without the
    * checkpoint the df-join + collect ran 4×. Same
    * materialize-the-index discipline a 100 TB run would use. */
  private def prefixIndexOn(sh: DataFrame): DataFrame = {
    val e = sh
      .select(col("doc_id"), explode(col("codes")).as("code"))
    val dfc = e.groupBy(col("code")).agg(count(lit(1)).as("df"))
    e.join(dfc, Seq("code"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("code")))).as("st"))
      .select(col("doc_id"), expr("transform(st, s -> s.code)").as("codes"),
        size(col("st")).cast("long").as("m"))
      .localCheckpoint()
  }

  private def prefixJoinOnArr(arr: DataFrame): DataFrame = {
    // prefix length p = m − ⌈m/2⌉ + 1, all-integer; pos rides along for
    // the positional filter below
    val pre = arr.select(col("doc_id"), col("m"),
      posexplode(expr("slice(codes, 1, CAST(m - ((m + 1L) div 2L) + 1L AS INT))")))
      .select(col("doc_id"), col("m"), col("pos"), col("col").as("code"))
    // positional filter (Xiao et al. WWW'08 §4.1): a match at 0-based
    // positions (i, j) bounds the total overlap by min(mₐ−i, m_b−j)
    // (both arrays share the GLOBAL rarity order, so common codes sit
    // at/after the first match in both), and J ≥ 1/2 needs overlap
    // α = ⌈(mₐ+m_b)/3⌉. Complete despite per-match evaluation: a
    // qualifying pair's FIRST common code lies in both prefixes and
    // satisfies the bound, so the pair always survives through that
    // match — later matches failing it only shed duplicate candidate
    // rows. Cuts verification volume ~2× before the expensive
    // array_intersect stage.
    val cand = pre.as("a").join(pre.as("b"),
        col("a.code") === col("b.code") && col("a.doc_id") < col("b.doc_id") &&
          lit(2L) * least(col("a.m"), col("b.m")) >=
            greatest(col("a.m"), col("b.m")) &&
          expr("least(a.m - a.pos, b.m - b.pos) >= (a.m + b.m + 2) div 3"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .distinct()
    cand
      .join(arr.select(col("doc_id").as("doc_i"), col("codes").as("ca"),
        col("m").as("ma")), Seq("doc_i"))
      .join(arr.select(col("doc_id").as("doc_j"), col("codes").as("cb"),
        col("m").as("mb")), Seq("doc_j"))
      .withColumn("inter",
        graft.functions.TextFunctions.commonCount(col("ca"), col("cb")))
      .withColumn("un", col("ma") + col("mb") - col("inter"))
      .filter(lit(2L) * col("inter") >= col("un"))
      .select(col("doc_i"), col("doc_j"), col("inter"), col("un"),
        expr("inter * 1000000L div un").as("jac_ppm"))
  }

  // session memo helper shared by the operator modules: see
  // operators/DirMemo.scala

  /** The exact jaccard near-dup pair frame (doc_i, doc_j, jaccard) —
    * shared upstream of the pair query, the leakage audit, the LSH
    * tuning recall baseline, AND the CC cluster chain (which memoizes
    * its own downstream in [[clusterMap]]). The pair frame is
    * post-threshold, orders smaller than the corpus. */
  private val pairsMemo = new DirMemo

  private[graft] def jaccardPairsUnsorted(spark: SparkSession, dir: String): DataFrame =
    pairsMemo(spark, dir) {
      jaccardPairsOnPosts(cappedPostsShared(spark, dir)).localCheckpoint()
    }

  /** The df-capped exploded postings (code, doc_id, sz), materialized
    * once per (session, dir) — the shared inverted index under both
    * symmetric-jaccard and directed-containment pair joins (the two
    * heaviest dedup bench lines before the memo each re-exploded and
    * re-capped the corpus). Corpus-linear: one row per (doc, distinct
    * shingle). */
  private val postsMemo = new DirMemo

  private def cappedPostsShared(spark: SparkSession, dir: String): DataFrame =
    postsMemo(spark, dir) {
      cappedPosts(shingled(spark, dir), DefaultMaxShingleDf).localCheckpoint()
    }

  // ---------------------------------------------------------- MinHash+LSH

  /** Banding configurations surveyed by [[lshTuningReport]]: k=16
    * signatures split as 8×2, 4×4, 2×8 (bands × rows). */
  private[graft] val TuningConfigs = Seq((8, 2), (4, 4), (2, 8))

  /** LSH banding tuning report — THE operational question at corpus
    * scale: for each (bands b × rows r) split of the k=16 signature,
    * how many candidate pairs does the index generate (cost: every
    * candidate pays an exact verification) and how many true near-dups
    * does it find (recall vs the exact inverted-index pairs)? More
    * bands = higher recall AND more candidates; the S-curve threshold
    * sits near (1/b)^(1/r). The report computes signatures ONCE and
    * replays the three band joins over the checkpointed frame. */
  def lshTuningReport(spark: SparkSession, dir: String): DataFrame = {
    val sh = minHashSignatures(spark, dir).localCheckpoint()
    val nTrue = jaccardPairsUnsorted(spark, dir).agg(count(lit(1)).as("n_true"))
    val perConfig = TuningConfigs.map { case (b, r) =>
      val bands = sh.select(col("doc_id"),
          posexplode(transform(sequence(lit(0), lit(b - 1)),
            i => slice(col("sig"), i * r + 1, lit(r)))))
        .select(col("doc_id"), col("pos").as("band"), col("col").as("key"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
        .distinct()
      withJaccard(cand, sh, "doc_i", "doc_j")
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("jaccard") >= JaccardThreshold, 1L).otherwise(0L)).as("n_found"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("n_candidates"), col("n_found"))
    }
    perConfig.reduce(_ union _)
      .crossJoin(broadcast(nTrue))
      .withColumn("recall_milli", expr("1000 * n_found div n_true"))
  }

  /** Per-doc MinHash signature (array of k minima) plus banded keys.
    * Native MinHashSig expression: one pass over the code set for all k
    * permutations (the composed form re-walks the array k times through
    * interpreted lambdas). */
  def minHashSignatures(spark: SparkSession, dir: String): DataFrame =
    signaturesOnSh(shingled(spark, dir))

  /** Signatures over any (doc_id, codes, sz) shingle frame — the seam
    * the streaming ingest gate probes arbitrary arriving batches
    * through. */
  private[graft] def signaturesOnSh(sh: DataFrame): DataFrame =
    sh
      .filter(col("sz") > 0) // a doc too short to shingle has no set to sketch
      .withColumn("sig", org.apache.spark.sql.graft.ColumnBridge.column(
        graft.functions.MinHashSig(
          org.apache.spark.sql.graft.ColumnBridge.expression(col("codes")), MinHashK)))

  /** MinHash/LSH near-dup pairs: band-bucket candidates, then exact
    * Jaccard verification at the threshold. Deterministically misses
    * what LSH misses — the oracle replays the same banding. */
  /** Exact-Jaccard verification shared by every LSH variant: join both
    * sides' (codes, sz) from the signature frame onto a candidate pair
    * frame (id columns named by `leftCol`/`rightCol`) and score ONE
    * array_intersect per candidate — expensive work only on survivors
    * of the band join, never all pairs. Emits the input columns plus
    * `jaccard`. */
  private def withJaccard(cand: DataFrame, sh: DataFrame,
      leftCol: String, rightCol: String): DataFrame = {
    val sets = sh.select(col("doc_id"), col("codes"), col("sz").cast("long").as("sz"))
    cand
      .join(sets.select(col("doc_id").as(leftCol),
        col("codes").as("c_i"), col("sz").as("sz_i")), leftCol)
      .join(sets.select(col("doc_id").as(rightCol),
        col("codes").as("c_j"), col("sz").as("sz_j")), rightCol)
      // native CommonCount ≡ size(array_intersect(..)) on these
      // set-valued arrays — count-only, no per-pair intersection array
      // (measured 1.32 s → ~0.25 s over the 128k-candidate winnow
      // verification at sf0.1)
      .withColumn("common",
        graft.functions.TextFunctions.commonCount(col("c_i"), col("c_j")))
      .withColumn("jaccard", col("common") / (col("sz_i") + col("sz_j") - col("common")))
  }

  /** Banded LSH keys of a signature frame: one (doc_id, band, m1, m2)
    * row per band — the bucket-join key for both the symmetric pair
    * search and the incremental batch-vs-corpus probe. */
  private[graft] def bandsOf(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(Bands - 1)),
          b => struct(
            element_at(col("sig"), b * 2 + 1).as("m1"),
            element_at(col("sig"), b * 2 + 2).as("m2")))))
      .select(col("doc_id"), col("pos").as("band"),
        col("col.m1").as("m1"), col("col.m2").as("m2"))

  def minHashLshPairs(spark: SparkSession, dir: String): DataFrame =
    lshPairsMemo(spark, dir) {
      val sh = minHashSignatures(spark, dir)
      val bands = bandsOf(sh)
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.m1") === col("b.m1") &&
            col("a.m2") === col("b.m2") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
        .distinct()
      withJaccard(cand, sh, "doc_i", "doc_j")
        .filter(col("jaccard") >= JaccardThreshold)
        .select(col("doc_i"), col("doc_j"), col("jaccard"))
        .localCheckpoint()
    }

  /** The verified LSH pair frame — shared by the pair query and the
    * method-agreement audit; post-threshold, pair-frame-sized. */
  private val lshPairsMemo = new DirMemo

  // -------------------------------------------------------------- SimHash

  /** 31-bit Charikar SimHash over the document's distinct shingle codes:
    * bit b is set when more codes have bit b than not. Shingles, not
    * tokens — in a small-vocabulary corpus token SETS barely differ
    * across documents (measured: token-level SimHash puts ~90% of all
    * pairs within Hamming 7), while shingle sets separate cleanly. */
  private def simHashCol: Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.functions.SimHash31(
        org.apache.spark.sql.graft.ColumnBridge.expression(col("codes"))))

  /** SimHash near-dup pairs within Hamming distance 3, found by
    * pigeonhole block join: 31 bits split into 4 blocks of 8; any pair
    * with ≤3 differing bits shares at least one block — the candidate
    * set is complete, not probabilistic. (SimHash31 computes all 31
    * bit votes in one native pass over the code array — the earlier
    * 31-expression column-algebra form re-ran the shingle pipeline per
    * bit because Catalyst does not CSE across HOF lambdas.) */
  def simHashPairs(spark: SparkSession, dir: String): DataFrame = {
    // docs with no shingles all hash to simhash 0 — without the sz
    // filter, every pair of sub-3-token docs would come out Hamming 0
    val sh = shingled(spark, dir)
      .filter(col("sz") > 0)
      .select(col("doc_id"), simHashCol.as("simhash"))
    val blocks = sh.select(col("doc_id"), col("simhash"),
        posexplode(array((0 until SimHashBlocks).map(k =>
          shiftright(col("simhash"), k * 8).bitwiseAND(255)): _*)))
      .select(col("doc_id"), col("simhash"), col("pos").as("blk"), col("col").as("bv"))
    blocks.as("a").join(blocks.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"),
        col("a.simhash").as("sh_i"), col("b.simhash").as("sh_j"))
      .distinct()
      .withColumn("hamming", bit_count(col("sh_i").bitwiseXOR(col("sh_j"))).cast("long"))
      .filter(col("hamming") <= HammingMax)
      .select(col("doc_i"), col("doc_j"), col("hamming"))
  }

  // ------------------------------------------------- embedding near-dup

  /** Sign-bit LSH bucket: bit k = sign of ⟨v, h_k⟩ where the hyperplanes
    * h_k are the embeddings of vec_id 0..7 — deterministic and
    * data-derived, so the oracle reproduces them (a cluster deployment
    * would broadcast seeded Gaussian planes instead; plan shape
    * identical: broadcast small side, bucket in the scan). Sign of the
    * dot equals sign of the cosine (norms are positive), so the bucket
    * bit reuses the fused-loop native cosine expression. */
  /** (vec_id, embedding, bucket) with the 8-bit sign-LSH bucket —
    * shared by embedding near-dup and the LSH-probed ANN
    * (operators/Similarity.topKLsh).
    *
    * Zero-norm vectors are excluded up front on BOTH sides (oracle
    * carries the same predicate): their cosine is NaN, and NaN
    * comparison semantics differ between engines (IEEE false in
    * Spark, NaN-greatest in DuckDB). The bucket bit tests the raw
    * dot's sign, not the cosine's — same sign for nonzero norms, and
    * well-defined arithmetic in both engines. */
  private[graft] def signBucketed(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFunctions.dotProduct
    val emb = Tables.embeddings(spark, dir)
      .filter(dotProduct(col("embedding"), col("embedding")) > 0)
    // The 8 hyperplanes are collected once (8 rows) and folded into the
    // scan projection as literals — bucketing costs ZERO shuffle; the
    // crossJoin+groupBy alternative re-shuffles the whole corpus keyed
    // by a float-array column. This is the plan a 10^9-vector corpus
    // needs: one narrow pass to bucket, then the bucket-local join.
    val planes: Array[(Int, Array[Float])] = emb
      .filter(col("vec_id") < HyperplaneBits)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
    val bucket = planes.map { case (k, plane) =>
      when(dotProduct(col("embedding"), typedlit(plane)) >= 0, lit(1L << k))
        .otherwise(0L)
    }.reduce(_ + _)
    // Materialize the bucketed projection ONCE: every consumer
    // (embeddingNearDups, Similarity.topKLsh) self-joins this frame, and
    // without the checkpoint Catalyst recomputes the 8-dot-product
    // projection independently on each join side (measured 2.6× on the
    // near-dup query, round 2). At cluster scale the equivalent is one
    // write of the bucketed table to storage before the bucket-local
    // joins — same one-narrow-pass-then-join shape. Caveats of the
    // local form, deliberate for this single-JVM harness: checkpoint
    // blocks live until driver GC (repeat callers in one session pay
    // storage), and localCheckpoint lineage is NOT recomputable after
    // executor loss — a real deploy uses the storage write.
    emb.select(col("vec_id"), col("embedding"), bucket.as("bucket"))
      .localCheckpoint()
  }

  def embeddingNearDups(spark: SparkSession, dir: String): DataFrame =
    embeddingNearDupsUnsorted(spark, dir)

  /** The embedding pair frame — shared by the pair query and the
    * semantic cluster chain; memoized like [[jaccardPairsUnsorted]]. */
  private val embPairsMemo = new DirMemo

  /** [[embeddingNearDups]]'s body as a named seam (see
    * [[jaccardPairsUnsortedOn]] for why the clustering path skips it). */
  private[graft] def embeddingNearDupsUnsorted(
      spark: SparkSession, dir: String): DataFrame =
    embPairsMemo(spark, dir) {
      import graft.functions.VectorFunctions.cosineSim
      val b = signBucketed(spark, dir)
      b.as("a").join(b.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("cosine", cosineSim(col("a.embedding"), col("b.embedding")))
        .filter(col("cosine") >= CosineThreshold)
        .select(col("a.vec_id").as("vec_i"), col("b.vec_id").as("vec_j"), col("cosine"))
        .localCheckpoint()
    }

  /** The semantic cluster map — shared by the cluster query and the
    * SemDeDup keep-best; the star iteration runs eagerly, so the memo
    * also saves its full convergence loop. */
  private val embClusterMemo = new DirMemo

  /** SemDeDup-shaped composition: connected components over the
    * embedding near-dup pair graph (semantic duplicates, not just
    * lexical ones) → one canonical vector per semantic cluster. Reuses
    * the O(log² n) star machinery, so the whole chain — bucket, pair,
    * cluster — stays web-scale. */
  def embeddingClusters(spark: SparkSession, dir: String): DataFrame =
    embClusterMemo(spark, dir) {
      starClustersOn(embeddingNearDupsUnsorted(spark, dir)
        .select(col("vec_i").as("doc_i"), col("vec_j").as("doc_j")))
        .select(col("doc_id").as("vec_id"), col("canonical_id"))
    }

  // ------------------------------------------------- decontamination

  /** Eval-suite membership for the decontamination demo: every 97th
    * doc plays the held-out benchmark. In production this is a second
    * (small) corpus — the plan shape is what matters here. */
  val DecontamEvalMod = 97L

  /** Flag a doc only when it shares at least this many distinct
    * shingles with the eval suite — single-shingle collisions are
    * noise, sustained overlap is contamination. */
  val DecontamMinShared = 3L

  /** Test-set decontamination: for every corpus doc, the number of
    * distinct word-3-gram shingles it shares with the eval suite —
    * the "does the training set contain the benchmark" pass every
    * serious LLM data pipeline runs before training.
    *
    * Scale shape: the eval suite is tiny next to the corpus (KBs of
    * benchmark text vs 100 TB), so its distinct shingle set is
    * BROADCAST — the corpus posting explode is filtered map-side with
    * zero shuffle, and the only exchange carries the surviving
    * (doc_id, code) matches into the per-doc count. The corpus is
    * never self-joined and never shuffled whole. */
  def decontamOverlap(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingled(spark, dir)
    val evalCodes = sh.filter(col("doc_id") % DecontamEvalMod === 0)
      .select(explode(col("codes")).as("code")).distinct()
    val corpus = sh.filter(col("doc_id") % DecontamEvalMod =!= 0)
      .select(col("doc_id"), explode(col("codes")).as("code"))
    // codes are distinct per doc (shingledOn), so the post-semi-join
    // count IS the distinct shared-shingle count
    corpus.join(broadcast(evalCodes), Seq("code"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= DecontamMinShared)
  }

  // ---------------------------------------------------- containment pairs

  /** Directed containment threshold in milli: |A∩B|/|A| ≥ 0.8. */
  val ContainmentMilli = 800L

  /** Asymmetric containment near-dups: directed pairs where at least
    * 80% of doc A's distinct shingles also appear in doc B — the pass
    * that catches a SHORT document embedded in a LONG one (quotation,
    * concatenation, page-within-crawl), which symmetric Jaccard
    * misses because the union denominator dilutes the overlap.
    * Containment C(A→B) = |A∩B|/|A| is reported in integer milli
    * (truncating div, engine-exact); identical docs appear in both
    * directions at 1000.
    *
    * Scale shape: the same inverted-index discipline as
    * [[jaccardPairsOn]] — postings carry the owning doc's set size, the
    * df cap is the stop-shingle skew valve, and candidates are only
    * pairs sharing ≥1 surviving shingle. `common` is SYMMETRIC, so the
    * join and the pair aggregate run once over `<`-ordered pairs (half
    * the volume of a directed `=!=` join); the two directed rows of
    * each candidate are expanded from the aggregated pair afterwards —
    * direction costs a row explode, never a second shuffle. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame =
    containmentPairsOnPosts(cappedPostsShared(spark, dir))

  /** Core over any (doc_id, codes, sz) shingle frame — spec seam. */
  private[graft] def containmentPairsOn(
      sh: DataFrame, maxDf: Long = DefaultMaxShingleDf): DataFrame =
    containmentPairsOnPosts(cappedPosts(sh, maxDf))

  /** An sz=0 doc has no codes, so explode already drops it from the
    * postings — the shared frame needs no extra filter. */
  private def containmentPairsOnPosts(posts: DataFrame): DataFrame = {
    val und = posts.as("a").join(posts.as("b"),
        col("a.code") === col("b.code") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
      .agg(count(lit(1)).as("common"),
        first(col("a.sz")).as("sz_i"), first(col("b.sz")).as("sz_j"))
    und.select(explode(array(
        struct(col("doc_i").as("doc_a"), col("doc_j").as("doc_b"),
          col("common"), col("sz_i").as("sz_a")),
        struct(col("doc_j").as("doc_a"), col("doc_i").as("doc_b"),
          col("common"), col("sz_j").as("sz_a")))).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"),
        col("p.common").as("common"), col("p.sz_a").as("sz_a"))
      // integer-exact threshold: common/sz_a >= C/1000 without doubles
      .filter(col("common") * lit(1000L) >= lit(ContainmentMilli) * col("sz_a"))
      .select(col("doc_a"), col("doc_b"),
        expr("common * 1000 div sz_a").as("containment_milli"))
  }

  // ------------------------------------------ content-defined chunking dedup

  /** CDC rolling-hash window (tokens) and boundary divisor — expected
    * chunk length ≈ [[CdcD]] tokens on this corpus's 10–99-token docs
    * (production web-scale CDC uses KiB-scale windows over bytes; the
    * operator is the same at any unit). */
  val CdcK = 4
  val CdcD = 16L

  /** Per-doc content-defined chunks: cut BEFORE token j (j > 0) when
    * the rolling [[CdcK]]-gram hash starting at j ≡ 0 (mod [[CdcD]]) —
    * the LBFS/FastCDC boundary rule (Muthitacharoen et al., "A
    * low-bandwidth network file system", SOSP 2001). Because a
    * boundary depends only on a local window, an insertion or deletion
    * re-synchronizes after at most one chunk — the property that makes
    * chunk-level dedup robust where fixed-stride chunking
    * (`text_chunk_stride`) misaligns everything after the edit.
    * Output: (doc_id, n_tokens, chunk_idx, s, e, chash) with [s, e)
    * 0-based token intervals partitioning the doc and chash = md5 of
    * the space-joined chunk text. */
  private[graft] def cdcChunksOn(docs: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), tokens(col("text")).as("t"),
      spanCodes(col("text"), CdcK).as("codes"))
    // Spark's sequence(1, 0) DESCENDS — guard the short-doc arm
    val cuts = when(size(col("codes")) <= 1, array().cast("array<int>"))
      .otherwise(filter(sequence(lit(1), size(col("codes")) - 1),
        j => element_at(col("codes"), j + 1) % lit(CdcD) === lit(0L)))
    val withB = base
      .withColumn("starts", concat(array(lit(0L)),
        transform(cuts, _.cast("long"))))
      .withColumn("ends", concat(
        slice(col("starts"), lit(2), greatest(size(col("starts")) - 1, lit(0))),
        array(size(col("t")).cast("long"))))
    withB
      .select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"), col("t"),
        posexplode(arrays_zip(col("starts"), col("ends"))))
      .select(col("doc_id"), col("n_tokens"),
        col("pos").cast("long").as("chunk_idx"),
        col("col.starts").as("s"), col("col.ends").as("e"),
        md5(concat_ws(" ",
          slice(col("t"), (col("col.starts") + lit(1)).cast("int"),
            (col("col.ends") - col("col.starts")).cast("int")))).as("chash"))
  }

  /** Chunk-level dedup report over the CDC chunks: per doc, how many
    * chunks (and what token fraction) also occur in ANOTHER document —
    * the storage-style dedup flavor between exact whole-doc and
    * positional span dedup. Cross-doc test is the span family's
    * min≠max-of-doc_id trick (no Expand, one shuffle on chash).
    *
    * Scale shape: one fused scan (native SpanHashes) → chunk rows
    * (≈ n_tokens/[[CdcD]] per doc), one map-side-combined aggregate on
    * chash, one join back on the same key, per-doc aggregate. */
  def cdcDedup(spark: SparkSession, dir: String): DataFrame =
    cdcDedupOn(Tables.documents(spark, dir))

  private[graft] def cdcDedupOn(docs: DataFrame): DataFrame = {
    val chunks = cdcChunksOn(docs)
    val dup = chunks.groupBy(col("chash"))
      .agg(min(col("doc_id")).as("d_min"), max(col("doc_id")).as("d_max"))
      .filter(col("d_min") =!= col("d_max"))
      .select(col("chash"), lit(true).as("isdup"))
    chunks.join(dup, Seq("chash"), "left")
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("isdup"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("isdup"), col("e") - col("s")).otherwise(0L)).as("dup_tokens"))
      .withColumn("dup_milli",
        when(col("n_tokens") === 0L, 0L)
          .otherwise(expr("dup_tokens * 1000 div n_tokens")))
      .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
        col("n_dup_chunks"), col("dup_tokens"), col("dup_milli"))
  }

  /** Incremental CDC-chunk dedup — the chunk family's ingest form: each
    * arriving-batch doc scored against the STANDING CORPUS's chunk-hash
    * set only (batch docs never dilute each other), one row per batch
    * doc with the same accounting as [[cdcDedup]]. The corpus side is a
    * distinct-chash frame; an ingest shuffles only the batch's chunks. */
  def incrementalCdcDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val corpusH = cdcChunksOn(docs.filter(drillCorpusFilter))
      .select(col("chash")).distinct()
    cdcVerdict(cdcChunksOn(
      docs.filter(pmod(col("doc_id"), lit(IncrementalBatchMod)) === 0)), corpusH)
  }

  /** Batch chunks vs a corpus chash set → per-batch-doc accounting. */
  private def cdcVerdict(batchChunks: DataFrame, corpusH: DataFrame): DataFrame =
    batchChunks
      .join(corpusH.select(col("chash"), lit(true).as("isdup")), Seq("chash"), "left")
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("isdup"), 1L).otherwise(0L)).as("n_dup_chunks"),
        sum(when(col("isdup"), col("e") - col("s")).otherwise(0L)).as("dup_tokens"))
      .withColumn("dup_milli",
        when(col("n_tokens") === 0L, 0L)
          .otherwise(expr("dup_tokens * 1000 div n_tokens")))
      .select(col("doc_id"), col("n_tokens"), col("n_chunks"),
        col("n_dup_chunks"), col("dup_tokens"), col("dup_milli"))

  /** Write-once-per-generation CDC chunk index: the corpus's DISTINCT
    * chunk hashes as a bucketed table — chash-grain, no doc sets
    * (chunk membership is all the probe needs), so merge idempotency
    * is a plain anti-join on chash. */
  private[graft] def ensureCdcIndex(spark: SparkSession, dir: String,
      tag: String = "", corpusFilter: Column = lit(true)): String = {
    val sfx = IndexStore.suffix(dir, tag, corpusFilter)
    val hashT = s"graft_cdc_idx_$sfx"
    idxLock(s"cdc_$sfx").synchronized {
      if (!spark.catalog.tableExists(hashT)) {
        cdcChunksOn(Tables.documents(spark, dir).filter(corpusFilter)
          .select(col("doc_id"), col("text")))
          .select(col("chash")).distinct()
          .repartition(IndexBuckets, col("chash"))
          .write.mode("overwrite").format("parquet")
          .bucketBy(IndexBuckets, "chash")
          .sortBy("chash")
          .option("path", s"$indexRoot/cdc_$sfx")
          .saveAsTable(hashT)
      }
    }
    hashT
  }

  /** Fold an accepted batch's chunk hashes into the standing CDC index
    * — anti-join on chash makes the append idempotent under
    * at-least-once replay (chash-grain: re-admitting a doc whose
    * chunks are all present appends nothing). */
  private[graft] def mergeBatchIntoCdcIndex(spark: SparkSession,
      dir: String, batchDocs: DataFrame, tag: String = "",
      corpusFilter: Column = lit(true)): Unit = {
    val hashT = ensureCdcIndex(spark, dir, tag, corpusFilter)
    idxLock(s"cdc_${IndexStore.suffix(dir, tag, corpusFilter)}").synchronized {
      val novel = cdcChunksOn(batchDocs.dropDuplicates("doc_id")
        .select(col("doc_id"), col("text")))
        .select(col("chash")).distinct()
        .join(spark.table(hashT), Seq("chash"), "left_anti")
        .localCheckpoint() // staged: the insert must not read its target
      novel.repartition(IndexBuckets, col("chash"))
        .write.mode("append").format("parquet").insertInto(hashT)
      spark.catalog.refreshTable(hashT)
    }
  }

  /** [[incrementalCdcDedup]] served from the persisted chunk index —
    * the probe shuffles only the batch's chunks into the index's
    * bucket layout; shares the recompute twin's oracle verbatim. */
  def incrementalCdcDedupPersisted(spark: SparkSession, dir: String): DataFrame = {
    val hashT = ensureCdcIndex(spark, dir, corpusFilter = drillCorpusFilter)
    cdcVerdict(cdcChunksOn(
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(IncrementalBatchMod)) === 0)
        .select(col("doc_id"), col("text"))
        .repartition(col("doc_id"))), // parallel batch chunking (r17)
      spark.table(hashT))
  }

  // -------------------------------------------- cross-doc span duplication

  /** Cross-document duplicated-span fraction — the INTER-document twin
    * of Curation's within-doc `text_repetition` (and the diagnostic
    * behind span-level dedup in pipelines like RefinedWeb): for every
    * doc, how many of its distinct word-3-gram shingles also occur in
    * at least one OTHER document, as a count and an integer milli
    * fraction (truncating div, engine-exact).
    *
    * Scale shape: one inverted-index pass — explode distinct shingles,
    * hash-aggregate document frequency per code (map-side combined),
    * semi-join the postings back against the df≥2 codes on the SAME
    * code shuffle key (the exchange is reused, no second wide shuffle),
    * then one per-doc count. The corpus is never self-joined, and no
    * df cap is needed: unlike the pair join, a hot shingle's cost here
    * is linear in its posting list, never quadratic. */
  def crossDocSpanStats(spark: SparkSession, dir: String): DataFrame =
    crossDocSpanStatsOnSh(shingled(spark, dir))

  /** Core over any (doc_id, text) frame — seam for spec corpora. */
  private[graft] def crossDocSpanStatsOn(docs: DataFrame): DataFrame =
    crossDocSpanStatsOnSh(shingledOn(docs))

  private def crossDocSpanStatsOnSh(shRaw: DataFrame): DataFrame = {
    val sh = shRaw.filter(col("sz") > 0)
    val posts = sh.select(col("doc_id"), explode(col("codes")).as("code"))
    // codes are distinct per doc (shingledOn), so count(*) per code IS
    // the document frequency
    val sharedCodes = posts.groupBy(col("code"))
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2)
      .select(col("code"))
    val perDoc = posts.join(sharedCodes, Seq("code"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
    sh.select(col("doc_id"), col("sz").as("n_shingles"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        expr("coalesce(n_shared, 0L) * 1000 div n_shingles").as("shared_milli"))
  }

  // ------------------------------------------- exact duplicate-span dedup

  /** Span width (tokens) for exact duplicate-span removal — the
    * suffix-array pipelines (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", 2022) use 50 tokens on web text;
    * 15 is the same operator scaled to this corpus's 10–99-token docs. */
  val SpanW = 15

  /** Packs (doc_id, pos) into ONE orderable long so keeper selection is
    * a plain min() both engines replay bit-identically (min-of-struct
    * orderings are an engine-semantics trap). Token positions are below
    * 2^20 by contract (a 1M-token doc is beyond any tokenizer context);
    * doc_ids keep 43 bits. */
  val SpanPosShift = 1L << 20

  /** Exact cross-document duplicate-SPAN removal — the operator
    * [[crossDocSpanStats]] measures but does not act on: find every
    * `SpanW`-token span occurring in ≥2 distinct documents, KEEP the
    * one globally-first occurrence (min packed (doc_id, pos)), and emit
    * the merged per-document token intervals to delete — the
    * Lee-et-al-style "dedup at the span level, rewrite the text" pass
    * (theirs via suffix arrays; here via hashed span postings, which
    * distribute). Output: one row per merged removal interval
    * (doc_id, span_start, span_end, span_tokens), token positions
    * 0-based, end exclusive.
    *
    * Scale shape — never a self-join: positional span hashes are ONE
    * fused scan projection (native SpanHashes); duplicate detection is
    * a map-side-combined aggregate on the code (min ≠ max of doc_id
    * replaces count-distinct — no Expand, one shuffle); the removal
    * join reuses the SAME code shuffle key. A span duplicated across k
    * documents costs k posting rows — LINEAR in k where the pair joins
    * above are quadratic, which is why span dedup needs no df cap.
    * Interval merging is a per-document window (bounded by doc length),
    * partitioned on doc_id across the cluster. */
  def spanRemoval(spark: SparkSession, dir: String): DataFrame =
    spanIvMemo(spark, dir) {
      // input repartition for the same single-row-group reason as
      // [[shingled]]: the span explode otherwise runs one task into
      // the checkpointed generation artifact (r17)
      spanRemovalOn(Tables.documents(spark, dir).repartition(col("doc_id")))
        .localCheckpoint()
    }

  /** The merged removal-interval frame — four consumers (the removal
    * query, the scrub rewrite, the savings report,
    * Pipeline.spanCleanCorpus) share the identical span-posting
    * subplan. Per-removal-interval sized, far below the corpus. */
  private val spanIvMemo = new DirMemo

  /** Core over any (doc_id, text) frame — seam for spec corpora. */
  private[graft] def spanRemovalOn(docs: DataFrame, w: Int = SpanW): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = docs
      .select(col("doc_id"), posexplode(spanCodes(col("text"), w)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("code"))
    // cross-document duplicate codes + the one occurrence each keeps
    val dup = occ
      .groupBy(col("code"))
      .agg(min(col("doc_id")).as("d_min"), max(col("doc_id")).as("d_max"),
        min(col("doc_id") * SpanPosShift + col("pos")).as("keeper"))
      .filter(col("d_min") =!= col("d_max"))
      .select(col("code"), col("keeper"))
    val removed = occ.join(dup, "code")
      .filter(col("doc_id") * SpanPosShift + col("pos") =!= col("keeper"))
      .select(col("doc_id"), col("pos"))
    mergeSpanIntervals(removed, w)
  }

  /** Merge overlapping/adjacent [pos, pos+w) spans per doc into removal
    * intervals: gaps-and-islands on the span starts (equal widths ⇒ the
    * running max of interval ends is just the previous start + w). The
    * window partitions on doc_id — bounded by doc length, distributed
    * across the cluster. Input: (doc_id, pos) span starts. */
  private def mergeSpanIntervals(removed: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    removed
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("brk",
        when(col("prev").isNull || col("pos") - col("prev") > w, 1L).otherwise(0L))
      .withColumn("island", sum(col("brk")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"), (max(col("pos")) + w).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"))
  }

  /** Incremental duplicate-span removal: the incoming BATCH's spans
    * (every [[IncrementalBatchMod]]th doc plays the batch, as in
    * [[incrementalDedup]]) probe the STANDING corpus's distinct
    * span-code index — every batch span already present in the corpus
    * is a duplicate whose corpus copy is canonical, so the batch
    * occurrence is removed. One row per batch doc: duplicate span
    * starts, merged removal-interval token total, and the milli
    * fraction — the span-level ingest gate next to incrementalDedup's
    * whole-doc verdict.
    *
    * The at-scale asymmetry, same as the whole-doc drill: the corpus
    * code index is computed once per generation and persists (bucketed
    * by code); each ingest shuffles only the batch's span postings into
    * the semi-join probe plus a per-batch-doc window. The corpus is
    * probe-target only — nothing re-pairs corpus × corpus, and within-
    * batch duplication is left to the full [[spanRemoval]] pass at the
    * next generation boundary. */
  def incrementalSpanRemoval(spark: SparkSession, dir: String): DataFrame =
    incrementalSpanRemovalOn(Tables.documents(spark, dir))

  /** Core over any (doc_id, text) frame — seam for spec corpora. */
  private[graft] def incrementalSpanRemovalOn(docs: DataFrame): DataFrame = {
    val isBatch = pmod(col("doc_id"), lit(IncrementalBatchMod)) === 0
    val occ = docs
      .select(col("doc_id"), posexplode(spanCodes(col("text"), SpanW)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("code"))
    val corpusCodes = occ.filter(!isBatch).select(col("code")).distinct()
    val hits = occ.filter(isBatch)
      .join(corpusCodes, Seq("code"), "left_semi")
      .select(col("doc_id"), col("pos"))
    spanIngestVerdict(docs.filter(isBatch), hits)
  }

  /** Per-batch-doc accounting over the duplicate-span hits: dup-span
    * count, merged removed-token total, and removed-per-mille — the
    * tail shared by the recompute and persisted-index ingest paths. */
  private def spanIngestVerdict(batchDocs: DataFrame, hits: DataFrame): DataFrame = {
    val perDoc = hits.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nd"))
      .join(mergeSpanIntervals(hits, SpanW)
        .groupBy(col("doc_id")).agg(sum(col("span_tokens")).as("rt")),
        Seq("doc_id"))
    batchDocs
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id").as("batch_id"), col("n_tokens"),
        coalesce(col("nd"), lit(0L)).as("n_dup_spans"),
        coalesce(col("rt"), lit(0L)).as("removed_tokens"),
        when(col("n_tokens") > 0,
          expr("coalesce(rt, 0L) * 1000 div n_tokens")).otherwise(lit(0L))
          .as("removed_milli"))
  }

  /** The ACT step on [[spanRemoval]]'s intervals: rewrite every document
    * with its duplicated spans deleted (tokens re-joined on single
    * spaces — both engines rebuild from the token stream, so irregular
    * source whitespace cannot desync them). Docs with nothing to remove
    * pass through token-normalized; a fully-duplicated doc becomes ''.
    *
    * Scale shape: the interval list rides a doc_id equi-join back onto
    * the corpus scan (per-doc lists are tiny — merged intervals over a
    * bounded doc); the rewrite is a per-row filter-with-index over the
    * token array, no shuffle beyond the join. */
  def spanScrub(spark: SparkSession, dir: String): DataFrame =
    scrubWith(Tables.documents(spark, dir), spanRemoval(spark, dir))

  /** Core over any (doc_id, text) frame — seam for spec corpora. */
  private[graft] def spanScrubbedOn(docs: DataFrame, w: Int = SpanW): DataFrame =
    scrubWith(docs, spanRemovalOn(docs, w))

  private def scrubWith(docs: DataFrame, intervals: DataFrame): DataFrame = {
    val iv = intervals
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))
        .as("iv"))
    docs.select(col("doc_id"), col("text"))
      .join(iv, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", filter(tokens(col("text")), (_, i) =>
          !coalesce(exists(col("iv"), s =>
            i.cast("long") >= s("s") && i.cast("long") < s("e")), lit(false))))
          .as("text"))
  }

  /** Per-document accounting for [[spanRemoval]]: how many tokens the
    * span pass deletes from each doc (0-row docs included — the report
    * covers the corpus, not just the touched docs). */
  def spanSavings(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val nt = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"))
    val rem = spanRemoval(spark, dir)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_tokens")).as("rt"), count(lit(1)).as("ns"))
    nt.join(rem, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("rt"), lit(0L)).as("removed_tokens"),
        coalesce(col("ns"), lit(0L)).as("n_spans"),
        when(col("n_tokens") > 0,
          expr("coalesce(rt, 0L) * 1000 div n_tokens")).otherwise(lit(0L))
          .as("removed_milli"))
  }

  // ------------------------------------------------ keep-best selection

  /** Quality-aware canonical selection: for every near-dup cluster,
    * KEEP the member with the best TextAnalysis quality score (ties to
    * the lowest doc_id) — the step that turns "these docs are dups"
    * into the actual curation decision, and keeps the best-written
    * copy instead of dupClusters' arbitrary min-id canonical.
    *
    * Scale shape: quality is a scan projection over cluster MEMBERS
    * only (a semi-join-sized fraction of the corpus); selection is one
    * (canonical)-keyed aggregate using max(struct(quality, -doc_id)) —
    * a map-side-combining argmax, never a per-cluster window. Quality
    * doubles are bit-identical across engines (text_quality's verified
    * arithmetic), so even the argmax ordering replays exactly. */
  def keepBestPerCluster(spark: SparkSession, dir: String): DataFrame =
    keepBestOn(spark, dir, clusterMap(spark, dir))

  /** SemDeDup-style semantic canonical selection: the same quality-aware
    * keep-best decision applied to the EMBEDDING near-dup clusters —
    * prunes semantically-redundant docs (paraphrases, re-renderings)
    * that lexical shingles cannot see (Abbas et al., "SemDeDup", 2023 —
    * theirs keeps an arbitrary cluster member; the quality argmax is
    * the curation-grade upgrade). doc_id = vec_id by the testdata
    * contract (Pipeline's embedding enrichment relies on the same
    * identity). */
  def keepBestPerEmbeddingCluster(spark: SparkSession, dir: String): DataFrame =
    keepBestOn(spark, dir, embeddingClusters(spark, dir)
      .select(col("vec_id").as("doc_id"), col("canonical_id")))

  /** The shared keep-best selection over any (doc_id, canonical_id)
    * cluster map: quality is a scan projection over cluster MEMBERS
    * only (a semi-join-sized fraction of the corpus); selection is one
    * canonical-keyed aggregate using max(struct(quality, -doc_id)) — a
    * map-side-combining argmax, never a per-cluster window. Quality
    * doubles are bit-identical across engines (text_quality's verified
    * arithmetic), so even the argmax ordering replays exactly. The
    * struct buffer plans SortAggregate (considered and kept: the sort
    * is bounded per partial CANONICAL group — near-dup clusters are
    * pairs and short chains — and the Ohlcv-style packed atomic key
    * cannot hold a DOUBLE without an IEEE754 sortable-bits transform
    * whose micro-rounding would move argmax ties). */
  private def keepBestOn(spark: SparkSession, dir: String,
      clusters: DataFrame): DataFrame = {
    val quality = Tables.documents(spark, dir)
      .select(col("doc_id") +: TextAnalysis.qualityFeatures(col("text")): _*)
      .withColumn("quality", TextAnalysis.qualityExpr)
      .select(col("doc_id"), col("quality"))
    clusters.join(quality, "doc_id")
      .groupBy(col("canonical_id"))
      .agg(
        count(lit(1)).as("cluster_size"),
        max(struct(col("quality").as("q"), (-col("doc_id")).as("nid"))).as("best"))
      .select(col("canonical_id"), col("cluster_size"),
        (-col("best.nid")).as("kept_doc_id"), col("best.q").as("kept_quality"))
  }

  // ------------------------------------------------------- dup clustering

  /** Connected components over the near-dup pair graph → one canonical
    * doc per duplicate cluster (the step that turns pairwise dup
    * detection into an actual keep/drop decision). Min-label
    * propagation: every doc starts labeled with itself; each round a
    * doc adopts the smallest label among itself and its neighbors;
    * fixpoint = component-minimum. Near-dup clusters are tiny (pairs
    * and short chains), so the diameter — and the iteration count — is
    * small; each round is one join + aggregate, all distributed (the
    * standard large-graph CC shape; at web scale swap in
    * large-star/small-star to cut rounds, Kiveris et al. 2014). */
  def dupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterMap(spark, dir)

  /** Session-scoped memo of the CC cluster map over the jaccard pairs.
    * FOUR consumers need the identical subplan — [[dupClusters]],
    * [[keepBestPerCluster]], [[dedupSavings]], [[splitsByCluster]] —
    * and each independent recompute pays the inverted-index pair join
    * plus the convergence-checked propagation rounds (~3 s each at
    * sf0.1). At 100 TB the cluster map is materialized once per
    * curation generation and reused by every downstream stage; this
    * memo is that shape in miniature, keyed per (session, dir) exactly
    * like Tables.registerAll. The frame handed out is the
    * localCheckpoint-backed labels (materialized, lineage-truncated),
    * so the memo pins blocks, not an unevaluated plan — every consumer
    * reads the same bits and result hashes are unchanged. WeakHashMap:
    * a stopped session's entry can be collected. */
  private val clusterMemo = new DirMemo

  private def clusterMap(spark: SparkSession, dir: String): DataFrame =
    clusterMemo(spark, dir) {
      minLabelClustersOn(
        jaccardPairsUnsorted(spark, dir).select(col("doc_i"), col("doc_j")))
    }

  /** Min-label propagation over an undirected pair graph — public seam
    * so specs can feed synthetic graphs (chains, stars, forests). */
  private[graft] def minLabelClustersOn(pairs: DataFrame): DataFrame = {
    // Materialize the pair plan ONCE before symmetrizing: `pairs` is the
    // expensive upstream (the inverted-index join), and the union below
    // references it twice — without this checkpoint Catalyst computes
    // the whole pair pipeline once per union branch (measured ~2.4 s of
    // pure recomputation on dedup_clusters at sf0.1, round 4).
    val p = pairs.localCheckpoint()
    // undirected edges both ways; localCheckpoint = materialize once AND
    // truncate lineage — the labels plan references itself twice per
    // round, so without truncation the logical plan doubles every
    // iteration (2^rounds analysis blowup)
    val edges = p
      .union(p.select(col("doc_j").as("doc_i"), col("doc_i").as("doc_j")))
      .localCheckpoint()
    // Init fused with propagation round 1: label₀(v) = v, so round 1's
    // min over self ∪ neighbors is computable in ONE aggregate over the
    // symmetric edge set (every member appears as doc_i) — no separate
    // members-distinct job, no identity-labels checkpoint, one fewer
    // join round through the loop below.
    var labels = edges
      .groupBy(col("doc_i").as("doc_id"))
      .agg(min(col("doc_j")).as("nmin"))
      .select(col("doc_id"), least(col("doc_id"), col("nmin")).as("label"))
      .localCheckpoint()
    // iterate to CONVERGENCE (the oracle computes the exact transitive
    // closure — a fixed round cap would silently split any component
    // whose diameter exceeds it); maxRounds is a runaway backstop. The
    // checkpoint copies live until driver GC, but each holds only the
    // dup-graph members (pairs + chains), orders of magnitude smaller
    // than the corpus.
    val maxRounds = 50
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val t0 = System.nanoTime()
      val neighborMin = edges
        .join(labels.withColumnRenamed("doc_id", "doc_j"), "doc_j")
        .groupBy(col("doc_i").as("doc_id"))
        .agg(min(col("label")).as("nlabel"))
      val next = labels.withColumnRenamed("label", "prev")
        .join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("prev"),
          least(col("prev"), coalesce(col("nlabel"), col("prev"))).as("label"))
        .localCheckpoint()
      changed = next.filter(col("label") =!= col("prev")).count()
      labels = next.select(col("doc_id"), col("label"))
      round += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(f"[cc] minlabel round $round changed=$changed ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    require(changed == 0, s"dupClusters did not converge in $maxRounds rounds")
    labels
      .select(col("doc_id"), col("label").as("canonical_id"))
  }

  /** Connected components by alternating large-star / small-star
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC 2014) — the web-scale upgrade over min-label propagation:
    * converges in O(log² n) rounds regardless of component DIAMETER,
    * where label propagation needs diameter-many rounds (a 10⁶-long
    * boilerplate chain = 10⁶ joins). Same output contract as
    * [[dupClusters]]: (doc_id, component-minimum canonical_id) for every
    * node of the pair graph — so it shares the recursive-CTE oracle.
    *
    * Each round is two join+aggregate passes over the CURRENT edge set,
    * which only shrinks toward the star forest — no per-round growth.
    *
    *  - large-star: each node u links every LARGER neighbor to
    *    m = min(N(u) ∪ {u}) — long tails fold onto small labels;
    *  - small-star: with edges oriented high→low, each u links its
    *    smaller neighbors and itself to m = min(N(u) ∪ {u}).
    *
    * Fixpoint: the edge set stabilizes as a star forest, every member
    * pointing at its component minimum. */
  def dupClustersStar(spark: SparkSession, dir: String): DataFrame =
    starClustersOn(
      jaccardPairsUnsorted(spark, dir).select(col("doc_i"), col("doc_j")))

  private[graft] def starClustersOn(pairs: DataFrame): DataFrame = {
    // orient high→low once; the invariant (src > dst) is restored by
    // every subsequent step, and self-loops are dropped at the source
    var edges = pairs
      .select(greatest(col("doc_i"), col("doc_j")).as("src"),
        least(col("doc_i"), col("doc_j")).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()

    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = sym.groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("src"), col("mn")).as("m"))
      // (v, m) for v ∈ N(u), v > u: v > u ≥ m, so orientation holds
      sym.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val mins = e.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val relink = e.join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
      relink.union(mins.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }

    val maxRounds = 50 // runaway backstop; O(log² n) expected
    var round = 0
    var changed = 1L
    while (changed > 0 && round < maxRounds) {
      val t0 = System.nanoTime()
      val next = smallStar(largeStar(edges)).localCheckpoint()
      // fixpoint = identical edge set. Both sides are distinct sets, so
      // the symmetric difference is exactly the keys whose +1/-1 weights
      // don't cancel — ONE aggregate job over two materialized frames,
      // where the two-directional exceptAll formulation cost two.
      changed = next.withColumn("w", lit(1L))
        .union(edges.withColumn("w", lit(-1L)))
        .groupBy(col("src"), col("dst")).agg(sum(col("w")).as("w"))
        .filter(col("w") =!= 0).count()
      edges = next
      round += 1
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        println(f"[cc] star round $round changed=$changed ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    require(changed == 0, s"starClusters did not converge in $maxRounds rounds")
    // star forest: every non-root points at its component min; roots
    // (the mins themselves) label themselves
    edges.select(col("src").as("doc_id"), col("dst").as("canonical_id"))
      .union(edges.select(col("dst"), col("dst")).distinct())
  }

  /** Method-agreement audit across the near-dup pair finders — the
    * dedup twin of the ANN recall report: per approximate method
    * (df-capped inverted-index jaccard, banded MinHash/LSH, and the
    * winnowed-fingerprint candidate index verified at the exact
    * threshold), how many of the EXACT τ=0.5 pairs (the uncapped
    * PPJoin baseline, itself spec-proven equal to the all-pairs
    * semantic definition) does it find? Every approximation only
    * VERIFIES candidates at the exact threshold, so each is a subset
    * of the baseline — precision is 1 by construction and the audit
    * reports the recall each method's candidate pruning trades away
    * (the cap's boilerplate-pair loss, banding's
    * probability-of-collision loss, winnowing's selection-density
    * loss against its ~2.5×-smaller candidate index).
    *
    * Near-free at audit time: the pair frames are the memoized
    * per-generation artifacts; the audit adds the winnow-candidate
    * verification join plus two pair-frame-sized joins and a 3-row
    * aggregate. */
  def methodAgreement(spark: SparkSession, dir: String): DataFrame = {
    val exact = prefixJoin(spark, dir).select(col("doc_i"), col("doc_j"))
    val nExact = exact.agg(count(lit(1)).as("n_exact"))
    def leg(m: String, df: DataFrame) =
      df.select(lit(m).as("method"), col("doc_i"), col("doc_j"))
    val winnowVerified = {
      // the memoized df-capped posting frame the pair query shares —
      // nf rides along unused here; the candidate join needs (doc_id, h)
      val posts = winnowCappedPosts(spark, dir)
      val cand = posts.as("a").join(posts.as("b"),
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_i"), col("b.doc_id").as("doc_j"))
        .distinct()
      // Exact-threshold verification ≡ membership in the exact pair
      // frame (r17): a candidate survives iff its true shingle Jaccard
      // ≥ τ, and `exact` (the uncapped PPJoin, spec-proven complete at
      // exactly this τ) IS the set of all such pairs — so verification
      // is a semi-join against the memoized ground-truth artifact the
      // audit already loads, not a re-scored jaccard join that shuffled
      // every candidate's shingle arrays (guide §8: decide with small
      // rows — the post-threshold pair frame is orders smaller than the
      // candidate×codes verification frame). r16 measured the re-score
      // at ~1.9 s warm; the identity is oracle-gated at both SFs.
      cand.join(exact, Seq("doc_i", "doc_j"), "left_semi")
    }
    val legs = leg("jaccard_capped", jaccardPairsUnsorted(spark, dir))
      .union(leg("minhash_lsh", minHashLshPairs(spark, dir)))
      .union(leg("winnow_verified", winnowVerified))
    // ONE pass over the legs union (r16): the r15 form ran `legs` twice
    // — a semi-join for hits and a second full evaluation for n_pairs —
    // which re-executed the winnow candidate join + verification (the
    // only non-memoized leg) per pass. A left join against the unique
    // exact pair set with a hit marker gives both counts in one
    // aggregate over one evaluation; count(hit) ≡ the semi-join count
    // because `exact` is a distinct pair frame (the join cannot
    // duplicate legs rows).
    val marked = legs.join(exact.withColumn("hit", lit(1L)),
      Seq("doc_i", "doc_j"), "left")
    marked.groupBy(col("method"))
      .agg(count(lit(1)).as("n_pairs"), count(col("hit")).as("n_hits"))
      .crossJoin(broadcast(nExact))
      .select(col("method"), col("n_pairs"), col("n_hits"), col("n_exact"),
        // zero-pair corpus: Spark's div would yield NULL here but the
        // DuckDB oracle's // would raise — guard BOTH sides identically
        expr("CASE WHEN n_exact > 0 THEN n_hits * 1000 div n_exact ELSE 0L END")
          .as("recall_milli"))
  }

  /** Which doc_ids play the incoming batch in the incremental drill. */
  val IncrementalBatchMod = 4L

  /** Incremental dedup: an incoming BATCH probed against the standing
    * CORPUS (every 4th document plays the batch) — the shape of a
    * production ingestion gate, where each new crawl snapshot is
    * deduped against everything already kept rather than re-pairing
    * the whole corpus.
    *
    * One row per shingleable batch document: how many corpus docs it
    * near-duplicates (banded MinHash candidates, exact Jaccard ≥ 0.5
    * verification), its best Jaccard, and the keep verdict.
    *
    * The at-scale point is the asymmetry: the corpus side of the band
    * join is a STATIC index — signatures and band keys are computed
    * once per corpus generation and persist (bucketed by band key)
    * across ingests; each ingest shuffles only the new batch's bands
    * (here 1/4 of rows; in production ~1/1000 of the corpus) plus the
    * candidate matches into verification. Nothing re-pairs corpus ×
    * corpus. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val sh = minHashSignatures(spark, dir)
    val isBatch = pmod(col("doc_id"), lit(IncrementalBatchMod)) === 0
    val bands = bandsOf(sh)
    val cand = bands.filter(isBatch).as("a")
      .join(bands.filter(!isBatch).as("b"),
        col("a.band") === col("b.band") && col("a.m1") === col("b.m1") &&
          col("a.m2") === col("b.m2"))
      .select(col("a.doc_id").as("batch_id"), col("b.doc_id").as("corpus_id"))
      .distinct()
    val dups = withJaccard(cand, sh, "batch_id", "corpus_id")
      .filter(col("jaccard") >= JaccardThreshold)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_dups"), max(col("jaccard")).as("best_jaccard"))
    sh.filter(isBatch).select(col("doc_id").as("batch_id"))
      .join(dups, Seq("batch_id"), "left")
      .select(col("batch_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("best_jaccard"),
        col("n_dups").isNull.as("keep"))
  }

  // -------------------------- persisted-index ingest lifecycle (drill)

  /** Bucket count for the persisted index tables. Matches the session's
    * shuffle partitioning so the probe side shuffles into exactly the
    * index's layout; at cluster scale this is the corpus generation's
    * chosen bucket count (hundreds–thousands). */
  val IndexBuckets = 32

  /** Naming + locking for the persisted index tables — shared with the
    * ANN index lifecycle (see [[IndexStore]]). */
  private def indexRoot: String = IndexStore.root
  private def idxSuffix(dir: String): String = IndexStore.dirSuffix(dir)
  private def predSuffix(corpusFilter: Column): String =
    IndexStore.predSuffix(corpusFilter)
  private def idxLock(key: String): AnyRef = IndexStore.lock(key)

  /** Write-once-per-generation: persist the standing corpus's LSH band
    * index AND its signature/code sets as BUCKETED parquet tables —
    * the production artifact [[incrementalDedup]]'s scaladoc promises
    * ("persist (bucketed by band key) across ingests"). Returns the
    * (bands, sets) table names; idempotent per session (catalog hit →
    * no rebuild, which is exactly the read-it-back lifecycle: later
    * ingests in the session join against the on-disk artifact with
    * ZERO corpus re-shingling).
    *
    * repartition-on-bucket-keys before the write uses the same murmur
    * hash as bucketBy, so each task holds exactly one bucket's rows →
    * one file per bucket, and the sortBy metadata lets the bucketed
    * read side skip its sort under a sort-merge join. */
  private[graft] def ensureBandIndex(spark: SparkSession, dir: String,
      tag: String = "", corpusFilter: Column = lit(true)): (String, String) = {
    val sfx = idxSuffix(dir) + (if (tag.isEmpty) "" else s"_$tag") +
      predSuffix(corpusFilter)
    val bandsT = s"graft_band_idx_$sfx"
    val setsT = s"graft_sets_idx_$sfx"
    idxLock(sfx).synchronized {
      if (!spark.catalog.tableExists(bandsT) || !spark.catalog.tableExists(setsT)) {
        writeBandTables(minHashSignatures(spark, dir).filter(corpusFilter),
          sfx, bandsT, setsT)
      }
    }
    (bandsT, setsT)
  }

  /** Persist one band-index generation from an explicit signature
    * frame — the build core shared by [[ensureBandIndex]] (corpus) and
    * [[rolloverBandIndex]] (corpus ∪ admitted). Signatures are
    * deterministic per document, so the generation depends only on the
    * SET of input docs. Callers hold the generation's build lock. */
  private def writeBandTables(sigs: DataFrame, sfx: String,
      bandsT: String, setsT: String): Unit = {
    bandsOf(sigs)
      .repartition(IndexBuckets, col("band"), col("m1"), col("m2"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(IndexBuckets, "band", "m1", "m2")
      .sortBy("band", "m1", "m2")
      .option("path", s"$indexRoot/band_$sfx")
      .saveAsTable(bandsT)
    sigs.select(col("doc_id"), col("codes"), col("sz"))
      .repartition(IndexBuckets, col("doc_id"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(IndexBuckets, "doc_id")
      .sortBy("doc_id")
      .option("path", s"$indexRoot/sets_$sfx")
      .saveAsTable(setsT)
  }

  /** Generation ROLLOVER for the band-index family: build generation
    * `newTag` from the standing corpus PLUS the documents admitted into
    * the current generation. MinHash signatures carry no trained state,
    * so a rolled-over generation is row-identical to the incrementally
    * merged one — which is exactly what RolloverSpec asserts (rebuild ≡
    * merge), making rollover the point where the incremental path's
    * accumulated appends are re-expressed as a clean one-file-per-bucket
    * artifact under a fresh identity. The old generation keeps serving
    * until the caller swaps and [[IndexStore.drop]]s it. */
  private[graft] def rolloverBandIndex(spark: SparkSession, dir: String,
      admittedDocs: DataFrame, newTag: String,
      corpusFilter: Column = lit(true)): (String, String) = {
    val sfx = IndexStore.suffix(dir, newTag, corpusFilter)
    val bandsT = s"graft_band_idx_$sfx"
    val setsT = s"graft_sets_idx_$sfx"
    idxLock(sfx).synchronized {
      if (!spark.catalog.tableExists(bandsT) || !spark.catalog.tableExists(setsT)) {
        val cols = Seq(col("doc_id"), col("codes"), col("sz"), col("sig"))
        // The admitted frame comes from an at-least-once verdict sink
        // (replayed batches carry the same doc twice) — dedup before the
        // union or G+1's sets table inherits duplicate rows and every
        // later probe DOUBLE-COUNTS n_dups against them.
        val merged = minHashSignatures(spark, dir).filter(corpusFilter)
          .select(cols: _*)
          .unionByName(signaturesOnSh(shingledOn(
            admittedDocs.dropDuplicates("doc_id"))).select(cols: _*))
        writeBandTables(merged, sfx, bandsT, setsT)
      }
    }
    (bandsT, setsT)
  }

  /** The batch-drill corpus predicate: everything EXCEPT the docs that
    * play the arriving batch. Production gates use the default
    * all-docs predicate — the standing corpus is the whole generation. */
  private[graft] def drillCorpusFilter: Column =
    pmod(col("doc_id"), lit(IncrementalBatchMod)) =!= 0

  /** The BETWEEN-generations step of the index lifecycle: fold an
    * ACCEPTED ingest batch into the standing bucketed index by
    * appending its band and sets rows — `insertInto` applies the
    * table's bucket spec to the appended files, so the merged index
    * keeps its bucket-local probe property with NO rebuild (the next
    * ingest's join still consumes the scan in place;
    * PersistedIndexSpec proves merged ≡ rebuilt-from-scratch and that
    * re-probing the merged index flags the folded batch as known).
    * Column order is positional for insertInto and matches the create
    * path exactly. */
  private[graft] def mergeBatchIntoBandIndex(spark: SparkSession, dir: String,
      batchDocs: DataFrame, tag: String = "",
      corpusFilter: Column = lit(true)): Unit = {
    val (bandsT, setsT) = ensureBandIndex(spark, dir, tag, corpusFilter)
    // Appends commute with each other, but a merge landing between
    // compactBandIndex's staged snapshot read and its overwrite is
    // lost — the compact-side lock only excludes writers that take it.
    idxLock(IndexStore.suffix(dir, tag, corpusFilter)).synchronized {
      // IDEMPOTENT under micro-batch replay: foreachBatch is
      // at-least-once, so a crashed admitting stream re-runs its batch
      // and re-merges the same kept docs — a blind append would then
      // hold duplicate sets rows and DOUBLE-COUNT n_dups in every later
      // probe (the jaccard join multiplies per sets row; dup BAND rows
      // are harmless — the candidate frame is distinct). The anti-join
      // on the sets table (bucket-local on doc_id) keeps only docs the
      // index has never admitted; append order bands-THEN-sets makes
      // the worst crash window safe too — dying between the two writes
      // leaves the doc out of sets, so the replay re-runs it: its band
      // rows duplicate (absorbed by the distinct) and its sets row
      // lands exactly once.
      val novel = signaturesOnSh(shingledOn(batchDocs))
        .join(spark.table(setsT).select(col("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint() // staged: the insert must not read its target
      bandsOf(novel)
        .repartition(IndexBuckets, col("band"), col("m1"), col("m2"))
        .write.mode("append").format("parquet").insertInto(bandsT)
      novel.select(col("doc_id"), col("codes"), col("sz"))
        .repartition(IndexBuckets, col("doc_id"))
        .write.mode("append").format("parquet").insertInto(setsT)
      // the write executes under the BATCH frame's session (inside
      // foreachBatch that is the micro-batch clone) and only refreshes
      // THAT session's relation cache — refresh the caller's too, or its
      // next probe reads a stale file listing and misses the merge
      spark.catalog.refreshTable(bandsT)
      spark.catalog.refreshTable(setsT)
    }
  }

  /** Maintenance pass for a merged index generation: K ingest merges
    * leave K+1 files per bucket (insertInto appends new files through
    * the bucket spec), and probe-side task count and open-file overhead
    * grow with every merge. Compaction rewrites each table back to ONE
    * file per bucket without changing a row: stage the current rows to
    * a scratch dir (the table's own files are about to be overwritten),
    * then rewrite through the exact create path — repartition on the
    * bucket keys + bucketBy + sortBy, so the sort metadata survives
    * too. Runs under the generation's build lock; the merge→compact
    * drill in PersistedIndexSpec pins file-count, parity, and the
    * bucket-local probe plan. */
  private[graft] def compactBandIndex(spark: SparkSession, dir: String,
      tag: String = "", corpusFilter: Column = lit(true)): Unit = {
    val sfx = IndexStore.suffix(dir, tag, corpusFilter)
    idxLock(sfx).synchronized {
      IndexStore.rewriteBucketed(spark, s"graft_band_idx_$sfx",
        s"$indexRoot/band_$sfx", IndexBuckets, Seq("band", "m1", "m2"))
      IndexStore.rewriteBucketed(spark, s"graft_sets_idx_$sfx",
        s"$indexRoot/sets_$sfx", IndexBuckets, Seq("doc_id"))
    }
  }

  /** [[incrementalDedup]] driven from the on-disk bucketed index
    * instead of recomputed corpus frames — the drill for the 100 TB
    * lifecycle: only the BATCH is shingled/minhashed from source; the
    * corpus side enters both the band join and the verification join
    * as bucketed scans that shuffle NOTHING (PersistedIndexSpec pins
    * the exchange-free plan shape; the verdict frame is hash-identical
    * to the recompute path). */
  def incrementalDedupPersisted(spark: SparkSession, dir: String): DataFrame = {
    val (bandsT, setsT) = ensureBandIndex(spark, dir,
      corpusFilter = drillCorpusFilter)
    probeBandIndex(spark,
      minHashSignatures(spark, dir)
        .filter(pmod(col("doc_id"), lit(IncrementalBatchMod)) === 0),
      bandsT, setsT)
  }

  /** Probe ANY batch signature frame ((doc_id, codes, sz, sig), e.g.
    * one micro-batch of arriving documents) against the persisted
    * corpus index tables — the core shared by the batch drill above
    * and the streaming ingest gate's foreachBatch. */
  private[graft] def probeBandIndex(spark: SparkSession, batchSh: DataFrame,
      bandsT: String, setsT: String): DataFrame = {
    val corpusBands = spark.table(bandsT)
    val corpusSets = spark.table(setsT)
    val cand = bandsOf(batchSh).as("a").join(corpusBands.as("b"),
        col("a.band") === col("b.band") && col("a.m1") === col("b.m1") &&
          col("a.m2") === col("b.m2"))
      .select(col("a.doc_id").as("batch_id"), col("b.doc_id").as("corpus_id"))
      .distinct()
    val dups = cand
      .join(batchSh.select(col("doc_id").as("batch_id"),
        col("codes").as("c_i"), col("sz").cast("long").as("sz_i")), "batch_id")
      .join(corpusSets.select(col("doc_id").as("corpus_id"),
        col("codes").as("c_j"), col("sz").cast("long").as("sz_j")), "corpus_id")
      .withColumn("common",
        graft.functions.TextFunctions.commonCount(col("c_i"), col("c_j")))
      .withColumn("jaccard", col("common") / (col("sz_i") + col("sz_j") - col("common")))
      .filter(col("jaccard") >= JaccardThreshold)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_dups"), max(col("jaccard")).as("best_jaccard"))
    batchSh.select(col("doc_id").as("batch_id"))
      .join(dups, Seq("batch_id"), "left")
      .select(col("batch_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("best_jaccard"),
        col("n_dups").isNull.as("keep"))
  }

  /** The span-code generation artifact: the standing corpus's DISTINCT
    * positional span codes, bucketed by code — the ingest gate's
    * semi-join probe target. */
  private[graft] def ensureSpanIndex(spark: SparkSession, dir: String,
      tag: String = "", corpusFilter: Column = lit(true)): String = {
    val sfx = IndexStore.suffix(dir, tag, corpusFilter)
    val t = s"graft_span_idx_$sfx"
    idxLock(sfx).synchronized {
      if (!spark.catalog.tableExists(t)) {
        writeSpanTable(Tables.documents(spark, dir).filter(corpusFilter), sfx, t)
      }
    }
    t
  }

  /** Span-table build core: distinct span codes of a docs frame,
    * bucketed by code. Callers hold the generation's build lock. */
  private def writeSpanTable(docs: DataFrame, sfx: String, t: String): Unit =
    docs
      .select(explode(spanCodes(col("text"), SpanW)).as("code"))
      .distinct()
      .repartition(IndexBuckets, col("code"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(IndexBuckets, "code")
      .sortBy("code")
      .option("path", s"$indexRoot/span_$sfx")
      .saveAsTable(t)

  /** Generation ROLLOVER for the span-code family (see
    * [[rolloverBandIndex]]): rebuild generation `newTag` from corpus ∪
    * admitted docs. Span codes are deterministic per document and the
    * table is distinct-by-construction, so rollover ≡ the merged old
    * generation row-for-row. */
  private[graft] def rolloverSpanIndex(spark: SparkSession, dir: String,
      admittedDocs: DataFrame, newTag: String,
      corpusFilter: Column = lit(true)): String = {
    val sfx = IndexStore.suffix(dir, newTag, corpusFilter)
    val t = s"graft_span_idx_$sfx"
    idxLock(sfx).synchronized {
      if (!spark.catalog.tableExists(t)) {
        writeSpanTable(
          Tables.documents(spark, dir).filter(corpusFilter)
            .select(col("doc_id"), col("text"))
            .unionByName(admittedDocs.dropDuplicates("doc_id")
              .select(col("doc_id"), col("text"))),
          sfx, t)
      }
    }
    t
  }

  /** The BETWEEN-generations step for the span-code index: fold an
    * accepted batch's span codes in, appending ONLY codes the standing
    * index lacks — the anti-join keeps the table's distinct invariant
    * (a blind append would duplicate shared codes: harmless to the
    * semi-join verdict but unbounded growth and merged ≠ rebuild), and
    * it consumes the corpus side as the bucketed scan, so only the
    * batch's codes shuffle. The novel-code frame is staged
    * (localCheckpoint) before the append — the insert must not read
    * the table it writes. */
  private[graft] def mergeBatchIntoSpanIndex(spark: SparkSession, dir: String,
      batchDocs: DataFrame, tag: String = "",
      corpusFilter: Column = lit(true)): Unit = {
    val t = ensureSpanIndex(spark, dir, tag, corpusFilter)
    val sfx = IndexStore.suffix(dir, tag, corpusFilter)
    // The anti-join reads the table the insert writes, so this is a
    // read-modify-write: without the suffix lock two concurrent merges
    // both see a shared code as novel and both append it (breaking the
    // distinct invariant), and a merge racing compactSpanIndex's
    // snapshot-then-overwrite is silently dropped.
    idxLock(sfx).synchronized {
      val novel = batchDocs
        .select(explode(spanCodes(col("text"), SpanW)).as("code"))
        .distinct()
        .join(spark.table(t), Seq("code"), "left_anti")
        .localCheckpoint()
      novel.repartition(IndexBuckets, col("code"))
        .write.mode("append").format("parquet").insertInto(t)
      spark.catalog.refreshTable(t) // see mergeBatchIntoBandIndex
    }
  }

  /** Maintenance twin of [[compactBandIndex]] for the span-code table. */
  private[graft] def compactSpanIndex(spark: SparkSession, dir: String,
      tag: String = "", corpusFilter: Column = lit(true)): Unit = {
    val sfx = IndexStore.suffix(dir, tag, corpusFilter)
    idxLock(sfx).synchronized {
      IndexStore.rewriteBucketed(spark, s"graft_span_idx_$sfx",
        s"$indexRoot/span_$sfx", IndexBuckets, Seq("code"))
    }
  }

  /** [[incrementalSpanRemoval]] driven from the on-disk span-code
    * index: only the batch is span-hashed; the corpus side of the
    * semi-join is a bucketed exchange-free scan. Hash-identical to the
    * recompute path. */
  def incrementalSpanRemovalPersisted(spark: SparkSession, dir: String): DataFrame = {
    val corpusCodes = spark.table(
      ensureSpanIndex(spark, dir, corpusFilter = drillCorpusFilter))
    val batchDocs = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(IncrementalBatchMod)) === 0)
      .repartition(col("doc_id")) // parallelize the batch span explode (r17)
    val occ = batchDocs
      .select(col("doc_id"), posexplode(spanCodes(col("text"), SpanW)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("code"))
    val hits = occ.join(corpusCodes, Seq("code"), "left_semi")
      .select(col("doc_id"), col("pos"))
    spanIngestVerdict(batchDocs, hits)
  }

  /** Eval-set leakage audit: near-dup pairs that STRADDLE the
    * train/val/test split — the decontamination hygiene check every
    * training pipeline needs (a test doc whose near-duplicate sits in
    * train inflates eval silently; random splits guarantee some, and
    * this query names them). Composes the exact inverted-index pair
    * machinery with Curation's deterministic hash split, so both the
    * pairs and the split assignment replay in the oracle; the fix a
    * pipeline applies downstream is split-by-cluster, and this report
    * is its before/after measure.
    *
    * Scale shape: the pair frame (post-threshold near-dups) is orders
    * smaller than the corpus; the split frame is a scan projection —
    * two doc_id equi-joins, no new shuffle class. */
  def splitLeakage(spark: SparkSession, dir: String): DataFrame = {
    val splits = Curation.assignSplits(spark, dir)
      .select(col("doc_id"), col("split"))
    jaccardPairsUnsorted(spark, dir)
      .join(splits.select(col("doc_id").as("doc_i"), col("split").as("split_i")), "doc_i")
      .join(splits.select(col("doc_id").as("doc_j"), col("split").as("split_j")), "doc_j")
      .filter(col("split_i") =!= col("split_j"))
      .select(col("doc_i"), col("doc_j"), col("split_i"), col("split_j"),
        col("jaccard"))
  }

  /** The FIX for [[splitLeakage]]: split-by-cluster. Every doc is
    * assigned train/val/test by the md5 of its near-dup cluster
    * canonical (its own id when unclustered), so a whole near-dup
    * family lands in ONE split and cross-split leakage is zero by
    * construction — the standard decontamination-aware split. Same
    * thresholds as Curation.assignSplits; the key is group-pure (no
    * per-doc fields), which is precisely what makes it leak-proof.
    *
    * Scale shape: the cluster map is the (bounded) CC output left-
    * joined onto a scan projection; the split is a pure hash
    * expression — no shuffle beyond what clustering already did. */
  def splitsByCluster(spark: SparkSession, dir: String): DataFrame = {
    val cl = dupClusters(spark, dir).select(col("doc_id"), col("canonical_id"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("canonical_id"), col("doc_id")))
      .withColumn("u", Curation.hashU(col("group_id").cast("string")))
      .select(col("doc_id"), col("group_id"),
        when(col("u") < 0.8, "train").when(col("u") < 0.9, "val")
          .otherwise("test").as("split"))
  }

  /** The dedup DIVIDEND, by source: docs and chars before vs after
    * keep-best canonicalization — the number every curation run
    * reports ("dedup removed X% of source Y"). One CC run feeds both
    * the keeper selection and the dropped set; the rollup is a
    * broadcast of the (bounded) dropped ids onto one corpus scan,
    * grouped to |sources| rows. */
  def dedupSavings(spark: SparkSession, dir: String): DataFrame = {
    val clusters = clusterMap(spark, dir)
    val quality = Tables.documents(spark, dir)
      .select(col("doc_id") +: TextAnalysis.qualityFeatures(col("text")): _*)
      .withColumn("quality", TextAnalysis.qualityExpr)
      .select(col("doc_id"), col("quality"))
    val kept = clusters.join(quality, "doc_id")
      .groupBy(col("canonical_id"))
      .agg(max(struct(col("quality").as("q"), (-col("doc_id")).as("nid"))).as("best"))
      .select((-col("best.nid")).as("doc_id"))
    val dropped = clusters.select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left_anti")
      .withColumn("is_dropped", lit(true))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .join(dropped, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dropped"), 0L).otherwise(1L)).as("n_kept"),
        sum(col("n_chars")).as("chars_total"),
        sum(when(col("is_dropped"), 0L).otherwise(col("n_chars"))).as("chars_kept"))
      .withColumn("savings_milli",
        expr("(chars_total - chars_kept) * 1000 div chars_total"))
  }

  /** Cross-source near-dup ATTRIBUTION: the exact-jaccard pair frame
    * rolled up to unordered source pairs — who republishes whom. A
    * (src_a, src_b) row with src_a ≠ src_b is syndication/mirroring
    * between feeds (the FineWeb-style drop-whole-domains signal with
    * the counterparty named); the diagonal is self-republication
    * within one source. Complements [[dedupSavings]], which prices
    * what dedup removes per source but not WHERE the copies came from.
    *
    * Scale shape: the memoized post-threshold pair frame (orders
    * smaller than the corpus) joins the (doc_id, source) projection
    * twice on doc keys, then one map-side-combined groupBy to at most
    * |sources|² rows. max is the order-independent jaccard summary —
    * no float summation enters the hash. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val srcs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"))
    jaccardPairsUnsorted(spark, dir)
      .join(srcs.select(col("doc_id").as("doc_i"),
        col("source").as("src_i")), Seq("doc_i"))
      .join(srcs.select(col("doc_id").as("doc_j"),
        col("source").as("src_j")), Seq("doc_j"))
      .select(least(col("src_i"), col("src_j")).as("src_a"),
        greatest(col("src_i"), col("src_j")).as("src_b"),
        col("jaccard"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        max(col("jaccard")).as("max_jaccard"))
  }

  /** Per-document n-gram NOVELTY score — the "how much of this doc is
    * new to the corpus" curation signal (the additive complement of
    * near-dup detection: rank-by-contribution instead of drop-by-
    * similarity). A shingle's first appearance is attributed to the
    * minimum doc_id holding it (deterministic, order-free); a doc's
    * novelty is the share of its distinct word-3-gram shingles it is
    * the first holder of. Boilerplate-heavy docs score near 0, fresh
    * content near 1 — the score feeds mixing/curriculum weights the
    * same way quality scores do.
    *
    * Scale shape: the exploded postings are hashed on code for the
    * min-doc aggregate and joined back on the same key. At testdata
    * scale Catalyst broadcasts the firsts aggregate (2 exchanges
    * total); at corpus scale stats push the join to a co-partitioned
    * shuffle join over the same subplan, where exchange reuse applies.
    * The per-doc rollup that follows is map-side combined. Stop-shingle
    * skew costs only a count here — a hot key never yields k² pairs —
    * so the raw postings are safe without the pair joins' df cap. */
  def ngramNoveltyOn(sh: DataFrame): DataFrame = {
    val posts = sh.select(col("doc_id"), explode(col("codes")).as("code"))
    val first = posts.groupBy(col("code")).agg(min(col("doc_id")).as("first_doc"))
    posts.join(first, "code")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
  }

  def ngramNovelty(spark: SparkSession, dir: String): DataFrame =
    ngramNoveltyOn(shingled(spark, dir))

  /** [[ngramNovelty]]'s ingest form: score an arriving batch's novelty
    * against the STANDING corpus only (batch docs don't dilute each
    * other — the question at ingest is "what does this batch add").
    * Same batch convention as [[incrementalDedup]]: every
    * [[IncrementalBatchMod]]th doc plays the batch. A shingle is novel
    * iff absent from the corpus's distinct-code index — the artifact a
    * 100 TB deployment persists once per generation (exactly the
    * standing band index [[incrementalDedup]] probes); the ingest then
    * shuffles ONLY the batch's postings against it, never
    * corpus × corpus. */
  def incrementalNovelty(spark: SparkSession, dir: String): DataFrame =
    incrementalNoveltyOn(shingled(spark, dir),
      pmod(col("doc_id"), lit(IncrementalBatchMod)) === 0)

  /** Core over any (doc_id, codes) frame and batch predicate — spec
    * seam. */
  private[graft] def incrementalNoveltyOn(sh: DataFrame,
      isBatch: Column): DataFrame = {
    val corpusCodes = sh.filter(!isBatch)
      .select(explode(col("codes")).as("code")).distinct()
      .withColumn("seen", lit(1L))
    val posts = sh.filter(isBatch)
      .select(col("doc_id"), explode(col("codes")).as("code"))
    posts.join(corpusCodes, Seq("code"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty",
        round(col("n_novel").cast("double") / col("n_shingles"), 6))
  }

  // ---------------------------------------------------------- winnowing

  /** Winnowing fingerprint parameters (Schleimer, Wilbur & Aiken,
    * "Winnowing: local algorithms for document fingerprinting",
    * SIGMOD 2003): word [[WinnowK]]-gram hashes, a window of
    * [[WinnowW]] consecutive k-grams. Guarantee: any run of at least
    * WinnowK + WinnowW − 1 shared tokens yields at least one shared
    * fingerprint (the 100%-recall threshold t = k + w − 1), with
    * expected selected density 2/(w+1) — so the inverted index the
    * pair join probes is ~2.5× smaller than full distinct-shingle
    * postings at w = 4, the point of winnowing at corpus scale. */
  val WinnowK = 3
  val WinnowW = 4

  /** Packed min-by-(hash, position) selection key: h·PosEnc + pos
    * orders first by hash, ties by the LEFTMOST position — one fixed
    * deterministic rule shared bit-for-bit with the oracle (any fixed
    * tie rule preserves the winnowing guarantee). Positions sit far
    * below 2^20 (documents are ≪ 1M tokens) and h < 2^31, so the
    * packed key is < 2^51 — exact in a BIGINT in both engines. */
  val WinnowPosEnc = 1048576L

  /** Selected winnowing fingerprints over any (doc_id, text) frame —
    * spec seam. One row per distinct selected (hash, position):
    * (doc_id, key, h, pos), positions 0-based.
    *
    * Scale shape (r16): positional k-gram hashes AND the window
    * selection are ONE fused scan projection — the native WinnowSelect
    * kernel computes the per-document sliding min + distinct over the
    * SpanHashes array inside the row, so selection costs ZERO
    * exchanges. The r15 formulation paid a doc_id hash shuffle +
    * per-doc sort (window min) plus a second shuffle (DISTINCT) for
    * the same selected set — [[winnowSelectedWindowOn]] keeps that
    * form as executable documentation, and the spec pins kernel ≡
    * window bit-for-bit. Never a self-join, never a collect. */
  private[graft] def winnowSelectedOn(docs: DataFrame,
      k: Int = WinnowK, w: Int = WinnowW): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.winnowKeys(
          spanCodes(col("text"), k), w, WinnowPosEnc)).as("key"))
      .select(col("doc_id"), col("key"),
        expr(s"key div $WinnowPosEnc").as("h"),
        expr(s"key % $WinnowPosEnc").as("pos"))

  /** The r15 Window-function formulation of [[winnowSelectedOn]] —
    * kept as executable documentation of what the fused kernel
    * computes (the differential spec replays both over the corpus and
    * asserts set equality). */
  private[graft] def winnowSelectedWindowOn(docs: DataFrame,
      k: Int = WinnowK, w: Int = WinnowW): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = docs
      .select(col("doc_id"), posexplode(spanCodes(col("text"), k)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col").as("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    occ
      .withColumn("np",
        count(lit(1)).over(Window.partitionBy(col("doc_id"))))
      .withColumn("key",
        min(col("h") * WinnowPosEnc + col("pos"))
          .over(byDoc.rowsBetween(0, w - 1)))
      .filter(col("pos") <= greatest(col("np") - w, lit(0L)))
      .select(col("doc_id"), col("key")).distinct()
      .select(col("doc_id"), col("key"),
        expr(s"key div $WinnowPosEnc").as("h"),
        expr(s"key % $WinnowPosEnc").as("pos"))
  }

  /** The selected-fingerprint frame, memoized per (session, dir) —
    * shared by the per-doc report and the pair join, ~2/(w+1) of the
    * span count per document. */
  private val winnowMemo = new DirMemo

  private def winnowSelected(spark: SparkSession, dir: String): DataFrame =
    winnowMemo(spark, dir) {
      // input repartition for the same single-row-group reason as
      // [[shingled]]: the fused WinnowSelect kernel runs in the scan
      // stage, which is one task on this testdata without it
      winnowSelectedOn(Tables.documents(spark, dir).repartition(col("doc_id")))
        .localCheckpoint()
    }

  /** Per-document winnowing report: span count, selected fingerprint
    * count, a mod-P checksum of the packed keys (pins the exact
    * selected SET — hash AND position — not just its size), and the
    * achieved density against the 2/(w+1) expectation. Every document
    * with ≥ 1 span selects ≥ 1 fingerprint (the first window always
    * fires), so the join back to span counts is inner and lossless. */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val spans = Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(spanCodes(col("text"), WinnowK)).cast("long").as("n_spans"))
      .filter(col("n_spans") > 0)
    winnowSelected(spark, dir)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_fp"),
        sum(expr(s"key % ${graft.functions.TextFunctions.P}")).as("fp_check"))
      .join(spans, "doc_id")
      .select(col("doc_id"), col("n_spans"), col("n_fp"), col("fp_check"),
        expr("n_fp * 1000 div n_spans").as("density_milli"))
  }

  /** Cross-document winnowing match pairs — the MOSS-style detector:
    * join documents on shared selected fingerprint HASHES (distinct
    * per doc; position is a within-doc concern), df-capped with the
    * pair joins' standing valve, keep pairs sharing ≥ 2 fingerprints,
    * and score fingerprint-set Jaccard in milli. Winnowing's guarantee
    * makes this a detector for shared runs ≥ k + w − 1 tokens at
    * ~2/(w+1) of the postings volume the full-shingle pair join
    * shuffles — the scale trade the SIGMOD paper is about. */
  /** Df-capped winnow postings (doc_id, h, nf) with each doc's UNCAPPED
    * distinct-fingerprint count nf riding the posting row — the same
    * one-extra-long-on-the-shuffle trick [[cappedPosts]] uses for sz,
    * buying back the two per-pair size joins the pair query otherwise
    * pays. Memoized per (session, dir): the pair join and the
    * method-agreement candidate join share the identical frame (r17). */
  private val winnowPostsMemo = new DirMemo

  private def winnowCappedPosts(spark: SparkSession, dir: String): DataFrame =
    winnowPostsMemo(spark, dir) {
      val hs = winnowSelected(spark, dir)
        .select(col("doc_id"), col("h")).distinct()
      val nf = hs.groupBy("doc_id").agg(count(lit(1)).as("nf"))
      val capped = hs.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df") <= DefaultMaxShingleDf).select("h")
      hs.join(capped, "h").join(nf, "doc_id").localCheckpoint()
    }

  def winnowPairs(spark: SparkSession, dir: String): DataFrame = {
    val posts = winnowCappedPosts(spark, dir)
    posts.as("a").join(posts.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"),
        first(col("a.nf")).as("nf_a"), first(col("b.nf")).as("nf_b"))
      .filter(col("shared") >= 2)
      .select(col("doc_a"), col("doc_b"), col("shared"),
        col("nf_a"), col("nf_b"),
        expr("shared * 1000 div (nf_a + nf_b - shared)").as("jaccard_milli"))
  }

  /** [[incrementalDedup]]'s winnowing form: the ingest probe driven by
    * the winnowed fingerprint index instead of the banded MinHash one —
    * same batch convention, same exact-Jaccard ≥ τ verification, same
    * verdict shape, but candidates come from SHARED SELECTED
    * FINGERPRINTS (guaranteed for any shared run ≥ k+w−1 tokens;
    * measured 1000-milli recall in dedup_method_agreement at both
    * gated SFs) over a corpus index ~2/(w+1) the size of the band
    * postings. The corpus side is static per generation — the
    * persisted twin probes it from a bucketed on-disk table with zero
    * corpus re-winnowing, so an ingest shuffles only the batch's
    * fingerprints plus candidates into verification. */
  def incrementalWinnowDedup(spark: SparkSession, dir: String): DataFrame = {
    val isBatch = pmod(col("doc_id"), lit(IncrementalBatchMod)) === 0
    val hs = winnowSelected(spark, dir).select(col("doc_id"), col("h")).distinct()
    val corpus = hs.filter(!isBatch)
    val capped = corpus.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= DefaultMaxShingleDf).select("h")
    val cand = hs.filter(isBatch).select(col("doc_id").as("batch_id"), col("h"))
      .join(corpus.join(capped, "h")
        .select(col("doc_id").as("corpus_id"), col("h")), "h")
      .select(col("batch_id"), col("corpus_id")).distinct()
    winnowVerdict(cand, shingled(spark, dir))
  }

  /** Exact-verify winnow candidates and emit the per-batch-doc verdict
    * — [[incrementalDedup]]'s aggregation over a winnow candidate
    * frame. `sets` must hold (doc_id, codes, sz) for BOTH sides. The
    * batch universe (sz > 0 ⇔ ≥ 3 tokens) is exactly the winnowable
    * universe (≥ 1 k-gram span at k = 3), so no batch doc is dropped
    * or invented relative to the band drill. */
  private def winnowVerdict(cand: DataFrame, sets: DataFrame): DataFrame = {
    val dups = withJaccard(cand, sets, "batch_id", "corpus_id")
      .filter(col("jaccard") >= JaccardThreshold)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_dups"), max(col("jaccard")).as("best_jaccard"))
    sets.filter(col("sz") > 0)
      .filter(pmod(col("doc_id"), lit(IncrementalBatchMod)) === 0)
      .select(col("doc_id").as("batch_id"))
      .join(dups, Seq("batch_id"), "left")
      .select(col("batch_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("best_jaccard"),
        col("n_dups").isNull.as("keep"))
  }

  /** Write-once-per-generation winnow index: the corpus's distinct
    * selected-fingerprint postings bucketed by hash (the probe join's
    * key) plus its verification sets bucketed by doc_id — the winnow
    * family's counterpart of [[ensureBandIndex]]'s (bands, sets) pair.
    * Self-contained on purpose for the drill; a production deployment
    * running several candidate methods shares ONE sets artifact
    * across them (the sets are method-agnostic — only the candidate
    * index differs). Idempotent per session under the family lock. */
  private[graft] def ensureWinnowIndex(spark: SparkSession, dir: String,
      tag: String = "", corpusFilter: Column = lit(true)): (String, String) = {
    val sfx = idxSuffix(dir) + (if (tag.isEmpty) "" else s"_$tag") +
      predSuffix(corpusFilter)
    val postsT = s"graft_winnow_idx_$sfx"
    val setsT = s"graft_winsets_idx_$sfx"
    idxLock(s"winnow_$sfx").synchronized {
      if (!spark.catalog.tableExists(postsT) || !spark.catalog.tableExists(setsT)) {
        writeWinnowTables(Tables.documents(spark, dir).filter(corpusFilter),
          sfx, postsT, setsT)
      }
    }
    (postsT, setsT)
  }

  /** The winnow generation's document-frequency side-table
    * (h, df) — one row per distinct fingerprint hash per write, bucketed
    * by h like the postings. The probe's df-cap reads THIS instead of
    * re-aggregating the full postings per probe (r17, guide §2.3/§8:
    * decide with small rows): the postings table is corpus×density
    * rows, the df table is |distinct h| rows, and merge maintains it
    * with one |batch|-proportional append. Probes SUM df per h, so
    * multi-write multiplicity is harmless. Derives its identity from
    * the postings table name so rollover generations get their own. */
  private[graft] def ensureWinnowDf(spark: SparkSession, postsT: String): String = {
    val sfx = postsT.stripPrefix("graft_winnow_idx_")
    val dfT = s"graft_winnowdf_idx_$sfx"
    idxLock(s"winnowdf_$sfx").synchronized {
      if (!spark.catalog.tableExists(dfT)) {
        spark.table(postsT).groupBy("h").agg(count(lit(1)).as("df"))
          .repartition(IndexBuckets, col("h"))
          .write.mode("overwrite").format("parquet")
          .bucketBy(IndexBuckets, "h")
          .sortBy("h")
          .option("path", s"$indexRoot/winnowdf_$sfx")
          .saveAsTable(dfT)
      }
    }
    dfT
  }

  /** Persist one winnow-index generation from an explicit document
    * frame — the build core shared by [[ensureWinnowIndex]] (corpus)
    * and [[rolloverWinnowIndex]] (corpus ∪ admitted). Fingerprints are
    * deterministic per document, so the generation depends only on the
    * SET of input docs. Callers hold the family lock. */
  private def writeWinnowTables(docs: DataFrame, sfx: String,
      postsT: String, setsT: String): Unit = {
    winnowSelectedOn(docs).select(col("doc_id"), col("h")).distinct()
      .repartition(IndexBuckets, col("h"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(IndexBuckets, "h")
      .sortBy("h")
      .option("path", s"$indexRoot/winnow_$sfx")
      .saveAsTable(postsT)
    // df side-table written WITH the generation (overwrite, not ensure:
    // a rebuilt generation must never serve a predecessor's counts);
    // read back from the just-written bucketed postings — bucket-local,
    // no re-winnowing
    docs.sparkSession.table(postsT).groupBy("h").agg(count(lit(1)).as("df"))
      .repartition(IndexBuckets, col("h"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(IndexBuckets, "h")
      .sortBy("h")
      .option("path", s"$indexRoot/winnowdf_$sfx")
      .saveAsTable(s"graft_winnowdf_idx_$sfx")
    shingledOn(docs).select(col("doc_id"), col("codes"), col("sz"))
      .repartition(IndexBuckets, col("doc_id"))
      .write.mode("overwrite").format("parquet")
      .bucketBy(IndexBuckets, "doc_id")
      .sortBy("doc_id")
      .option("path", s"$indexRoot/winsets_$sfx")
      .saveAsTable(setsT)
  }

  /** Fold an accepted ingest batch into the standing winnow index —
    * the band family's merge discipline: the anti-join on the sets
    * table keeps only never-admitted docs (idempotent under the
    * at-least-once foreachBatch replay: duplicate POSTING rows would
    * be absorbed by the candidate distinct, but duplicate SETS rows
    * would double-count n_dups in every later probe, so sets must
    * land exactly once; postings append FIRST so the worst crash
    * window — dying between the writes — leaves the doc out of sets
    * and the replay re-runs it safely). insertInto appends through
    * the bucket spec; both relation caches refresh so the caller's
    * next probe sees the merge. */
  private[graft] def mergeBatchIntoWinnowIndex(spark: SparkSession,
      dir: String, batchDocs: DataFrame, tag: String = "",
      corpusFilter: Column = lit(true)): Unit = {
    val (postsT, setsT) = ensureWinnowIndex(spark, dir, tag, corpusFilter)
    idxLock(s"winnow_${IndexStore.suffix(dir, tag, corpusFilter)}").synchronized {
      // df side-table from the PRE-merge postings (building it after the
      // postings append would double-count the batch when its own
      // partial counts land below)
      val dfT = ensureWinnowDf(spark, postsT)
      val novel = batchDocs.dropDuplicates("doc_id")
        .join(spark.table(setsT).select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("text"))
        .localCheckpoint() // staged: the insert must not read its target
      // staged once: feeds both the postings append and its df partials
      val novelPosts = winnowSelectedOn(novel)
        .select(col("doc_id"), col("h")).distinct()
        .localCheckpoint()
      novelPosts
        .repartition(IndexBuckets, col("h"))
        .write.mode("append").format("parquet").insertInto(postsT)
      // batch-proportional df maintenance: append the batch's per-h
      // partial counts; probes sum per h. Crash between this append and
      // the sets append replays the doc and re-appends its partials —
      // the same df-overcount exposure the old probe-side aggregate had
      // from the duplicated postings rows that crash window leaves.
      novelPosts.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .repartition(IndexBuckets, col("h"))
        .write.mode("append").format("parquet").insertInto(dfT)
      shingledOn(novel).select(col("doc_id"), col("codes"), col("sz"))
        .repartition(IndexBuckets, col("doc_id"))
        .write.mode("append").format("parquet").insertInto(setsT)
      spark.catalog.refreshTable(postsT)
      spark.catalog.refreshTable(dfT)
      spark.catalog.refreshTable(setsT)
    }
  }

  /** Compaction for a merged winnow generation: rewrite both tables
    * back to ONE file per bucket through the exact create path, no
    * row changed — same maintenance contract as
    * [[compactBandIndex]]. */
  private[graft] def compactWinnowIndex(spark: SparkSession, dir: String,
      tag: String = "", corpusFilter: Column = lit(true)): Unit = {
    val sfx = IndexStore.suffix(dir, tag, corpusFilter)
    idxLock(s"winnow_$sfx").synchronized {
      IndexStore.rewriteBucketed(spark, s"graft_winnow_idx_$sfx",
        s"$indexRoot/winnow_$sfx", IndexBuckets, Seq("h"))
      IndexStore.rewriteBucketed(spark, s"graft_winsets_idx_$sfx",
        s"$indexRoot/winsets_$sfx", IndexBuckets, Seq("doc_id"))
      // df partials keep their multiplicity through the rewrite (probes
      // sum per h, so the totals are unchanged); compacting just folds
      // the K merge files back to one per bucket like the postings
      if (spark.catalog.tableExists(s"graft_winnowdf_idx_$sfx")) {
        IndexStore.rewriteBucketed(spark, s"graft_winnowdf_idx_$sfx",
          s"$indexRoot/winnowdf_$sfx", IndexBuckets, Seq("h"))
      }
    }
  }

  /** Generation ROLLOVER for the winnow family: rebuild generation
    * `newTag` from the standing corpus PLUS the admitted documents.
    * Fingerprints carry no trained state, so the rolled-over
    * generation is row-identical to the incrementally merged one —
    * rollover re-expresses accumulated appends as a clean
    * one-file-per-bucket artifact under a fresh identity; the old
    * generation keeps serving until the caller swaps and
    * [[IndexStore.drop]]s it. */
  private[graft] def rolloverWinnowIndex(spark: SparkSession, dir: String,
      admittedDocs: DataFrame, newTag: String,
      corpusFilter: Column = lit(true)): (String, String) = {
    val sfx = IndexStore.suffix(dir, newTag, corpusFilter)
    val postsT = s"graft_winnow_idx_$sfx"
    val setsT = s"graft_winsets_idx_$sfx"
    idxLock(s"winnow_$sfx").synchronized {
      if (!spark.catalog.tableExists(postsT) || !spark.catalog.tableExists(setsT)) {
        val merged = Tables.documents(spark, dir).filter(corpusFilter)
          .select(col("doc_id"), col("text"))
          .unionByName(admittedDocs.dropDuplicates("doc_id")
            .select(col("doc_id"), col("text")))
        writeWinnowTables(merged, sfx, postsT, setsT)
      }
    }
    (postsT, setsT)
  }

  /** Probe an arriving batch against a persisted winnow index: winnow
    * ONLY the batch, df-cap on the index side (the stop-fingerprint
    * valve is a corpus property, so it prices identically to the
    * recompute twin), verify candidates at exact Jaccard against the
    * persisted sets ∪ the batch's own — per-batch cost ∝ batch, never
    * corpus. */
  private[graft] def probeWinnowIndex(spark: SparkSession,
      batchDocs: DataFrame, postsT: String, setsT: String): DataFrame = {
    val batchSh = shingledOn(batchDocs)
    val batchHs = winnowSelectedOn(batchDocs)
      .select(col("doc_id").as("batch_id"), col("h")).distinct()
    val idx = spark.table(postsT)
    // df-cap from the persisted side-table (summed per h — merges append
    // partial counts), not a re-aggregation of the full postings per
    // probe: the cap is a corpus property the generation artifact
    // carries, so the probe pays |distinct h| bucket-local rows instead
    // of a corpus-postings scan+aggregate per ingest batch (r17)
    val capped = spark.table(ensureWinnowDf(spark, postsT))
      .groupBy("h").agg(sum(col("df")).as("df"))
      .filter(col("df") <= DefaultMaxShingleDf).select("h")
    val cand = batchHs
      .join(idx.join(capped, "h")
        .select(col("doc_id").as("corpus_id"), col("h")), "h")
      .select(col("batch_id"), col("corpus_id")).distinct()
    // verification sides kept separate (r17): candidates are strictly
    // batch×corpus, so the batch side attaches from the batch's own
    // shingle frame and the corpus side from the BUCKETED sets table in
    // place — the old `sets-table ∪ batch` frame fed both joins and the
    // union destroyed the bucket co-partitioning the sets artifact
    // exists to provide (every probe re-shuffled the corpus sets)
    val dups = cand
      .join(batchSh.select(col("doc_id").as("batch_id"),
        col("codes").as("c_i"), col("sz").cast("long").as("sz_i")), "batch_id")
      .join(spark.table(setsT).select(col("doc_id").as("corpus_id"),
        col("codes").as("c_j"), col("sz").cast("long").as("sz_j")), "corpus_id")
      .withColumn("common",
        graft.functions.TextFunctions.commonCount(col("c_i"), col("c_j")))
      .withColumn("jaccard",
        col("common") / (col("sz_i") + col("sz_j") - col("common")))
      .filter(col("jaccard") >= JaccardThreshold)
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_dups"), max(col("jaccard")).as("best_jaccard"))
    // verdict universe: every shingleable doc of the batch — the caller
    // chooses the batch (the drill passes its mod-4 split), so the probe
    // judges whatever arrives
    batchSh.filter(col("sz") > 0)
      .select(col("doc_id").as("batch_id"))
      .join(dups, Seq("batch_id"), "left")
      .select(col("batch_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("best_jaccard"),
        col("n_dups").isNull.as("keep"))
  }

  /** The winnow drill: same batch/corpus split as
    * [[incrementalDedupPersisted]], probing the persisted winnow
    * postings instead of the band tables. Shares the recompute twin's
    * oracle verbatim — parity proves the on-disk path computes the
    * identical verdict. */
  def incrementalWinnowDedupPersisted(spark: SparkSession,
      dir: String): DataFrame = {
    val (postsT, setsT) = ensureWinnowIndex(spark, dir,
      corpusFilter = drillCorpusFilter)
    // batch repartition: the drill batch otherwise arrives as ONE scan
    // task and the batch-side winnow+shingle projections run
    // single-threaded — a production probe receives its micro-batch
    // already shuffled (r17; batch-proportional, never corpus)
    probeWinnowIndex(spark,
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(IncrementalBatchMod)) === 0)
        .repartition(col("doc_id")),
      postsT, setsT)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_ngram_novelty" -> ((s, d) => ngramNovelty(s, d)),
    "dedup_winnow_fingerprints" -> ((s, d) => winnowFingerprints(s, d)),
    "dedup_winnow_pairs" -> ((s, d) => winnowPairs(s, d)),
    "dedup_winnow_incremental" -> ((s, d) => incrementalWinnowDedup(s, d)),
    "dedup_winnow_incremental_persisted" ->
      ((s, d) => incrementalWinnowDedupPersisted(s, d)),
    "text_novelty_incremental" -> ((s, d) => incrementalNovelty(s, d)),
    "dedup_savings" -> ((s, d) => dedupSavings(s, d)),
    "dedup_source_overlap" -> ((s, d) => sourceOverlap(s, d)),
    "qa_split_leakage" -> ((s, d) => splitLeakage(s, d)),
    "sample_splits_by_cluster" -> ((s, d) => splitsByCluster(s, d)),
    "dedup_incremental" -> ((s, d) => incrementalDedup(s, d)),
    "dedup_method_agreement" -> ((s, d) => methodAgreement(s, d)),
    "dedup_incremental_persisted" -> ((s, d) => incrementalDedupPersisted(s, d)),
    "dedup_span_incremental_persisted" -> ((s, d) => incrementalSpanRemovalPersisted(s, d)),
    "dedup_clusters" -> ((s, d) => dupClusters(s, d)),
    "dedup_clusters_star" -> ((s, d) => dupClustersStar(s, d)),
    "dedup_exact" -> ((s, d) => exact(s, d)),
    "dedup_jaccard_pairs" -> ((s, d) => jaccardPairs(s, d)),
    "dedup_prefix_join" -> ((s, d) => prefixJoin(s, d)),
    "dedup_minhash_lsh" -> ((s, d) => minHashLshPairs(s, d)),
    "dedup_lsh_tuning" -> ((s, d) => lshTuningReport(s, d)),
    "dedup_simhash_pairs" -> ((s, d) => simHashPairs(s, d)),
    "dedup_embedding" -> ((s, d) => embeddingNearDups(s, d)),
    "dedup_embedding_clusters" -> ((s, d) => embeddingClusters(s, d)),
    "decontam_overlap" -> ((s, d) => decontamOverlap(s, d)),
    "dedup_span_frac" -> ((s, d) => crossDocSpanStats(s, d)),
    "dedup_cdc_chunks" -> ((s, d) => cdcDedup(s, d)),
    "dedup_cdc_incremental" -> ((s, d) => incrementalCdcDedup(s, d)),
    "dedup_cdc_incremental_persisted" ->
      ((s, d) => incrementalCdcDedupPersisted(s, d)),
    "dedup_span_removal" -> ((s, d) => spanRemoval(s, d)),
    "dedup_span_scrub" -> ((s, d) => spanScrub(s, d)),
    "dedup_span_savings" -> ((s, d) => spanSavings(s, d)),
    "dedup_span_incremental" -> ((s, d) => incrementalSpanRemoval(s, d)),
    "dedup_containment" -> ((s, d) => containmentPairs(s, d)),
    "dedup_keep_best" -> ((s, d) => keepBestPerCluster(s, d)),
    "dedup_embedding_keep_best" -> ((s, d) => keepBestPerEmbeddingCluster(s, d)))

  // ------------------------------------------------------------- oracles

  /** Shared oracle CTE: distinct word-3-gram shingle codes per doc,
    * polynomial-hashed exactly as TextFunctions.polyHash. */
  private val shingleCte =
    """toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
      |sh0 AS (SELECT doc_id,
      |  list_distinct(list_transform(
      |    list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
      |      j -> t[j] || ' ' || t[j+1] || ' ' || t[j+2])),
      |    s -> list_reduce(list_prepend(0::BIGINT,
      |           list_transform(string_split(s, ''), c -> ascii(c)::BIGINT)),
      |         (a, c) -> (a * 31 + c) % 2147483647))) AS codes
      | FROM toks),
      |sh AS (SELECT doc_id, codes, len(codes)::BIGINT AS sz FROM sh0)""".stripMargin

  /** [[shingleCte]] generalized for composed-pipeline oracles: the
    * same shingle chain over an arbitrary (doc_id, text) source with a
    * CTE-name prefix, so two chains (e.g. a batch over extracted text
    * and a corpus over raw text) coexist in one WITH. */
  private[operators] def shingleCtesOn(src: String, p: String): String =
    s"""${p}toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM $src),
       |${p}sh0 AS (SELECT doc_id,
       |  list_distinct(list_transform(
       |    list_distinct(list_transform(range(1, greatest(len(t) - 1, 1)),
       |      j -> t[j] || ' ' || t[j+1] || ' ' || t[j+2])),
       |    s -> list_reduce(list_prepend(0::BIGINT,
       |           list_transform(string_split(s, ''), c -> ascii(c)::BIGINT)),
       |         (a, c) -> (a * 31 + c) % 2147483647))) AS codes
       | FROM ${p}toks),
       |${p}sh AS (SELECT doc_id, codes, len(codes)::BIGINT AS sz FROM ${p}sh0)""".stripMargin

  /** The MinHash signature + band chain over a `${p}sh` shingle CTE,
    * prefixed like [[shingleCtesOn]]. */
  private[operators] def minhashBandsOn(p: String): String =
    s"""${p}mh AS (SELECT doc_id, i,
       |    min((c * (2*i + 1) + 104729 * i + 12345) % 2147483647) AS m
       |  FROM (SELECT doc_id, unnest(codes) AS c FROM ${p}sh),
       |       (SELECT unnest(range(0, $MinHashK)) AS i)
       |  GROUP BY 1, 2),
       |${p}sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM ${p}mh GROUP BY 1),
       |${p}bands AS (SELECT doc_id, band, s[2*band + 1] AS m1, s[2*band + 2] AS m2
       |  FROM ${p}sig, (SELECT unnest(range(0, $Bands)) AS band))""".stripMargin

  /** dedup_clusters and dedup_clusters_star share one oracle: both
    * compute exact connected components with component-min canonicals —
    * only the distributed algorithm differs (diameter-bound label
    * propagation vs O(log² n) alternating stars). */
  /** Posting-list CTEs shared by the jaccard-derived oracles — mirrors
    * jaccardPairsOn's df cap exactly, so engine and oracle stay paired
    * at EVERY scale factor, not only ones where the cap is a no-op. */
  private val postsCte =
    s"""allposts AS (SELECT doc_id, unnest(codes) AS code FROM sh),
       |rare AS (SELECT code FROM allposts GROUP BY code
       |  HAVING count(*) <= $DefaultMaxShingleDf),
       |posts AS (SELECT p.doc_id, p.code FROM allposts p JOIN rare USING (code))""".stripMargin

  /** Shared CC CTE chain (shingles → postings → jaccard pairs →
    * transitive closure) — clusters and keep-best build on it. */
  private val ccCte =
    s"""$shingleCte,
       |$postsCte,
       |common AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
       |    count(*)::BIGINT AS common
       |  FROM posts a JOIN posts b ON a.code = b.code AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |pairs AS (SELECT doc_i, doc_j FROM common
       |  JOIN sh si ON si.doc_id = doc_i JOIN sh sj ON sj.doc_id = doc_j
       |  WHERE common::DOUBLE / (si.sz + sj.sz - common) >= 0.5),
       |edges AS (SELECT doc_i, doc_j FROM pairs
       |  UNION ALL SELECT doc_j, doc_i FROM pairs),
       |reach(src, dst) AS (
       |  SELECT doc_i, doc_i FROM (SELECT DISTINCT doc_i FROM edges)
       |  UNION
       |  SELECT r.src, e.doc_j FROM reach r JOIN edges e ON r.dst = e.doc_i)""".stripMargin

  /** Shared oracle CTE: positional SpanW-token span hashes per doc
    * (same polynomial as the engine's SpanHashes expression). */
  private val spanSpCte =
    s"""toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |sp AS (SELECT doc_id, j::BIGINT - 1 AS pos,
       |    list_reduce(list_prepend(0::BIGINT,
       |        list_transform(string_split(
       |          list_reduce(t[j:j+${SpanW - 1}], (a, b) -> a || ' ' || b), ''),
       |          c -> ascii(c)::BIGINT)),
       |      (a, c) -> (a * 31 + c) % 2147483647) AS code
       |  FROM toks, UNNEST(range(1, len(t) - $SpanW + 2)) AS u(j)
       |  WHERE len(t) >= $SpanW)""".stripMargin

  /** Gaps-and-islands merge of a (doc_id, pos) span-start CTE named
    * `rm` into intervals `iv` — mergeSpanIntervals replayed in SQL. */
  private val spanMergeCte =
    s"""lagd AS (SELECT doc_id, pos,
       |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev FROM rm),
       |isl AS (SELECT doc_id, pos,
       |    sum(CASE WHEN prev IS NULL OR pos - prev > $SpanW THEN 1 ELSE 0 END)
       |      OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
       |  FROM lagd),
       |iv AS (SELECT doc_id, min(pos) AS span_start, max(pos) + $SpanW AS span_end
       |  FROM isl GROUP BY doc_id, island)""".stripMargin

  /** Full span-dedup oracle chain: spans → cross-doc duplicate codes
    * with their packed-min keeper → merged removal intervals. */
  /** Shared CDC oracle CTE chain ending in the per-chunk frame `ch`
    * (doc_id, n_tokens, chunk_idx, s, e, chash) over ALL documents. */
  private val cdcChunkCtes: String =
    s"""toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |sp AS (SELECT doc_id, j::BIGINT - 1 AS pos,
       |    list_reduce(list_prepend(0::BIGINT,
       |        list_transform(string_split(
       |          list_reduce(t[j:j+${CdcK - 1}], (a, b) -> a || ' ' || b), ''),
       |          c -> ascii(c)::BIGINT)),
       |      (a, c) -> (a * 31 + c) % 2147483647) AS h
       |  FROM toks, UNNEST(range(1, len(t) - $CdcK + 2)) AS u(j)
       |  WHERE len(t) >= $CdcK),
       |cuts AS (SELECT doc_id, pos FROM sp WHERE pos > 0 AND h % $CdcD = 0),
       |bnd AS (SELECT doc_id, list_sort(list(pos)) AS cs FROM cuts GROUP BY 1),
       |db AS (SELECT t.doc_id, t.t,
       |    list_prepend(0::BIGINT, coalesce(b.cs, []::BIGINT[])) AS starts
       |  FROM toks t LEFT JOIN bnd b USING (doc_id)),
       |ch AS (SELECT doc_id, len(t)::BIGINT AS n_tokens, i::BIGINT - 1 AS chunk_idx,
       |    starts[i] AS s,
       |    CASE WHEN i < len(starts) THEN starts[i+1] ELSE len(t)::BIGINT END AS e,
       |    md5(array_to_string(
       |      t[(starts[i] + 1)::INT:(CASE WHEN i < len(starts) THEN starts[i+1]
       |        ELSE len(t)::BIGINT END)::INT], ' ')) AS chash
       |  FROM db, UNNEST(range(1, len(starts) + 1)) AS u(i))""".stripMargin

  private val cdcIncrementalSql: String =
    s"""WITH $cdcChunkCtes,
       |cor AS (SELECT DISTINCT chash FROM ch WHERE doc_id % $IncrementalBatchMod <> 0),
       |bat AS (SELECT * FROM ch WHERE doc_id % $IncrementalBatchMod = 0),
       |per AS (SELECT b.doc_id, b.n_tokens, count(*)::BIGINT AS n_chunks,
       |    sum(CASE WHEN cor.chash IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
       |    sum(CASE WHEN cor.chash IS NOT NULL THEN b.e - b.s ELSE 0 END)::BIGINT AS dup_tokens
       |  FROM bat b LEFT JOIN cor ON cor.chash = b.chash GROUP BY 1, 2)
       |SELECT doc_id, n_tokens, n_chunks, n_dup_chunks, dup_tokens,
       |  CASE WHEN n_tokens = 0 THEN 0 ELSE (dup_tokens * 1000) // n_tokens END AS dup_milli
       |FROM per ORDER BY doc_id""".stripMargin

  private[operators] val spanIvCte =
    s"""$spanSpCte,
       |dup AS (SELECT code, min(doc_id * $SpanPosShift + pos) AS keeper
       |  FROM sp GROUP BY code HAVING min(doc_id) <> max(doc_id)),
       |rm AS (SELECT sp.doc_id, sp.pos FROM sp JOIN dup USING (code)
       |  WHERE sp.doc_id * $SpanPosShift + sp.pos <> dup.keeper),
       |$spanMergeCte""".stripMargin

  /** Shared winnowing oracle CTE body: positional [[WinnowK]]-gram
    * hashes per doc (wsp, same polynomial as the engine's SpanHashes),
    * per-window-start packed sliding min (wspn), and the distinct
    * selected fingerprint keys (wsel) — [[winnowSelectedOn]] replayed
    * in SQL. Only full windows select (pos ≤ np − w), except a
    * shorter-than-w document whose single window is its whole span
    * list — the greatest(…, 0) arm, same as the engine's. This tail
    * omits the `toks` head so it composes into oracles that already
    * define `toks` (the shared shingle CTE's is the identical
    * definition); [[winnowCte]] is the standalone form. */
  private val winnowTailCte =
    s"""wsp AS (SELECT doc_id, j::BIGINT - 1 AS pos,
       |    list_reduce(list_prepend(0::BIGINT,
       |        list_transform(string_split(
       |          list_reduce(t[j:j+${WinnowK - 1}], (a, b) -> a || ' ' || b), ''),
       |          c -> ascii(c)::BIGINT)),
       |      (a, c) -> (a * 31 + c) % 2147483647) AS h
       |  FROM toks, UNNEST(range(1, len(t) - $WinnowK + 2)) AS u(j)
       |  WHERE len(t) >= $WinnowK),
       |wspn AS (SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY doc_id) AS np,
       |    min(h * $WinnowPosEnc + pos) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS key
       |  FROM wsp),
       |wsel AS (SELECT DISTINCT doc_id, key FROM wspn
       |  WHERE pos <= greatest(np - $WinnowW, 0))""".stripMargin

  private val winnowCte =
    s"""toks AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t FROM documents),
       |$winnowTailCte""".stripMargin

  private val clustersOracle =
    s"""WITH RECURSIVE $ccCte
       |SELECT src AS doc_id, min(dst) AS canonical_id
       |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin

  /** The persisted-index drills are BY CONSTRUCTION the same queries as
    * their recompute twins (only the plan's input artifact differs), so
    * they share the twins' oracle SQL verbatim — parity proves the
    * on-disk index path computes the identical verdict. */
  lazy val oracle: Map[String, String] = oracleBase ++ Map(
    "dedup_incremental_persisted" -> oracleBase("dedup_incremental"),
    "dedup_span_incremental_persisted" -> oracleBase("dedup_span_incremental"),
    "dedup_winnow_incremental_persisted" -> oracleBase("dedup_winnow_incremental"))

  private val oracleBase: Map[String, String] = Map(
    // the exact baseline is stated SEMANTICALLY (all pairs with true
    // jaccard >= τ) — the prefix machinery the engine uses is
    // spec-proven equal to it; both approximations replayed with
    // their own candidate pruning + exact verification
    "dedup_method_agreement" ->
      s"""WITH $shingleCte,
         |$postsCte,
         |$winnowTailCte,
         |whs AS (SELECT DISTINCT doc_id, key // $WinnowPosEnc AS h FROM wsel),
         |wcapped AS (SELECT h FROM whs GROUP BY h
         |  HAVING count(*) <= $DefaultMaxShingleDf),
         |wposts AS (SELECT doc_id, h FROM whs JOIN wcapped USING (h)),
         |wcand AS (SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
         |  FROM wposts a JOIN wposts b ON a.h = b.h AND a.doc_id < b.doc_id),
         |wp AS (SELECT doc_i, doc_j FROM wcand
         |  JOIN sh si ON si.doc_id = doc_i JOIN sh sj ON sj.doc_id = doc_j
         |  WHERE len(list_intersect(si.codes, sj.codes))::DOUBLE
         |    / (si.sz + sj.sz - len(list_intersect(si.codes, sj.codes))) >= $JaccardThreshold),
         |common AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
         |    count(*)::BIGINT AS common
         |  FROM posts a JOIN posts b ON a.code = b.code AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |jp AS (SELECT doc_i, doc_j FROM common
         |  JOIN sh si ON si.doc_id = doc_i JOIN sh sj ON sj.doc_id = doc_j
         |  WHERE common::DOUBLE / (si.sz + sj.sz - common) >= $JaccardThreshold),
         |mh AS (SELECT doc_id, i,
         |    min((c * (2*i + 1) + 104729 * i + 12345) % 2147483647) AS m
         |  FROM (SELECT doc_id, unnest(codes) AS c FROM sh),
         |       (SELECT unnest(range(0, $MinHashK)) AS i)
         |  GROUP BY 1, 2),
         |sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM mh GROUP BY 1),
         |bands AS (SELECT doc_id, band, s[2*band + 1] AS m1, s[2*band + 2] AS m2
         |  FROM sig, (SELECT unnest(range(0, $Bands)) AS band)),
         |lcand AS (SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.m1 = b.m1
         |    AND a.m2 = b.m2 AND a.doc_id < b.doc_id),
         |lp AS (SELECT doc_i, doc_j FROM lcand
         |  JOIN sh si ON si.doc_id = doc_i JOIN sh sj ON sj.doc_id = doc_j
         |  WHERE len(list_intersect(si.codes, sj.codes))::DOUBLE
         |    / (si.sz + sj.sz - len(list_intersect(si.codes, sj.codes))) >= $JaccardThreshold),
         |ex AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j
         |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |  WHERE a.sz > 0 AND b.sz > 0
         |    AND len(list_intersect(a.codes, b.codes))::DOUBLE
         |      / (a.sz + b.sz - len(list_intersect(a.codes, b.codes))) >= $JaccardThreshold),
         |nex AS (SELECT count(*)::BIGINT AS n_exact FROM ex),
         |legs AS (SELECT 'jaccard_capped' AS method, doc_i, doc_j FROM jp
         |  UNION ALL SELECT 'minhash_lsh', doc_i, doc_j FROM lp
         |  UNION ALL SELECT 'winnow_verified', doc_i, doc_j FROM wp),
         |hits AS (SELECT method, count(*)::BIGINT AS n_hits
         |  FROM legs JOIN ex USING (doc_i, doc_j) GROUP BY 1),
         |base AS (SELECT method, count(*)::BIGINT AS n_pairs FROM legs GROUP BY 1)
         |SELECT b.method, b.n_pairs,
         |  coalesce(h.n_hits, 0)::BIGINT AS n_hits, n_exact,
         |  (CASE WHEN n_exact > 0
         |        THEN coalesce(h.n_hits, 0) * 1000 // n_exact
         |        ELSE 0 END)::BIGINT AS recall_milli
         |FROM base b LEFT JOIN hits h ON b.method = h.method, nex
         |ORDER BY b.method""".stripMargin,
    // first-holder novelty: min doc_id per shingle code, share of a
    // doc's distinct shingles it holds first
    "text_ngram_novelty" ->
      s"""WITH $shingleCte,
         |posts AS (SELECT doc_id, unnest(codes) AS code FROM sh),
         |firsts AS (SELECT code, min(doc_id) AS first_doc
         |  FROM posts GROUP BY code)
         |SELECT p.doc_id, count(*)::BIGINT AS n_shingles,
         |  sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)::BIGINT
         |    AS n_novel,
         |  round(sum(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*), 6) AS novelty
         |FROM posts p JOIN firsts f USING (code)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // batch-vs-standing-corpus novelty: left join against the corpus's
    // distinct code index, batch = every IncrementalBatchMod-th doc
    "text_novelty_incremental" ->
      s"""WITH $shingleCte,
         |corpus AS (SELECT DISTINCT unnest(codes) AS code FROM sh
         |  WHERE doc_id % $IncrementalBatchMod <> 0),
         |posts AS (SELECT doc_id, unnest(codes) AS code FROM sh
         |  WHERE doc_id % $IncrementalBatchMod = 0)
         |SELECT p.doc_id, count(*)::BIGINT AS n_shingles,
         |  sum(CASE WHEN c.code IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_novel,
         |  round(sum(CASE WHEN c.code IS NULL THEN 1 ELSE 0 END)::DOUBLE
         |    / count(*), 6) AS novelty
         |FROM posts p LEFT JOIN corpus c USING (code)
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the jaccard pair SQL with the score carried, joined against the
    // SAME md5 split rule sample_splits replays (Curation.sqlU)
    "qa_split_leakage" ->
      s"""WITH $shingleCte,
         |$postsCte,
         |common AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
         |    count(*)::BIGINT AS common
         |  FROM posts a JOIN posts b ON a.code = b.code AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |pr AS (SELECT doc_i, doc_j,
         |    common::DOUBLE / (si.sz + sj.sz - common) AS jaccard
         |  FROM common
         |  JOIN sh si ON si.doc_id = doc_i JOIN sh sj ON sj.doc_id = doc_j
         |  WHERE common::DOUBLE / (si.sz + sj.sz - common) >= 0.5),
         |sp AS (SELECT doc_id,
         |    CASE WHEN ${Curation.sqlU} < 0.8 THEN 'train'
         |         WHEN ${Curation.sqlU} < 0.9 THEN 'val' ELSE 'test' END AS split
         |  FROM documents)
         |SELECT pr.doc_i, pr.doc_j, si.split AS split_i, sj.split AS split_j,
         |  pr.jaccard
         |FROM pr JOIN sp si ON si.doc_id = pr.doc_i
         |JOIN sp sj ON sj.doc_id = pr.doc_j
         |WHERE si.split <> sj.split
         |ORDER BY doc_i, doc_j""".stripMargin,
    // the recursive-CC cluster map, group ids, and the same md5 fold
    // split rule keyed on the group id
    "sample_splits_by_cluster" ->
      s"""WITH RECURSIVE $ccCte,
         |cl AS (SELECT src AS doc_id, min(dst) AS canonical_id
         |  FROM reach GROUP BY 1),
         |g AS (SELECT d.doc_id, coalesce(cl.canonical_id, d.doc_id) AS group_id
         |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id),
         |u AS (SELECT doc_id, group_id,
         |    list_reduce(list_transform(
         |      string_split(substr(md5(group_id::VARCHAR), 1, 4), ''),
         |      c -> strpos('0123456789abcdef', c) - 1),
         |      (a, b) -> a * 16 + b) / 65536.0 AS u
         |  FROM g)
         |SELECT doc_id, group_id,
         |  CASE WHEN u < 0.8 THEN 'train'
         |       WHEN u < 0.9 THEN 'val' ELSE 'test' END AS split
         |FROM u ORDER BY doc_id""".stripMargin,
    "dedup_clusters" -> clustersOracle,
    "dedup_clusters_star" -> clustersOracle,
    // same cluster map and keeper rule as dedup_keep_best, rolled up
    // to the per-source before/after report
    "dedup_savings" ->
      s"""WITH RECURSIVE $ccCte,
         |cl AS (SELECT src AS doc_id, min(dst) AS canonical_id
         |  FROM reach GROUP BY 1),
         |tq AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
         |q AS (SELECT doc_id, ${TextAnalysis.qualitySql} AS quality FROM tq),
         |j AS (SELECT cl.canonical_id, cl.doc_id, q.quality
         |  FROM cl JOIN q USING (doc_id)),
         |keep AS (SELECT doc_id FROM (SELECT doc_id,
         |    row_number() OVER (PARTITION BY canonical_id
         |      ORDER BY quality DESC, doc_id) AS rn FROM j) WHERE rn = 1),
         |dr AS (SELECT doc_id FROM cl
         |  WHERE doc_id NOT IN (SELECT doc_id FROM keep))
         |SELECT d.source, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN dr.doc_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_kept,
         |  sum(d.n_chars)::BIGINT AS chars_total,
         |  sum(CASE WHEN dr.doc_id IS NULL THEN d.n_chars ELSE 0 END)::BIGINT AS chars_kept,
         |  (((sum(d.n_chars)
         |     - sum(CASE WHEN dr.doc_id IS NULL THEN d.n_chars ELSE 0 END)) * 1000)
         |   // sum(d.n_chars))::BIGINT AS savings_milli
         |FROM documents d LEFT JOIN dr ON d.doc_id = dr.doc_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $ccCte,
         |cl AS (SELECT src AS doc_id, min(dst) AS canonical_id
         |  FROM reach GROUP BY 1),
         |tq AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
         |q AS (SELECT doc_id, ${TextAnalysis.qualitySql} AS quality FROM tq),
         |j AS (SELECT cl.canonical_id, cl.doc_id, q.quality
         |  FROM cl JOIN q USING (doc_id))
         |SELECT canonical_id, cluster_size, doc_id AS kept_doc_id,
         |  quality AS kept_quality
         |FROM (SELECT canonical_id, doc_id, quality,
         |    row_number() OVER (PARTITION BY canonical_id
         |      ORDER BY quality DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY canonical_id) AS cluster_size
         |  FROM j) WHERE rn = 1 ORDER BY canonical_id""".stripMargin,
    "decontam_overlap" ->
      s"""WITH $shingleCte,
         |evalcodes AS (SELECT DISTINCT unnest(codes) AS code FROM sh
         |  WHERE doc_id % $DecontamEvalMod = 0),
         |corpus AS (SELECT doc_id, unnest(codes) AS code FROM sh
         |  WHERE doc_id % $DecontamEvalMod <> 0)
         |SELECT c.doc_id, count(*)::BIGINT AS n_shared
         |FROM corpus c JOIN evalcodes e USING (code)
         |GROUP BY 1 HAVING count(*) >= $DecontamMinShared
         |ORDER BY 1""".stripMargin,
    "dedup_containment" ->
      s"""WITH $shingleCte,
         |$postsCte,
         |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*)::BIGINT AS common
         |  FROM posts a JOIN posts b ON a.code = b.code
         |    AND a.doc_id <> b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_a, doc_b, (common * 1000) // sa.sz AS containment_milli
         |FROM common JOIN sh sa ON sa.doc_id = doc_a
         |WHERE common * 1000 >= $ContainmentMilli * sa.sz
         |ORDER BY 1, 2""".stripMargin,
    "dedup_winnow_incremental" ->
      s"""WITH $shingleCte,
         |$winnowTailCte,
         |whs AS (SELECT DISTINCT doc_id, key // $WinnowPosEnc AS h FROM wsel),
         |corp AS (SELECT doc_id, h FROM whs
         |  WHERE doc_id % $IncrementalBatchMod <> 0),
         |wcap AS (SELECT h FROM corp GROUP BY h
         |  HAVING count(*) <= $DefaultMaxShingleDf),
         |cand AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
         |  FROM whs a
         |  JOIN (SELECT c.doc_id, c.h FROM corp c JOIN wcap USING (h)) b
         |    ON a.h = b.h
         |  WHERE a.doc_id % $IncrementalBatchMod = 0),
         |agg AS (SELECT batch_id, count(*)::BIGINT AS n_dups, max(jaccard) AS best_jaccard
         |  FROM (SELECT batch_id, corpus_id,
         |      len(list_intersect(si.codes, sj.codes))::DOUBLE
         |        / (si.sz + sj.sz - len(list_intersect(si.codes, sj.codes))) AS jaccard
         |    FROM cand JOIN sh si ON si.doc_id = batch_id JOIN sh sj ON sj.doc_id = corpus_id)
         |  WHERE jaccard >= $JaccardThreshold GROUP BY 1)
         |SELECT b.doc_id AS batch_id, coalesce(a.n_dups, 0)::BIGINT AS n_dups,
         |  a.best_jaccard, a.n_dups IS NULL AS keep
         |FROM (SELECT doc_id FROM sh WHERE sz > 0 AND doc_id % $IncrementalBatchMod = 0) b
         |LEFT JOIN agg a ON a.batch_id = b.doc_id
         |ORDER BY batch_id""".stripMargin,
    "dedup_winnow_fingerprints" ->
      s"""WITH $winnowCte,
         |ns AS (SELECT doc_id, count(*)::BIGINT AS n_spans FROM wsp GROUP BY 1)
         |SELECT ns.doc_id, ns.n_spans, count(*)::BIGINT AS n_fp,
         |  sum(key % 2147483647)::BIGINT AS fp_check,
         |  (count(*) * 1000) // ns.n_spans AS density_milli
         |FROM ns JOIN wsel USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "dedup_winnow_pairs" ->
      s"""WITH $winnowCte,
         |hs AS (SELECT DISTINCT doc_id, key // $WinnowPosEnc AS h FROM wsel),
         |sz AS (SELECT doc_id, count(*)::BIGINT AS nf FROM hs GROUP BY 1),
         |capped AS (SELECT h FROM hs GROUP BY h
         |  HAVING count(*) <= $DefaultMaxShingleDf),
         |posts AS (SELECT doc_id, h FROM hs JOIN capped USING (h)),
         |pr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    count(*)::BIGINT AS shared
         |  FROM posts a JOIN posts b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2 HAVING count(*) >= 2)
         |SELECT doc_a, doc_b, shared, sa.nf AS nf_a, sb.nf AS nf_b,
         |  (shared * 1000) // (sa.nf + sb.nf - shared) AS jaccard_milli
         |FROM pr JOIN sz sa ON sa.doc_id = pr.doc_a
         |  JOIN sz sb ON sb.doc_id = pr.doc_b
         |ORDER BY 1, 2""".stripMargin,
    // positional CdcK-gram hashes (the winnow idiom), mod-D cuts,
    // chunk rebuild by list slicing, cross-doc min<>max on the chunk md5
    "dedup_cdc_chunks" ->
      s"""WITH $cdcChunkCtes,
         |dup AS (SELECT chash FROM ch GROUP BY chash HAVING min(doc_id) <> max(doc_id)),
         |per AS (SELECT c.doc_id, c.n_tokens, count(*)::BIGINT AS n_chunks,
         |    sum(CASE WHEN d.chash IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
         |    sum(CASE WHEN d.chash IS NOT NULL THEN c.e - c.s ELSE 0 END)::BIGINT AS dup_tokens
         |  FROM ch c LEFT JOIN dup d ON d.chash = c.chash GROUP BY 1, 2)
         |SELECT doc_id, n_tokens, n_chunks, n_dup_chunks, dup_tokens,
         |  CASE WHEN n_tokens = 0 THEN 0 ELSE (dup_tokens * 1000) // n_tokens END AS dup_milli
         |FROM per ORDER BY doc_id""".stripMargin,
    // the chunk CTEs restricted to the drill split: corpus chashes
    // distinct, batch chunks scored against them only — the SAME sql
    // serves the recompute and persisted twins
    "dedup_cdc_incremental" -> cdcIncrementalSql,
    "dedup_cdc_incremental_persisted" -> cdcIncrementalSql,
    "dedup_span_frac" ->
      s"""WITH $shingleCte,
         |shz AS (SELECT doc_id, codes, sz FROM sh WHERE sz > 0),
         |posts AS (SELECT doc_id, unnest(codes) AS code FROM shz),
         |sharedc AS (SELECT code FROM posts GROUP BY code
         |  HAVING count(*) >= 2),
         |per AS (SELECT p.doc_id, count(*)::BIGINT AS n_shared
         |  FROM posts p JOIN sharedc USING (code) GROUP BY 1)
         |SELECT s.doc_id, s.sz AS n_shingles,
         |  coalesce(per.n_shared, 0)::BIGINT AS n_shared,
         |  (coalesce(per.n_shared, 0) * 1000) // s.sz AS shared_milli
         |FROM shz s LEFT JOIN per USING (doc_id)
         |ORDER BY 1""".stripMargin,
    "dedup_span_removal" ->
      s"""WITH $spanIvCte
         |SELECT doc_id, span_start, span_end,
         |  span_end - span_start AS span_tokens
         |FROM iv ORDER BY doc_id, span_start""".stripMargin,
    // rebuild every doc from its kept token positions (single-space
    // joined, exactly the engine's token-normalized rewrite); merged
    // intervals never overlap, so the LEFT JOIN matches ≤1 per token
    "dedup_span_scrub" ->
      s"""WITH $spanIvCte,
         |tok AS (SELECT doc_id, u.i::BIGINT - 1 AS pos, t[u.i::INT] AS tok
         |  FROM toks, UNNEST(range(1, len(t) + 1)) AS u(i)),
         |kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM tok tk
         |  LEFT JOIN iv ON iv.doc_id = tk.doc_id
         |    AND tk.pos >= iv.span_start AND tk.pos < iv.span_end
         |  WHERE iv.doc_id IS NULL),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS t2
         |  FROM kept GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(a.t2, '') AS text
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "dedup_span_savings" ->
      s"""WITH $spanIvCte,
         |perdoc AS (SELECT doc_id, sum(span_end - span_start)::BIGINT AS rt,
         |    count(*)::BIGINT AS ns
         |  FROM iv GROUP BY doc_id),
         |nt AS (SELECT doc_id,
         |    len(list_filter(string_split(text, ' '), x -> x <> ''))::BIGINT AS n_tokens
         |  FROM documents)
         |SELECT nt.doc_id, nt.n_tokens,
         |  coalesce(p.rt, 0)::BIGINT AS removed_tokens,
         |  coalesce(p.ns, 0)::BIGINT AS n_spans,
         |  (CASE WHEN nt.n_tokens > 0
         |        THEN coalesce(p.rt, 0) * 1000 // nt.n_tokens
         |        ELSE 0 END)::BIGINT AS removed_milli
         |FROM nt LEFT JOIN perdoc p USING (doc_id)
         |ORDER BY nt.doc_id""".stripMargin,
    // batch spans semi-joined against the standing corpus's distinct
    // codes; same islands merge, per-batch-doc accounting
    "dedup_span_incremental" ->
      s"""WITH $spanSpCte,
         |corp AS (SELECT DISTINCT code FROM sp
         |  WHERE doc_id % $IncrementalBatchMod <> 0),
         |rm AS (SELECT sp.doc_id, sp.pos FROM sp JOIN corp USING (code)
         |  WHERE sp.doc_id % $IncrementalBatchMod = 0),
         |$spanMergeCte,
         |per AS (SELECT doc_id, count(*)::BIGINT AS nd FROM rm GROUP BY 1),
         |rt AS (SELECT doc_id, sum(span_end - span_start)::BIGINT AS rt
         |  FROM iv GROUP BY 1),
         |base AS (SELECT doc_id, len(t)::BIGINT AS n_tokens FROM toks
         |  WHERE doc_id % $IncrementalBatchMod = 0)
         |SELECT b.doc_id AS batch_id, b.n_tokens,
         |  coalesce(per.nd, 0)::BIGINT AS n_dup_spans,
         |  coalesce(rt.rt, 0)::BIGINT AS removed_tokens,
         |  (CASE WHEN b.n_tokens > 0
         |        THEN coalesce(rt.rt, 0) * 1000 // b.n_tokens
         |        ELSE 0 END)::BIGINT AS removed_milli
         |FROM base b LEFT JOIN per USING (doc_id) LEFT JOIN rt USING (doc_id)
         |ORDER BY batch_id""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS digest, min(doc_id) AS canonical_id,
        |  count(*)::BIGINT AS n_copies
        |FROM documents GROUP BY 1 ORDER BY canonical_id""".stripMargin,
    "dedup_jaccard_pairs" ->
      s"""WITH $shingleCte,
         |$postsCte,
         |common AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
         |    count(*)::BIGINT AS common
         |  FROM posts a JOIN posts b ON a.code = b.code AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT doc_i, doc_j,
         |  common::DOUBLE / (si.sz + sj.sz - common) AS jaccard
         |FROM common
         |JOIN sh si ON si.doc_id = doc_i
         |JOIN sh sj ON sj.doc_id = doc_j
         |WHERE common::DOUBLE / (si.sz + sj.sz - common) >= 0.5
         |ORDER BY doc_i, doc_j""".stripMargin,
    // the jaccard-pair CTE rolled up to unordered source pairs; max
    // keeps the float summary order-independent
    "dedup_source_overlap" ->
      s"""WITH $shingleCte,
         |$postsCte,
         |common AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
         |    count(*)::BIGINT AS common
         |  FROM posts a JOIN posts b ON a.code = b.code AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |p AS (SELECT doc_i, doc_j,
         |    common::DOUBLE / (si.sz + sj.sz - common) AS jaccard
         |  FROM common
         |  JOIN sh si ON si.doc_id = doc_i
         |  JOIN sh sj ON sj.doc_id = doc_j
         |  WHERE common::DOUBLE / (si.sz + sj.sz - common) >= $JaccardThreshold),
         |s AS (SELECT least(di.source, dj.source) AS src_a,
         |    greatest(di.source, dj.source) AS src_b, p.jaccard
         |  FROM p JOIN documents di ON di.doc_id = p.doc_i
         |  JOIN documents dj ON dj.doc_id = p.doc_j)
         |SELECT src_a, src_b, count(*)::BIGINT AS n_pairs,
         |  max(jaccard) AS max_jaccard
         |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same distinct shingle-code sets (shared shingleCte), same
    // (df, code) rarity order, same integer prefix length and
    // 2·min ≥ max length filter, same exact intersection verify —
    // every comparison is BIGINT, so parity is unconditional
    "dedup_prefix_join" ->
      s"""WITH $shingleCte,
         |e AS (SELECT doc_id, unnest(codes) AS code FROM sh),
         |df AS (SELECT code, count(*)::BIGINT AS df FROM e GROUP BY 1),
         |arr AS (SELECT e.doc_id, list(e.code ORDER BY df.df, e.code) AS codes,
         |    count(*)::BIGINT AS m
         |  FROM e JOIN df USING (code) GROUP BY e.doc_id),
         |pre AS (SELECT doc_id, m,
         |    unnest(codes[1 : (m - ((m + 1) // 2) + 1)::INT]) AS code
         |  FROM arr),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
         |  FROM pre a JOIN pre b ON a.code = b.code AND a.doc_id < b.doc_id
         |  WHERE 2 * least(a.m, b.m) >= greatest(a.m, b.m)),
         |v AS (SELECT doc_i, doc_j,
         |    len(list_filter(x.codes, s -> list_contains(y.codes, s)))::BIGINT AS inter,
         |    x.m + y.m AS msum
         |  FROM cand JOIN arr x ON x.doc_id = doc_i JOIN arr y ON y.doc_id = doc_j)
         |SELECT doc_i, doc_j, inter, (msum - inter) AS un,
         |  inter * 1000000 // (msum - inter) AS jac_ppm
         |FROM v WHERE 2 * inter >= msum - inter""".stripMargin,
    "dedup_lsh_tuning" -> {
      def cfg(b: Int, r: Int): String =
        s"""bands$b AS (SELECT doc_id, band, s[band*$r + 1 : band*$r + $r] AS key
           |  FROM sig, (SELECT unnest(range(0, $b)) AS band)),
           |cand$b AS (SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
           |  FROM bands$b a JOIN bands$b b ON a.band = b.band AND a.key = b.key
           |    AND a.doc_id < b.doc_id),
           |ver$b AS (SELECT count(*)::BIGINT AS n_candidates,
           |    coalesce(sum(CASE WHEN len(list_intersect(si.codes, sj.codes))::DOUBLE
           |      / (si.sz + sj.sz - len(list_intersect(si.codes, sj.codes))) >= $JaccardThreshold
           |      THEN 1 ELSE 0 END), 0)::BIGINT AS n_found
           |  FROM cand$b
           |  JOIN sh si ON si.doc_id = doc_i JOIN sh sj ON sj.doc_id = doc_j)""".stripMargin
      def row(b: Int, r: Int): String =
        s"SELECT $b AS bands, $r AS rows_per_band, n_candidates, n_found, n_true, " +
          s"1000 * n_found // n_true AS recall_milli FROM ver$b, tru"
      s"""WITH $shingleCte,
         |$postsCte,
         |common AS (SELECT a.doc_id AS doc_i, b.doc_id AS doc_j,
         |    count(*)::BIGINT AS common
         |  FROM posts a JOIN posts b ON a.code = b.code AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |tru AS (SELECT count(*)::BIGINT AS n_true FROM common
         |  JOIN sh si ON si.doc_id = doc_i JOIN sh sj ON sj.doc_id = doc_j
         |  WHERE common::DOUBLE / (si.sz + sj.sz - common) >= $JaccardThreshold),
         |mh AS (SELECT doc_id, i,
         |    min((c * (2*i + 1) + 104729 * i + 12345) % 2147483647) AS m
         |  FROM (SELECT doc_id, unnest(codes) AS c FROM sh),
         |       (SELECT unnest(range(0, $MinHashK)) AS i)
         |  GROUP BY 1, 2),
         |sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM mh GROUP BY 1),
         |${TuningConfigs.map { case (b, r) => cfg(b, r) }.mkString(",\n")}
         |${TuningConfigs.map { case (b, r) => row(b, r) }.mkString("\nUNION ALL ")}
         |ORDER BY bands DESC""".stripMargin
    },
    // same signature/banding CTEs as dedup_minhash_lsh, asymmetric
    // candidate join, then the per-batch-doc verdict
    "dedup_incremental" ->
      s"""WITH $shingleCte,
         |mh AS (SELECT doc_id, i,
         |    min((c * (2*i + 1) + 104729 * i + 12345) % 2147483647) AS m
         |  FROM (SELECT doc_id, unnest(codes) AS c FROM sh),
         |       (SELECT unnest(range(0, $MinHashK)) AS i)
         |  GROUP BY 1, 2),
         |sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM mh GROUP BY 1),
         |bands AS (SELECT doc_id, band, s[2*band + 1] AS m1, s[2*band + 2] AS m2
         |  FROM sig, (SELECT unnest(range(0, $Bands)) AS band)),
         |cand AS (SELECT DISTINCT a.doc_id AS batch_id, b.doc_id AS corpus_id
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.m1 = b.m1 AND a.m2 = b.m2
         |  WHERE a.doc_id % $IncrementalBatchMod = 0 AND b.doc_id % $IncrementalBatchMod <> 0),
         |agg AS (SELECT batch_id, count(*)::BIGINT AS n_dups, max(jaccard) AS best_jaccard
         |  FROM (SELECT batch_id, corpus_id,
         |      len(list_intersect(si.codes, sj.codes))::DOUBLE
         |        / (si.sz + sj.sz - len(list_intersect(si.codes, sj.codes))) AS jaccard
         |    FROM cand JOIN sh si ON si.doc_id = batch_id JOIN sh sj ON sj.doc_id = corpus_id)
         |  WHERE jaccard >= $JaccardThreshold GROUP BY 1)
         |SELECT b.doc_id AS batch_id, coalesce(a.n_dups, 0)::BIGINT AS n_dups,
         |  a.best_jaccard, a.n_dups IS NULL AS keep
         |FROM (SELECT doc_id FROM sh WHERE sz > 0 AND doc_id % $IncrementalBatchMod = 0) b
         |LEFT JOIN agg a ON a.batch_id = b.doc_id
         |ORDER BY batch_id""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $shingleCte,
         |mh AS (SELECT doc_id, i,
         |    min((c * (2*i + 1) + 104729 * i + 12345) % 2147483647) AS m
         |  FROM (SELECT doc_id, unnest(codes) AS c FROM sh),
         |       (SELECT unnest(range(0, $MinHashK)) AS i)
         |  GROUP BY 1, 2),
         |sig AS (SELECT doc_id, list(m ORDER BY i) AS s FROM mh GROUP BY 1),
         |bands AS (SELECT doc_id, band, s[2*band + 1] AS m1, s[2*band + 2] AS m2
         |  FROM sig, (SELECT unnest(range(0, $Bands)) AS band)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.m1 = b.m1
         |    AND a.m2 = b.m2 AND a.doc_id < b.doc_id)
         |SELECT doc_i, doc_j,
         |  len(list_intersect(si.codes, sj.codes))::DOUBLE
         |    / (si.sz + sj.sz - len(list_intersect(si.codes, sj.codes))) AS jaccard
         |FROM cand JOIN sh si ON si.doc_id = doc_i JOIN sh sj ON sj.doc_id = doc_j
         |WHERE len(list_intersect(si.codes, sj.codes))::DOUBLE
         |    / (si.sz + sj.sz - len(list_intersect(si.codes, sj.codes))) >= 0.5
         |ORDER BY doc_i, doc_j""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $shingleCte,
         |sim AS (SELECT doc_id,
         |  sum(CASE WHEN list_reduce(list_prepend(0::BIGINT,
         |      list_transform(codes, x -> ((x >> b) & 1) * 2 - 1)), (a, v) -> a + v) > 0
         |    THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
         | FROM (SELECT * FROM sh WHERE sz > 0) sh,
         |      (SELECT unnest(range(0, $SimHashBits)) AS b) GROUP BY doc_id),
         |blocks AS (SELECT doc_id, simhash, k AS blk, (simhash >> (k*8)) & 255 AS bv
         |  FROM sim, (SELECT unnest(range(0, $SimHashBlocks)) AS k)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_i, b.doc_id AS doc_j,
         |    a.simhash AS sh_i, b.simhash AS sh_j
         |  FROM blocks a JOIN blocks b ON a.blk = b.blk AND a.bv = b.bv
         |    AND a.doc_id < b.doc_id)
         |SELECT doc_i, doc_j, bit_count(xor(sh_i, sh_j))::BIGINT AS hamming
         |FROM cand WHERE bit_count(xor(sh_i, sh_j)) <= $HammingMax
         |ORDER BY doc_i, doc_j""".stripMargin,
    "dedup_embedding" ->
      s"""WITH $embPairsCte
         |SELECT vec_i, vec_j, cosine FROM pairs WHERE cosine >= $CosineThreshold
         |ORDER BY vec_i, vec_j""".stripMargin,
    "dedup_embedding_clusters" ->
      s"""WITH RECURSIVE $embPairsCte,
         |cpairs AS (SELECT vec_i, vec_j FROM pairs WHERE cosine >= $CosineThreshold),
         |edges AS (SELECT vec_i, vec_j FROM cpairs
         |  UNION ALL SELECT vec_j, vec_i FROM cpairs),
         |reach(src, dst) AS (
         |  SELECT vec_i, vec_i FROM (SELECT DISTINCT vec_i FROM edges)
         |  UNION
         |  SELECT r.src, e.vec_j FROM reach r JOIN edges e ON r.dst = e.vec_i)
         |SELECT src AS vec_id, min(dst) AS canonical_id
         |FROM reach GROUP BY 1 ORDER BY 1""".stripMargin,
    // the embedding-cluster transitive closure composed with the same
    // quality window keep_best replays on the lexical clusters
    "dedup_embedding_keep_best" ->
      s"""WITH RECURSIVE $embPairsCte,
         |cpairs AS (SELECT vec_i, vec_j FROM pairs WHERE cosine >= $CosineThreshold),
         |edges AS (SELECT vec_i, vec_j FROM cpairs
         |  UNION ALL SELECT vec_j, vec_i FROM cpairs),
         |reach(src, dst) AS (
         |  SELECT vec_i, vec_i FROM (SELECT DISTINCT vec_i FROM edges)
         |  UNION
         |  SELECT r.src, e.vec_j FROM reach r JOIN edges e ON r.dst = e.vec_i),
         |cl AS (SELECT src AS doc_id, min(dst) AS canonical_id
         |  FROM reach GROUP BY 1),
         |tq AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks FROM documents),
         |q AS (SELECT doc_id, ${TextAnalysis.qualitySql} AS quality FROM tq),
         |j AS (SELECT cl.canonical_id, cl.doc_id, q.quality
         |  FROM cl JOIN q USING (doc_id))
         |SELECT canonical_id, cluster_size, doc_id AS kept_doc_id,
         |  quality AS kept_quality
         |FROM (SELECT canonical_id, doc_id, quality,
         |    row_number() OVER (PARTITION BY canonical_id
         |      ORDER BY quality DESC, doc_id) AS rn,
         |    count(*) OVER (PARTITION BY canonical_id) AS cluster_size
         |  FROM j) WHERE rn = 1 ORDER BY canonical_id""".stripMargin)

  /** Index-order dot-product fold between two list columns — the exact
    * arithmetic of the native CosineSimilarity numerator. */
  private[graft] def dotSql(a: String, b: String): String =
    s"""list_reduce(list_prepend(0.0::DOUBLE,
       |      list_transform(range(1, len($a) + 1),
       |        k -> $a[k]::DOUBLE * $b[k]::DOUBLE)), (x, v) -> x + v)""".stripMargin

  /** Cosine between two list columns, folded in index order (float
    * bits identical to the engine's fused-loop expression). */
  private[graft] def cosineSql(a: String, b: String): String =
    s"""${dotSql(a, b)}
       |    / (sqrt(${dotSql(a, a)})
       |     * sqrt(${dotSql(b, b)}))""".stripMargin

  /** Sign-LSH bucket assignment CTE (nz → planes → bucketed) — shared
    * by the near-dup oracles and the kNN-join oracle
    * (operators/Similarity). */
  private[graft] lazy val embBucketCte: String =
    s"""nz AS (SELECT vec_id, embedding FROM embeddings
       |  WHERE ${dotSql("embedding", "embedding")} > 0),
       |planes AS (SELECT vec_id AS plane_id, embedding AS plane
       |  FROM nz WHERE vec_id < $HyperplaneBits),
       |bucketed AS (SELECT e.vec_id, e.embedding,
       |    sum(CASE WHEN ${dotSql("e.embedding", "p.plane")} >= 0
       |      THEN (1::BIGINT << p.plane_id) ELSE 0 END)::BIGINT AS bucket
       |  FROM nz e, planes p GROUP BY 1, 2)""".stripMargin

  /** Sign-LSH bucket + bucket-local cosine pairs CTE (unfiltered) —
    * shared by the near-dup oracle and its cluster composition. */
  private lazy val embPairsCte: String =
    s"""$embBucketCte,
       |pairs AS (SELECT a.vec_id AS vec_i, b.vec_id AS vec_j,
       |    ${cosineSql("a.embedding", "b.embedding")}
       |    AS cosine
       |  FROM bucketed a JOIN bucketed b
       |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)""".stripMargin
}
