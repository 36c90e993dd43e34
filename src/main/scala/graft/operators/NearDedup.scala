package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expressions.MinHash
import graft.functions.TextFunctions

/** Near-duplicate detection for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard. All stages are declarative DataFrame plans:
  *
  *  - a minhash signature is one compiled kernel call per row over the
  *    shingle array (Kernels.minhashSig, one narrow map, no UDFs);
  *  - a simhash is one compiled kernel call per row over the text's
  *    tokens (Kernels.simhash64), on the same md5 basis;
  *  - candidate generation is `explode(bands) -> groupBy(band, bk) ->
  *    pairs from each bucket's sorted id list` ([[bucketPairs]]), the
  *    standard LSH shape: the shuffle is on (band-index, band-hash) or
  *    (chunk-index, chunk-value), whose cardinality scales with document
  *    count, never with the quadratic pair space;
  *  - minhash candidate pairs are generated and deduplicated on (id_a,
  *    id_b) ONLY — the shingle arrays are re-joined AFTER the pair-dedup,
  *    so they never ride through the candidate shuffle; a simhash pair
  *    carries its two 8-byte signatures instead of rejoining them;
  *  - degenerate LSH buckets (e.g. all-empty/boilerplate docs hashing to one
  *    band value) are capped: any bucket larger than `maxBucketSize` is
  *    dropped before the in-bucket pair search, bounding the worst case at
  *    O(buckets * cap²) instead of O(n²). Dropped-bucket volume matters at
  *    100 TB, so it is surfaced via an `observe` metric and a WARN log.
  *  - exact Jaccard / Hamming verification runs only on candidate pairs.
  *
  * At 100 TB this is the only viable shape: brute-force pairwise similarity
  * is O(n²) and impossible; LSH banding keeps every shuffle linear in input.
  */
object NearDedup {

  /** Default cap on LSH bucket size before the in-bucket pair search —
    * shared by the window-count caps ([[windowCapped]]) AND the DuckDB
    * oracle CTEs (SparkEntry interpolates this constant into the keptbk
    * and simhash keep SQL), so the two sides cannot drift. It also bounds
    * the id list [[bucketPairs]] collects per bucket.
    *
    * CONTRACT: buckets over the cap are dropped WHOLE — their members are
    * never compared, so a corpus dominated by >cap near-identical docs is
    * NOT deduped by these operators (CurationSpec pins that 40 clones
    * under a cap of 10 yield zero pairs). Run exact/byte-identical dedup
    * (`dedup` / [[exactDedup]]) upstream so that by the time LSH
    * runs, a hot bucket represents pathological boilerplate to quarantine
    * behind the observed dropped-rows metric, not real duplicate mass.
    */
  val DefaultMaxBucketSize: Int = 10000

  /** Observed-metric names must be unique per plan (CheckAnalysis rejects
    * duplicate CollectMetrics names), so each candidate stage gets a suffix.
    */
  private val dropSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** The whole-bucket cap of the LSH bucket searches: rows of every
    * `keys` bucket holding more than `maxBucketSize` rows are dropped, by
    * a count-over-`keys` window filter, before anything is collected or
    * joined. The window's `keys` exchange is the one the bucket search
    * above it needs anyway ([[bucketPairs]]' aggregate, or a
    * `keys`-equi-join), so the bucket relation under it runs once; an
    * aggregate + broadcast anti-join would plan a second branch of it.
    * The trade: a hot bucket's rows buffer in one window task,
    * spill-bounded and linear. The DuckDB oracles replay the rule as
    * `count(*) OVER (PARTITION BY keys) <= cap`.
    *
    * Returns the kept rows, without the count, carrying the always-on
    * dropped-volume observe (`lsh_dropped_buckets_*`, readable from a
    * QueryExecutionListener after the action, no extra pass): every row
    * of a hot bucket adds 1 to `dropped_rows` and 1/n to
    * `dropped_buckets`, rounded.
    */
  private[graft] def windowCapped(buckets: DataFrame, keys: Seq[String],
                                  maxBucketSize: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    val hot = col("__n") > maxBucketSize
    buckets.withColumn("__n", count(lit(1)).over(w))
      .observe(s"lsh_dropped_buckets_${dropSeq.incrementAndGet()}",
        round(sum(when(hot, lit(1.0) / col("__n")).otherwise(lit(0.0))))
          .cast(LongType).as("dropped_buckets"),
        sum(when(hot, lit(1L)).otherwise(lit(0L))).as("dropped_rows"))
      .filter(!hot).drop("__n")
  }

  /** Deduplicated (id_a, id_b) pairs, id_a < id_b, of the `id`s sharing
    * a `keys` bucket of `kept` ([[windowCapped]]'s output) — what a
    * `keys` self-join of `kept` yields, read once. Each bucket's ids are
    * collected into one sorted list (at most the cap's number of ids;
    * the aggregate reuses the window's `keys` partitioning, so no new
    * exchange), and each id pairs with the ids after it. The self-join
    * it replaced ran the window and its sort once per join side
    * (exchange reuse sits below the window) and broadcast one side.
    * `sort_array` is compiled; `array_sort` would run an interpreted
    * lambda. A repeated id in a bucket pairs with nothing new, and null
    * ids are never collected. PRECONDITION: no key is null (a self-join
    * would never match a null key, while a group collects it): the
    * minhash and sign-LSH keys are non-nullable, and [[hammingPairs64]]
    * chunks no null signature.
    */
  private[graft] def bucketPairs(kept: DataFrame, keys: Seq[String]): DataFrame =
    kept.groupBy(keys.map(col): _*).agg(sort_array(collect_list(col("id"))).as("ids"))
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "id_a")))
      .select(col("id_a"), explode(slice(col("ids"), col("i") + 2, size(col("ids")))).as("id_b"))
      .filter(col("id_a") < col("id_b")).distinct()

  /** MinHash-LSH near-dup pairs over (idCol, textCol): (id_a, id_b,
    * jaccard) for candidate pairs whose exact shingle Jaccard reaches
    * `threshold`, id_a < id_b, deduped across bands, jaccard rounded to 4
    * places. `id` must be unique (see [[minhashBands]]).
    *
    * Every hash is engine-portable, so an external SQL engine replays the
    * WHOLE pipeline bit for bit (SparkEntry.minhashCtes): shingles
    * hash through the first 60 bits of md5, permutations come from
    * [[graft.expressions.MinHash.perms]] (seed [[graft.expressions.MinHash.Seed]]),
    * the signature is one compiled kernel call per row
    * (Kernels.minhashSig) and each band key is md5 of the comma-joined
    * signature slice.
    *
    * Degenerate band buckets (a boilerplate corpus collapsing thousands of
    * docs onto one (band, bk) value) are dropped WHOLE when larger than
    * `maxBucketSize`, before any pair is made — the same deterministic
    * whole-bucket rule as [[hammingPairs64]], so the oracle SQL
    * replays it exactly; a bucket of n identical docs would otherwise cost
    * n²/2 candidate rows. The cap is [[windowCapped]] over (band, bk) (the
    * anti-join cap it replaced ran the signature kernel a second time),
    * and the candidates come from [[bucketPairs]]: one signature pass,
    * one window, one read of the capped relation.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, numPerms: Int = 32,
                   bands: Int = 8, threshold: Double = 0.7,
                   maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val sh = shingleSets(df, idCol, textCol, shingleSize)
    val cand0 = bucketPairs(windowCapped(minhashBands(sh, numPerms, bands, MinHash.Seed),
      Seq("band", "bk"), maxBucketSize), Seq("band", "bk"))
    // Observed attribution for the verify stage (at sf10 the exact verify
    // over candidates is the dominant term): how many candidate pairs
    // entered the verify. OPT-IN ([[graft.operators.Tuning.observeMetrics]],
    // Probe sets it): a CollectMetrics node here is a pushdown barrier, and
    // callers that filter the pair output selectively (the q61-class recall
    // gates) rely on that filter reaching the pair generation.
    val cand = if (graft.operators.Tuning.observeMetrics)
      cand0.observe(s"minhash_verify_${dropSeq.incrementAndGet()}",
        count(lit(1)).as("candidate_pairs"))
    else cand0
    val shA = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
    val shB = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
    // value parity with the oracle's list_intersect/list_union replay
    // (identical int division)
    verified(cand.join(shA, Seq("id_a")).join(shB, Seq("id_b")),
      col("sh_a"), col("sh_b"), threshold)
  }

  /** (id_a, id_b, jaccard) rows of `pairs` whose shingle-set Jaccard
    * reaches `threshold`, rounded to 4 places — the minhash verify, a
    * compiled one-pass set Jaccard (Kernels.jaccardSim). The score is
    * computed ONCE per pair: as a projected column
    * the optimizer inlines it into the threshold filter and pushes that into
    * the rejoin as a join condition, so the kernel ran for every candidate
    * there and again for every survivor in the output projection. A one-element
    * explode yields it as a generated attribute, which no rule inlines,
    * and a non-attribute generator input infers no filter either. Filters
    * on the ids alone (q61's recall gate) still push below it.
    */
  private def verified(pairs: DataFrame, shA: Column, shB: Column,
                       threshold: Double): DataFrame =
    pairs.select(col("id_a"), col("id_b"),
        explode(array(graft.expressions.GraftFunctions.jaccardSim(shA, shB))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))

  /** Keep one representative per near-dup cluster: drop any doc that is the
    * larger id of a qualifying pair (greedy min-id survivor — the standard
    * cheap approximation of connected components; exact CC is an iterative
    * join loop, overkill for dedup).
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, numPerms: Int = 32,
                   bands: Int = 8, threshold: Double = 0.7): DataFrame = {
    val losers = minhashPairs(df, idCol, textCol, shingleSize, numPerms, bands, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** (id, sh) shingle sets — the verify-stage relation of the minhash
    * pipelines.
    */
  private def shingleSets(df: DataFrame, idCol: String, textCol: String,
                               shingleSize: Int): DataFrame =
    // Spread a single-split scan before the shingle kernel: the signature
    // kernel evaluates downstream of this projection, and a one-row-group
    // input otherwise serializes all of it on one core (Tuning.spread is a
    // no-op on an already-parallel scan).
    Tuning.spread(df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"),
        graft.expressions.GraftFunctions.shingles(col("__t"), shingleSize).as("sh"))

  /** (id, band, bk) banded minhash keys on the md5 basis — the
    * candidate-stage relation. Together with [[shingleSets]] this IS
    * the persistable near-dup index of a corpus release: store both per
    * release and incremental batches join against them without rescanning
    * prior text.
    *
    * One narrow map per row, no shuffle: the signature kernel
    * (Kernels.minhashSig) computes the signature, the band key is md5 of
    * the comma-joined signature slice, and the bands explode into rows. A
    * null or empty shingle array yields no rows.
    *
    * PRECONDITION: `id` is unique in `sh`. Each row gets its own
    * signature; rows sharing an id are not merged into one shingle set.
    */
  private[graft] def minhashBands(sh: DataFrame, numPerms: Int, bands: Int,
                                   seed: Long): DataFrame = {
    require(numPerms % bands == 0, "numPerms must divide into bands")
    val rowsPerBand = numPerms / bands
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",",
          (0 until rowsPerBand).map(r => col("sig")(b * rowsPerBand + r)): _*)).as("bk"))
    }
    // The empty check rides the explode (explode(null) emits nothing): a
    // Filter on `sh` would be pushed below the shingle projection and
    // shingle every row twice.
    sh.select(col("id"), col("sh"), graft.expressions.GraftFunctions.minhashSignature(
        col("sh"), numPerms, seed).as("sig"))
      .select(col("id"),
        explode(when(size(col("sh")) > 0, array(bandStructs: _*))).as("q"))
      .select(col("id"), col("q.band").as("band"), col("q.bk").as("bk"))
  }

  /** Transitive near-dup dedup: minhash-LSH pairs fed through connected
    * components, keeping the min-id representative of each CLUSTER (the
    * greedy pairwise rule above is not transitive — a chain a–b, b–c with
    * no a–c pair keeps both a and c). Costs the CC label loop on top of
    * pair generation; the edge relation is id-only and tiny relative to
    * the corpus.
    */
  def minhashDedupCC(df: DataFrame, idCol: String, textCol: String,
                     shingleSize: Int = 3, numPerms: Int = 32,
                     bands: Int = 8, threshold: Double = 0.7): DataFrame =
    Clustering.dedupByComponents(df, idCol,
      minhashPairs(df, idCol, textCol, shingleSize, numPerms, bands, threshold))

  /** 60-bit SimHash on the md5 basis of [[minhashPairs]]: bit j of the
    * result is 1 when more of the text's tokens have bit j of their
    * md5-prefix hash set than clear; bits 60-63 are 0 (bit 63 would
    * collide with two's-complement sign handling across engines). Tokens
    * are Spark's `split(trim(text), "\\s+")`. One compiled kernel call
    * per row (graft.expressions.Kernels.simhash64), replayed bit for bit
    * by the DuckDB oracle's split + md5 vote.
    */
  def simhash64(textCol: Column): Column =
    graft.expressions.GraftFunctions.simhash64(textCol)

  /** Hamming distance between two simhashes (bit_count of xor). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs (id_a, id_b, hamming), id_a < id_b: the
    * [[simhash64]] of each non-null text through [[hammingPairs64]]'s
    * 4×16-bit chunk buckets (any pair within Hamming distance 3 shares at
    * least one exact chunk — the Charikar/Manku trick). Rows with a null
    * text appear in no pair.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3,
                   maxBucketSize: Int = DefaultMaxBucketSize): DataFrame =
    // Spread a single-split scan before the kernel (a no-op on an
    // already-parallel scan), as shingleSets does.
    hammingPairs64(
      Tuning.spread(df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
        .select(col("id"), simhash64(col("__t")).as("sig")),
      maxHamming, maxBucketSize)

  /** Hamming-ball pairs (id_a, id_b, hamming), id_a < id_b, over ANY
    * 64-bit signature relation (`id`, `sig`): the chunk trick generalized
    * — the signature splits into `maxHamming + 1` (min 2, max 16) bit
    * ranges, so by pigeonhole any pair within the distance budget agrees
    * EXACTLY on at least one chunk. With the default maxHamming = 3 this
    * is the 4×16-bit quarter scheme of Charikar/Manku SimHash dedup;
    * image dHash callers pass a wider budget and get more, narrower
    * chunks. Shuffle key cardinality stays linear in ids (chunks × n rows).
    *
    * The chunk rows carry `struct(id, sig)` as the id of the LSH pair
    * search: oversized degenerate buckets (e.g. the all-flat hash-0 image
    * class) are dropped whole by [[windowCapped]] over (qi, qv), observed
    * as `lsh_dropped_buckets_*`, and [[bucketPairs]] pairs each kept
    * bucket's rows, so each pair holds both signatures and no signature is
    * rejoined. The Hamming filter is on the pair's grouping columns, so
    * the optimizer runs it below the pair dedup: only pairs within the
    * budget are shuffled. A null `sig` appears in no pair, and a repeated
    * id never pairs with itself.
    */
  def hammingPairs64(signatures: DataFrame, maxHamming: Int = 3,
                     maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      s"hammingPairs64 supports maxHamming in [0, 15] (chunks cap at 16), got $maxHamming")
    val chunks = math.max(maxHamming + 1, 2)
    val bounds = (0 to chunks).map(i => i * 64 / chunks)
    // The null check rides the explode (explode(null) emits nothing), so
    // bucketPairs never sees a null key; a Filter on `sig` would be pushed
    // below an upstream kernel's projection and run the kernel twice.
    val chunked = signatures.select(struct(col("id"), col("sig")).as("id"),
        explode(when(col("sig").isNotNull, array(Seq.tabulate(chunks) { q =>
          val width = bounds(q + 1) - bounds(q)
          val mask = if (width >= 64) -1L else (1L << width) - 1
          struct(lit(q).as("qi"), shiftright(col("sig"), bounds(q)).bitwiseAND(mask).as("qv"))
        }: _*))).as("q"))
      .select(col("id"), col("q.qi").as("qi"), col("q.qv").as("qv"))
    val hamming = hammingDistance(col("id_a.sig"), col("id_b.sig"))
    bucketPairs(windowCapped(chunked, Seq("qi", "qv"), maxBucketSize), Seq("qi", "qv"))
      .filter(col("id_a.id") < col("id_b.id") && hamming <= maxHamming)
      .select(col("id_a.id").as("id_a"), col("id_b.id").as("id_b"), hamming.as("hamming"))
  }

  /** Exact word-n-gram Jaccard pairs — the exact-verification baseline for
    * the LSH paths. NOT a cartesian product: shingles are exploded and
    * pairs meet on a shingle-valued join key, so every shuffle is linear in
    * total shingle volume and only pairs that actually share a shingle are
    * ever materialized. Since shingle sets are distinct (Kernels.shingles emits
    * a set), `count(*)` per (id_a, id_b) IS |A∩B| exactly, and
    * |A∪B| = |A|+|B|-|A∩B|. Pairs with zero shared shingles have
    * jaccard = 0 and can never pass a positive threshold, so requiring
    * `threshold > 0` keeps the result identical to all-pairs.
    * The worst case is a shingle shared by k docs contributing k²/2 pair
    * rows (the classic hot-token blowup) — two defenses: the size-ratio
    * prune (jaccard <= min/max of the set sizes) cuts non-qualifying pairs
    * before the aggregate, and shingles whose document frequency exceeds
    * `maxDf` (boilerplate present in "every" document — the degenerate
    * quadratic key) are pruned BEFORE the self-join by a count-only
    * aggregate + broadcast anti-join, the same guard family as
    * [[editDistancePairs]]' block cap and Retrieval's posting cap. Under the cap, set
    * sizes are recomputed over the SURVIVING shingles, so the reported
    * jaccard is EXACT on the boilerplate-free shingle universe — dropped
    * shingles contribute to neither intersection nor union (an earlier
    * formulation kept full-universe sizes, which silently deflated the
    * score of any pair whose overlap was partly boilerplate). The cap
    * never invents a pair; it misses exactly the pairs whose similarity on
    * the non-boilerplate universe is below threshold. Dropped volume is
    * observable (`jaccard_dropped_shingles_*`). maxDf <= 0 disables the
    * cap for bit-exact classic-jaccard audit runs; at 100 TB the LSH paths
    * are the route and this remains the audit baseline.
    */
  /** (id, shingle, per-doc set size) postings with the hot-shingle df cap
    * applied — the shared front end of the exact pairwise ops. Shingle
    * sets are distinct per doc (Kernels.shingles emits a set), so a plain
    * count per shingle IS its document frequency — no count_distinct
    * shuffle needed. Set sizes are recomputed over the pruned universe so
    * intersections and sizes count the same shingle population; dropped
    * volume is surfaced via `observe`.
    */
  private def shingleTokens(df: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int, maxDf: Int): DataFrame = {
    // Spread before the shingle kernel — same single-split rationale as
    // shingleSets; the df-cap/anti-join branches all re-execute this
    // front end, so each re-execution is parallel too.
    val sh = Tuning.spread(
        df.select(col(idCol).as("id"), col(textCol).as("__t")), col("id"))
      .select(col("id"),
        graft.expressions.GraftFunctions.shingles(col("__t"), shingleSize).as("sh"))
      .withColumn("n", size(col("sh")))
    // The generator input is not a bare attribute, so Spark infers no
    // `size(sh) > 0 AND isnotnull(sh)` filter from it: that filter is pushed
    // below the shingle projection and shingles every row twice more
    // (explode of a null or empty array emits nothing either way).
    val allTok = sh.select(col("id"), col("n"),
      explode(when(col("n") > 0, col("sh"))).as("s"))
    if (maxDf <= 0) allTok else {
      val dfCounts = allTok.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .observe(s"jaccard_dropped_shingles_${dropSeq.incrementAndGet()}",
          sum(when(col("df") > maxDf, lit(1L)).otherwise(lit(0L))).as("dropped_shingles"),
          sum(when(col("df") > maxDf, col("df")).otherwise(lit(0L))).as("dropped_occurrences"))
      val hot = dfCounts.filter(col("df") > maxDf).select(col("s"))
      val kept = allTok.join(broadcast(hot), Seq("s"), "left_anti")
      val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("nk"))
      kept.drop("n").join(sizes, Seq("id")).withColumnRenamed("nk", "n")
    }
  }

  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleSize: Int = 3, threshold: Double = 0.5,
                        maxDf: Int = 1000): DataFrame = {
    require(threshold > 0.0,
      "ngramJaccardPairs requires threshold > 0 (zero-overlap pairs are never produced)")
    val tok = shingleTokens(df, idCol, textCol, shingleSize, maxDf)
    val a = tok.select(col("s"), col("id").as("id_a"), col("n").as("n_a"))
    val b = tok.select(col("s"), col("id").as("id_b"), col("n").as("n_b"))
    a.join(b, Seq("s")).filter(col("id_a") < col("id_b"))
      .filter(least(col("n_a"), col("n_b")).cast(DoubleType) >=
        lit(threshold) * greatest(col("n_a"), col("n_b")))
      .groupBy("id_a", "id_b", "n_a", "n_b").agg(count(lit(1)).as("i"))
      .withColumn("jaccard",
        col("i").cast(DoubleType) / (col("n_a") + col("n_b") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Directional n-gram CONTAINMENT pairs: |A∩B| / |A| ≥ threshold means
    * document A's shingle set is (nearly) a subset of B's — the asymmetric
    * near-dup signal Jaccard misses (a quote, a mirrored excerpt, or a
    * page embedded in a larger one scores high containment but low
    * Jaccard when sizes differ). Output rows are (contained_id,
    * container_id, containment), both directions considered.
    *
    * Same scale shape as [[ngramJaccardPairs]] (shared inverted-shingle
    * front end, hot-shingle df cap, no cartesian); the size prefilter is
    * the containment bound i ≤ n_b: a pair can only pass when
    * n_b ≥ threshold · n_a, pruning big-into-small candidates before the
    * aggregation.
    */
  def ngramContainmentPairs(df: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int = 3, threshold: Double = 0.8,
                            maxDf: Int = 1000): DataFrame = {
    require(threshold > 0.0,
      "ngramContainmentPairs requires threshold > 0 (zero-overlap pairs are never produced)")
    val tok = shingleTokens(df, idCol, textCol, shingleSize, maxDf)
    val a = tok.select(col("s"), col("id").as("contained_id"), col("n").as("n_a"))
    val b = tok.select(col("s"), col("id").as("container_id"), col("n").as("n_b"))
    a.join(b, Seq("s")).filter(col("contained_id") =!= col("container_id"))
      .filter(col("n_b").cast(DoubleType) >= lit(threshold) * col("n_a"))
      .groupBy("contained_id", "container_id", "n_a").agg(count(lit(1)).as("i"))
      .withColumn("containment", col("i").cast(DoubleType) / col("n_a"))
      .filter(col("containment") >= threshold)
      .select(col("contained_id"), col("container_id"),
        round(col("containment"), 4).as("containment"))
  }

  // -----------------------------------------------------------------------
  // Winnowing — Schleimer, Wilkerson & Aiken, "Winnowing: Local Algorithms
  // for Document Fingerprinting" (SIGMOD 2003), the MOSS algorithm. A
  // LOCAL fingerprinting scheme: from the rolling hashes of all character
  // k-grams, every window of w consecutive hashes contributes its minimum
  // (rightmost on ties — "robust winnowing"), which GUARANTEES any shared
  // substring of length ≥ k + w − 1 yields at least one shared fingerprint.
  // MinHash/SimHash give whole-document similarity with probabilistic
  // recall; winnowing gives deterministic substring-level recall at ~2/(w+1)
  // sampling density — the right tool for quote/plagiarism-style overlap.
  // -----------------------------------------------------------------------

  /** Fingerprint-position bound for the (hash, position) packing below:
    * positions must stay under 2^31 (≈2.1 G chars per document). */
  private val WinnowPosCap: Long = 1L << 31

  /** Selected winnowing fingerprints per document: (id, pos, fp) where
    * `pos` is the 0-based character-gram position and `fp` the 32-bit gram
    * hash (MOSS uses 32-bit hashes; collisions only merge fingerprints).
    * Text is canonicalized MOSS-style first (lowercase, ALL whitespace
    * removed) so formatting never moves a fingerprint. Documents shorter
    * than k + w − 1 canonical chars have no full window and emit nothing.
    *
    * The per-window argmin is ONE bigint `min` over a sliding row frame:
    * each gram packs to `h·2^31 + (2^31−1−pos)` (≤ 2^63−1, no overflow),
    * so the frame minimum IS the (h asc, pos desc) lexicographic choice —
    * rightmost minimal hash, the robust-winnowing rule — and the same
    * packing replays bit-exactly in any ANSI engine. Scale shape: one
    * narrow gram explode (rows ∝ corpus chars), one window partitioned by
    * doc ordered by pos, then distinct — no join, no quadratic stage.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 16, w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowFingerprints needs k >= 1, w >= 1 (got k=$k, w=$w)")
    // Gram count is a pure function of canonical length — computed BEFORE
    // the explode, so no per-doc count window runs after it.
    // Repartition by id BEFORE the gram explode: the exchange moves docs
    // (narrow rows), not the ~chars× bigger gram relation, it spreads the
    // explode+hash work even when the source is a single file, and it
    // pre-satisfies the selection window's hash-partition requirement so
    // the exploded grams never shuffle. Explicit partition count pins the
    // layout against AQE coalescing the small doc shuffle back to one task.
    val canon = df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol),
        lower(regexp_replace(coalesce(col(textCol), lit("")), "\\s+", "")).as("__c"))
      .filter(length(col("__c")) >= k + w - 1)
      .withColumn("__ng", (length(col("__c")) - (k - 1)).cast(LongType))
    val grams = canon.select(col(idCol), col("__ng"), expr(
        s"explode(transform(sequence(1, length(__c) - ${k - 1}), " +
          s"i -> struct(CAST(i - 1 AS BIGINT) AS pos, substring(__c, i, $k) AS g)))").as("p"))
      .select(col(idCol), col("__ng"), col("p.pos").as("pos"), col("p.g").as("g"))
    val coded = grams
      .withColumn("__code",
        pmod(Sampling.portableHash60(col("g")), lit(1L << 32)) * lit(WinnowPosCap) +
          (lit(WinnowPosCap - 1) - col("pos")))
    val wSel = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos")).rowsBetween(0, w - 1)
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("pos"))
    // Adjacent windows re-select the same (hash, pos) pair, and a pair that
    // leaves the frame can never re-enter — so consecutive-dedup (lag on
    // the SAME sort, no extra exchange) is exact and replaces a distinct
    // shuffle over the fingerprint set.
    coded
      .withColumn("__m", min(col("__code")).over(wSel))
      .filter(col("pos") <= col("__ng") - w) // only full w-gram windows select
      .withColumn("__prev", lag(col("__m"), 1).over(wOrd))
      .filter(col("__prev").isNull || col("__m") =!= col("__prev"))
      .select(col(idCol),
        (lit(WinnowPosCap - 1) - pmod(col("__m"), lit(WinnowPosCap))).as("pos"),
        expr(s"__m DIV $WinnowPosCap").as("fp"))
  }

  /** Candidate near-dup pairs by shared winnowing fingerprints: (id_a,
    * id_b, shared) for every pair sharing ≥ `minShared` distinct
    * fingerprint hashes. The guarantee direction: two documents sharing a
    * verbatim canonical substring of length ≥ k + w − 1 ALWAYS share a
    * fingerprint, so `minShared = 1` has no false negatives at that match
    * length (modulo 32-bit hash collisions, which only ADD candidates).
    *
    * Scale shape: the inverted-fingerprint self-join of
    * [[ngramJaccardPairs]] — postings are (fp, id) only, hot fingerprints
    * (boilerplate shared by > maxDf docs) are df-capped with the dropped
    * volume observable, and the pair space is bounded by Σ df² over kept
    * fingerprints, never n².
    */
  /** Distinct (idCol, fp) winnow postings through the compiled deque
    * kernel: [[winnowFpSets]] is spec-pinned bit-identical to
    * `winnowFingerprints(...).select(id, fp).distinct()` grouped per doc,
    * and its per-doc arrays are already distinct — exploding them yields
    * the postings relation with NO distinct exchange and no per-document
    * sort windows (the SQL formulation paid both, plus a Catalyst md5 per
    * gram; [[winnowFingerprints]] stays the (id, pos, fp) surface for
    * position-carrying consumers like q175).
    */
  private def winnowFpPostings(df: DataFrame, idCol: String, textCol: String,
                               k: Int, w: Int): DataFrame =
    winnowFpSets(df, idCol, textCol, k, w)
      .select(col(idCol), explode(col("fps")).as("fp"))

  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 16, w: Int = 8, minShared: Int = 2,
                  maxDf: Int = 1000): DataFrame = {
    require(minShared >= 1, s"winnowPairs needs minShared >= 1, got $minShared")
    // The fingerprint lineage feeds THREE consumers: the df/hot branch and
    // both sides of the self-join. Postings are 16 bytes/row, cheap to
    // materialize once and probe as blocks, so one
    // EAGER localCheckpoint here replaces three kernel recomputations;
    // storage is ContextCleaner-reclaimed. Before this, the operator's
    // wall time was bimodal under scheduler variance (the three lineages
    // race for the same cores: 1.9 s vs 5.4 s fresh-JVM isolated at sf0.1).
    val fps = winnowFpPostings(df, idCol, textCol, k, w)
      .select(col(idCol).as("id"), col("fp")).localCheckpoint()
    val kept = if (maxDf <= 0) fps else {
      val hot = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .observe(s"winnow_dropped_fps_${dropSeq.incrementAndGet()}",
          sum(when(col("df") > maxDf, lit(1L)).otherwise(lit(0L))).as("dropped_fps"))
        .filter(col("df") > maxDf).select(col("fp"))
      fps.join(broadcast(hot), Seq("fp"), "left_anti")
    }
    kept.select(col("fp"), col("id").as("id_a"))
      .join(kept.select(col("fp"), col("id").as("id_b")), Seq("fp"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Incremental winnowing check against a released corpus — the
    * SUBSTRING-level companion of [[nearDedupAgainstSnapshotMinhash]]:
    * (fresh_id, prior_id, shared) for every fresh document sharing ≥
    * `minShared` winnowing fingerprints with a prior document. Because
    * winnowing is local, this catches a fresh document that merely EMBEDS
    * a released passage (a quote, a mirrored section, a templated page)
    * at guaranteed recall for matches ≥ k + w − 1 canonical chars — the
    * case whole-document MinHash similarity dilutes below any threshold.
    * Compose with a left_anti on fresh_id for the drop policy.
    *
    * Scale shape: the prior side's (id, fp) relation is the persisted
    * release artifact (Memoize it once per release; fingerprints are
    * ~2/(w+1) of its chars); fresh docs fingerprint independently and the
    * sides meet on an fp equi-join. Release-side boilerplate fingerprints
    * (df > maxDf in the PRIOR corpus — dropping them from that side alone
    * kills the hot join keys) are anti-joined away broadcast-side.
    */
  def winnowAgainstSnapshot(fresh: DataFrame, prior: DataFrame,
                            idCol: String, textCol: String,
                            k: Int = 16, w: Int = 8, minShared: Int = 2,
                            maxDf: Int = 1000): DataFrame = {
    require(minShared >= 1, s"winnowAgainstSnapshot needs minShared >= 1, got $minShared")
    val ffps = winnowFpPostings(fresh, idCol, textCol, k, w)
      .select(col(idCol).as("fresh_id"), col("fp"))
    ffps.join(winnowSnapshotIndex(prior, idCol, textCol, k, w, maxDf), Seq("fp"))
      .groupBy(col("fresh_id"), col("prior_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** The released-corpus side of [[winnowAgainstSnapshot]] as a standalone
    * relation: distinct (prior_id, fp) winnow postings with hot
    * fingerprints (df > maxDf, boilerplate) anti-joined away behind an
    * observed metric. This IS the persistable substring-contamination
    * index of a release — batch increments join against it (q182) and a
    * STREAMING intake joins it stream-static (q193), so fresh documents
    * are gated without rescanning released text in either mode.
    */
  def winnowSnapshotIndex(prior: DataFrame, idCol: String, textCol: String,
                          k: Int = 16, w: Int = 8,
                          maxDf: Int = 1000): DataFrame = {
    // NOT materialized (round 16: tried the winnowPairs localCheckpoint
    // trade here, measured a wash — q193 1.66→1.65, q182 1.10→1.16 — and
    // reverted: the hot-fp branch and the kept anti-join already share the
    // kernel through exchange reuse, so the eager checkpoint job was pure
    // overhead).
    val pfps0 = winnowFpPostings(prior, idCol, textCol, k, w)
      .select(col(idCol).as("prior_id"), col("fp"))
    if (maxDf <= 0) pfps0 else {
      val hot = pfps0.groupBy(col("fp")).agg(count(lit(1)).as("df"))
        .observe(s"winnow_snapshot_dropped_fps_${dropSeq.incrementAndGet()}",
          sum(when(col("df") > maxDf, lit(1L)).otherwise(lit(0L))).as("dropped_fps"))
        .filter(col("df") > maxDf).select(col("fp"))
      pfps0.join(broadcast(hot), Seq("fp"), "left_anti")
    }
  }

  /** Per-document winnow fingerprint SETS as one array column — the
    * STREAMING-safe formulation of [[winnowFingerprints]]' selection.
    * Canonicalization stays in SQL (exact parity with the batch path's
    * lower/regexp_replace semantics); the hash + select-min pass runs in a
    * typed `mapPartitions` kernel (Structured Streaming accepts typed maps;
    * it only rejects window functions), so it composes into `readStream`
    * pipelines. Returns (idCol, fps: array<bigint>) with fps = the DISTINCT
    * selected fingerprint hashes in first-seen window order — exactly
    * `winnowFingerprints(...).select(id, fp).distinct()` grouped per id (a
    * spec law pins the equivalence). Documents shorter than k+w-1 canonical
    * chars are filtered out, as in the batch path.
    *
    * Cost note: O(chars) per document — one md5 per k-gram plus a
    * monotonic-deque sliding minimum. The previous higher-order-function
    * formulation was quadratic in practice: Catalyst collapses the `__codes`
    * projection into the per-window lambda and HOF lambdas are interpreted,
    * so every window re-derived the whole md5 code array (~68M interpreted
    * md5 evaluations ≈ 660 s for 920 ~300-char docs at sf0.1).
    */
  def winnowFpSets(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 16, w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1, s"winnowFpSets needs k >= 1, w >= 1 (got k=$k, w=$w)")
    val canon0 = df.select(col(idCol),
        lower(regexp_replace(coalesce(col(textCol), lit("")), "\\s+", "")).as("__c"))
      .filter(length(col("__c")) >= k + w - 1)
    // Spread batch inputs before the per-doc hash kernel (single-split
    // scans serialize it on one core); a streaming intake keeps the
    // stream's own partitioning.
    val canon = if (df.isStreaming) canon0 else Tuning.spread(canon0, col(idCol))
    val outSchema = StructType(Seq(
      canon.schema.fields(0),
      StructField("fps", ArrayType(LongType, containsNull = false), nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row] =
      org.apache.spark.sql.Encoders.row(outSchema)
    canon.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        org.apache.spark.sql.Row(r.get(0), winnowSelectFps(r.getString(1), k, w, md))
      }
    }
  }

  /** O(chars) winnow selection over one canonical string: md5-based 32-bit
    * gram hashes (identical basis to [[Sampling.portableHash60]] mod 2^32),
    * position-tagged codes, and a monotonic-deque sliding minimum over the
    * w-gram windows. Grams are taken by CODE POINTS to mirror SQL
    * `substring`/`length` semantics on supplementary characters. Returns the
    * distinct selected fingerprints in first-seen window order (matching
    * `array_distinct` over the per-window mins). Caller guarantees
    * codePointCount(canon) >= k + w - 1.
    */
  private def winnowSelectFps(canon: String, k: Int, w: Int,
                              md: java.security.MessageDigest): Array[Long] = {
    val cps = canon.codePoints().toArray
    val n = cps.length - (k - 1) // gram count; n >= w by the caller's filter
    val codes = new Array[Long](n)
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(new String(cps, i, k)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // First 15 hex chars of md5 = top 60 bits (portableHash60), mod 2^32.
      var h60 = 0L
      var b = 0
      while (b < 8) { h60 = (h60 << 8) | (d(b) & 0xffL); b += 1 }
      val fp = (h60 >>> 4) & 0xffffffffL
      codes(i) = fp * WinnowPosCap + (WinnowPosCap - 1 - i.toLong)
      i += 1
    }
    // Sliding min over windows [p-w+1, p]: indices in `deque` hold strictly
    // increasing codes (codes are distinct — the position tag breaks ties).
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    val deque = new Array[Int](n)
    var head = 0; var tail = 0
    var p = 0
    while (p < n) {
      while (tail > head && codes(deque(tail - 1)) >= codes(p)) tail -= 1
      deque(tail) = p; tail += 1
      if (deque(head) <= p - w) head += 1
      if (p >= w - 1) seen.add(codes(deque(head)) / WinnowPosCap)
      p += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    out
  }

  /** Exact dedup by canonical fingerprint: one representative (min id) per
    * identical-content group. groupBy on a 64-bit hash — minimal shuffle
    * width at any scale.
    */
  private def dedupOnFingerprint(df: DataFrame, idCol: String, fp: Column): DataFrame = {
    // One scan + one shuffle (vs groupBy + semi-join = two scans + a join):
    // window the rows by fingerprint, keep the min-id representative.
    // The fingerprint is materialized as a column FIRST so the canonicalize+
    // hash expression is evaluated once below the exchange, not re-derived in
    // both the partition key and the shuffle write.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp")).orderBy(col(idCol))
    // No spread here: the input is an arbitrary caller pipeline (q70 feeds
    // a regex-scored select), so probing its layout re-plans the whole
    // lineage and the exchange would land ABOVE the expensive kernel
    // anyway. Callers with single-split scans spread at the scan instead.
    df.withColumn("__fp", fp)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn", "__fp")
  }

  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    dedupOnFingerprint(df, idCol, TextFunctions.fingerprint64(col(textCol)))

  /** Exact dedup keyed on the md5 canonical fingerprint (same semantics as
    * `exactDedup`; the md5 key is ANSI-SQL-expressible for oracle checks,
    * the xxhash64 variant is the cheaper production shuffle key).
    */
  def exactDedupMd5(df: DataFrame, idCol: String, textCol: String): DataFrame =
    dedupOnFingerprint(df, idCol, TextFunctions.fingerprint(col(textCol)))

  /** Incremental dedup against a prior snapshot — the daily-ingest
    * workflow: drop every new document whose canonical fingerprint already
    * exists in the released corpus, THEN exact-dedup what remains within
    * the batch. The prior side reduces to its distinct fingerprint set
    * (one narrow column), so re-releasing doesn't rescan prior text; at
    * production scale materialize that fingerprint set once per release
    * (Memoize) or swap in `bloomBuild` for a constant-size filter.
    */
  def dedupAgainstSnapshot(fresh: DataFrame, idCol: String, textCol: String,
                           prior: DataFrame, priorTextCol: String): DataFrame = {
    // coalesce: fingerprint(NULL) is NULL, and NULL keys neither match the
    // anti-join nor group consistently — null-text docs dedup as empty docs
    def fp(c: Column) = TextFunctions.fingerprint(coalesce(c, lit("")))
    val priorFps = prior.select(fp(col(priorTextCol)).as("__fp")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__fp")).orderBy(col(idCol))
    fresh
      .withColumn("__fp", fp(col(textCol))) // materialized ONCE: anti-join key and dedup key
      .join(priorFps, Seq("__fp"), "left_anti")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__fp")
  }

  /** Incremental NEAR-dedup against a released corpus — the MinHash
    * companion of [[dedupAgainstSnapshot]] (which catches only canonical-
    * exact matches): drop every fresh document whose Jaccard similarity to
    * ANY prior document reaches `threshold`. The daily-ingest workflow for
    * near-dups: re-crawls and boilerplate variants of released content
    * should not re-enter the corpus just because a byte changed.
    *
    * Scale shape: the prior side reduces to the two relations of the
    * portable minhash index — (id, band, bk) banded keys and (id, sh)
    * shingle sets — which a production pipeline persists ONCE per release
    * (Memoize) so daily batches never rescan prior text; candidates come
    * from the (band, bk) equi-join of the fresh batch's bands against that
    * index (linear in both sides, never fresh × prior), and the Jaccard
    * verify touches candidates only. Same portable basis as
    * [[minhashPairs]], so the WHOLE incremental decision replays
    * in external SQL. In-batch near-dedup of the survivors composes via
    * [[minhashDedupCC]].
    *
    * Degenerate buckets are dropped WHOLE when their COMBINED fresh+prior
    * membership exceeds `maxBucketSize` — the same deterministic
    * whole-bucket rule as [[minhashPairs]] (a hot bucket with F
    * fresh and P prior members costs F·P candidate rows, the
    * cross-relation version of the self-join quadratic). Counting across
    * both sides keeps the rule identical to the oracle's, which counts the
    * whole corpus per bucket — and mechanically it is the same one-pass
    * window count: both sides union (tagged), the count rides the
    * (band, bk) exchange the candidate join needs anyway, and the two
    * filtered branches reuse ONE signature pass per side.
    */
  def nearDedupAgainstSnapshotMinhash(fresh: DataFrame, prior: DataFrame,
                                      idCol: String, textCol: String,
                                      shingleSize: Int = 3, numPerms: Int = 32,
                                      bands: Int = 8, threshold: Double = 0.7,
                                      seed: Long = MinHash.Seed,
                                      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val fsh = shingleSets(fresh, idCol, textCol, shingleSize)
    val psh = shingleSets(prior, idCol, textCol, shingleSize)
    // Both sides' banded keys materialized ONCE (round 16): the tagged
    // union feeds the window count and both filtered candidate branches.
    // The checkpoint dates from the explode + min-aggregate signature,
    // whose subtree was costly to plan three times; with the signature
    // kernel it has not been re-measured. (id, band, bk, bool) is ~26
    // bytes × bands rows per doc; at production scale the prior side of
    // this relation is the persisted release index anyway. The shingle
    // ARRAYS (fsh/psh) stay un-materialized for the verify rejoin —
    // re-scan beats caching for payload-sized relations.
    val tagged = minhashBands(fsh, numPerms, bands, seed)
      .select(col("band"), col("bk"), col("id"), lit(true).as("__fresh"))
      .unionAll(minhashBands(psh, numPerms, bands, seed)
        .select(col("band"), col("bk"), col("id"), lit(false).as("__fresh")))
      .localCheckpoint()
    val wB = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bk"))
    val kept = tagged.withColumn("__n", count(lit(1)).over(wB))
      .filter(col("__n") <= maxBucketSize).drop("__n")
    val fb = kept.filter(col("__fresh"))
      .select(col("band"), col("bk"), col("id").as("fresh_id"))
    val pb = kept.filter(!col("__fresh"))
      .select(col("band"), col("bk"), col("id").as("prior_id"))
    val cand = fb.join(pb, Seq("band", "bk"))
      .select(col("fresh_id"), col("prior_id")).distinct()
    val contaminated = cand
      .join(fsh.select(col("id").as("fresh_id"), col("sh").as("sh_f")), Seq("fresh_id"))
      .join(psh.select(col("id").as("prior_id"), col("sh").as("sh_p")), Seq("prior_id"))
      .withColumn("jaccard",
        graft.expressions.GraftFunctions.jaccardSim(col("sh_f"), col("sh_p")))
      .filter(col("jaccard") >= threshold)
      .select(col("fresh_id").as(idCol)).distinct()
    fresh.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Cross-source duplication matrix — for every source pair, how many
    * DISTINCT canonical fingerprints they share: the corpus-audit view of
    * leakage between ingestion feeds (mirror sites, syndication, re-crawls)
    * that decides which source to drop from a mix. One distinct pass
    * ((fp, source) — at most sources× the fingerprint count), then a
    * self-equi-join on the fingerprint whose per-key match cardinality is
    * bounded by #sources, never by corpus size; output is a
    * #sources² upper-triangle. Uses the md5 canonical fingerprint (the
    * oracle-replayable key; swap `fingerprint64` at production scale).
    */
  def crossSourceOverlap(docs: DataFrame, textCol: String,
                         sourceCol: String): DataFrame = {
    val d = docs.select(TextFunctions.fingerprint(col(textCol)).as("fp"),
      col(sourceCol).as("source")).distinct()
    d.as("a").join(d.as("b"),
        col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("shared_fps"))
  }

  /** Record-linkage pairs by edit distance — the classic blocked fuzzy
    * match (Fellegi–Sunter blocking): rows are grouped by a cheap blocking
    * key (`blockOn`, e.g. brand + first name token), candidate pairs form
    * only WITHIN a block, and a pair survives when the Levenshtein distance
    * of `strCol` is ≤ `maxDist`. Output: (id_a, id_b, dist) upper-triangle.
    *
    * Scale shape: the quadratic blowup is confined to each block (pick
    * `blockOn` so blocks stay dimension-sized — same contract as the LSH
    * band buckets above); the join is a plain equi-join on the block key, so
    * it hash-partitions like any aggregation. The distance check uses
    * Spark's thresholded `levenshtein`, which abandons a pair's DP early
    * once `maxDist` is exceeded — O(maxDist·len) per pair, not O(len²) —
    * and is codegen'd, no UDF.
    *
    * Duplicate-heavy corpora MUST exact-collapse first (groupBy the string
    * → min-id representative, the q153 composition): pair counts grow
    * quadratically in duplicate multiplicity, and no blocking key can
    * separate identical strings. Collapsing bounds the fuzzy stage by the
    * distinct-string domain (measured 10.3 s → 0.56 s on the 10×-replicated
    * sf1 fixture).
    */
  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
                        blockOn: Column, maxDist: Int,
                        maxBlockSize: Int = DefaultMaxBucketSize): DataFrame = {
    // Same degenerate-key guard as the LSH buckets: a count-only aggregate
    // finds oversized blocks (a mis-chosen blocking key routing a corpus
    // slice into one block), they are broadcast-anti-joined away BEFORE the
    // quadratic self-join, and the dropped volume is observable.
    val rows = df.select(blockOn.as("__blk"), col(idCol).as("__id"), col(strCol).as("__s"))
    val sized = rows.groupBy(col("__blk")).agg(count(lit(1)).as("n"))
      .observe(s"fuzzy_dropped_blocks_${dropSeq.incrementAndGet()}",
        sum(when(col("n") > maxBlockSize, lit(1L)).otherwise(lit(0L))).as("dropped_blocks"),
        sum(when(col("n") > maxBlockSize, col("n")).otherwise(lit(0L))).as("dropped_rows"))
    val hot = sized.filter(col("n") > maxBlockSize).select(col("__blk"))
    val kept = rows.join(broadcast(hot), Seq("__blk"), "left_anti")
    val a = kept.select(col("__blk"), col("__id").as("id_a"), col("__s").as("__sa"))
    val b = kept.select(col("__blk"), col("__id").as("id_b"), col("__s").as("__sb"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
