package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Embedding-vector similarity for `array<float>` columns: cosine/dot/L2 as
  * pure `zip_with`/`aggregate` expression trees, plus approximate-nearest-
  * neighbor search — brute-force top-k as the correctness baseline and a
  * random-hyperplane LSH variant as the scale path.
  *
  * Scale shape: brute force is a broadcast of the (small) query set against a
  * partitioned corpus scan — linear in corpus size, no shuffle until the
  * final per-query top-k (TakeOrdered-style, tiny). The LSH variant buckets
  * both sides by sign-pattern so each query only scans its bucket.
  *
  * The hyperplane matrix is carried as ONE kernel constant (all tables ×
  * bits × dim doubles), and every table's signature comes from one compiled
  * kernel call per row. At dim=768 × 16 bits this is one constant, not 12k+
  * literal expression nodes, so the plan and codegen stay small at real
  * embedding dims.
  */
object VectorFunctions {

  // Unique per-action observe names (Spark rejects duplicate observation
  // names within one query) — same rationale as NearDedup.dropSeq.
  private val cellDropSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Default centroid budget for the quantized-Lloyd / PQ family
    * ([[pqTrain]], [[pqTopK]], [[semDedupPortable]],
    * [[clusterBalancedSample]], [[prototypePrune]]).
    *
    * The bare systematic seed (id % centroidEvery == 0) grows the codebook
    * WITH the corpus, so brute-force assignment costs n·k =
    * n²/centroidEvery — the sf1→sf10 decade measured ×109 (PQ) and ×58
    * (Lloyd) under 10× data on that path. A fixed budget restores linear
    * assignment (the FAISS regime: k fixed or ~√n while the corpus grows),
    * so the BOUNDED behavior is the default; passing `maxCentroids = 0`
    * explicitly opts back into the unbounded k ∝ n seed for small corpora
    * where exact legacy semantics matter. 256 cells is the common
    * IVF/k-means operating point for the ≤10⁶-vector corpora this budget
    * first binds on, and far below the broadcast-table ceiling.
    */
  val DefaultMaxCentroids: Int = 256

  /** Default cap on a sign-LSH (table, signature) bucket before the bucket
    * join ([[lshTopK]], [[cosineNearDupPairs]]) — the one definition the
    * DuckDB oracles interpolate. Buckets over it are dropped whole, as in
    * [[graft.operators.NearDedup.DefaultMaxBucketSize]]'s contract.
    */
  val DefaultMaxBucketSize: Int = 100000

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def l2Norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, x) => acc + x * x))

  /** Cosine similarity — compiled kernel for array<double>
    * (graft.expressions.Kernels.cosine): one compiled loop instead of three
    * interpreted HOF folds per pair. 0.0 for zero-norm inputs.
    */
  def cosine(a: Column, b: Column): Column =
    graft.expressions.GraftFunctions.cosine(a, b)

  /** HOF formulation (kept for non-double arrays / reference semantics). */
  def cosineHof(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = l2Norm(a) * l2Norm(b)
    when(n === 0.0d, lit(0.0d)).otherwise(d / n)
  }

  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0d), (acc, v) => acc + v))

  /** Per-vector symmetric int8 quantization scale: 127 / max|x|. For the
    * all-zero vector the max is floored at 1e-12, so the scale degenerates
    * to 1.27e14 — the quantized output is still all zeros, but don't treat
    * the scale itself as meaningful there. Quantized ANN keeps 4× more
    * vectors in executor memory at a ~1e-2 cosine error — the standard
    * memory-bound trade.
    */
  def int8Scale(v: Column): Column =
    lit(127.0d) / greatest(array_max(transform(v, x => abs(x.cast("double")))), lit(1e-12d))

  /** The int8-quantized vector under `scale` (round-half-up via
    * floor(x·s + ½) — an op order DuckDB/ANSI SQL reproduce bit-exactly,
    * unlike engine-native round() tie behavior).
    */
  def int8Quantize(v: Column, scale: Column): Column =
    transform(v, x => floor(x.cast("double") * scale + lit(0.5d)).cast("int"))

  /** Dequantized copy (for error measurement / mixed-precision rescoring). */
  def int8Dequantize(q: Column, scale: Column): Column =
    transform(q, x => x.cast("double") / scale)

  /** Brute-force cosine top-k: for every row of `queries` (small — it is
    * broadcast), the k nearest rows of `corpus` by cosine. Returns
    * (query_id, neighbor_id, cosine, rank). Excludes self-matches.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Two-stage quantized ANN: rank with the int8-quantized vectors first
    * (the corpus representation a memory-bound deployment actually holds —
    * 4× smaller; cosine is scale-invariant, so ranking quantized vectors
    * needs no dequantization), keep `k × rescoreFactor` candidates per
    * query, then rescore those exactly against the full-precision vectors.
    * Same output contract as `bruteForceTopK`. The quantized arrays are
    * widened to double once per row in the projection — never per pair —
    * so both stages run the compiled cosine kernel.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, rescoreFactor: Int = 4): DataFrame = {
    // element-wise widening (never a whole-array cast, which Catalyst would
    // push into the vectorized parquet reader where float->double coercion
    // is unsupported); cosine is scale-invariant so the quantized stage
    // ranks correctly without dequantization. Params are the OUTPUT column
    // names; the source columns are the enclosing idCol/vecCol.
    def quantized(df: DataFrame, idAs: String, vecAs: String, qAs: String): DataFrame =
      df.select(col(idCol).as(idAs),
        transform(col(vecCol), x => x.cast("double")).as(vecAs),
        transform(int8Quantize(col(vecCol), int8Scale(col(vecCol))),
          x => x.cast("double")).as(qAs))
    val c = quantized(corpus, "neighbor_id", "__cv", "__cq")
    val q = quantized(queries, "query_id", "__qv", "__qq")
    val wApprox = Window.partitionBy(col("query_id"))
      .orderBy(col("__ac").desc, col("neighbor_id").asc)
    val cand = c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("__ac", cosine(col("__qq"), col("__cq")))
      .withColumn("__ar", row_number().over(wApprox))
      .filter(col("__ar") <= k * rescoreFactor)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    cand.withColumn("cosine", cosine(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Product-quantization ANN with asymmetric distance computation
    * (Jégou et al. 2011 — the FAISS workhorse): split each vector into
    * `m` subvectors, learn a small codebook per subspace (deterministic
    * integer Lloyd, the [[quantizedLloyd]] recipe on the squared-L2
    * metric), store each corpus vector as its `m` code ids, and rank
    * query-corpus pairs by the SUM of per-subspace table lookups — the
    * corpus never decompresses.
    *
    * Everything is EXACT BIGINT arithmetic (components quantized by
    * `quantScale`, squared-L2 distances, floor-mean centroid updates), so
    * codebook training, encoding, and the ADC ranking all replay
    * bit-for-bit in ANSI SQL.
    *
    * Scale shape: with the default centroid budget the codebooks are
    * m × maxCentroids rows (FIXED as the corpus grows — collected once,
    * served to both the kernel encode and the ADC table), and the encode
    * itself is the compiled Kernels.nearestCodeL2 narrow map: one dsub×ksub
    * integer-L2 loop per (row, subspace), no corpus×k join anywhere.
    * Codes are a NARROW (id, sub, code) stream — the 8-byte-per-vector
    * memory layout that makes billion-scale ANN feasible; the per-query
    * distance table is m × ksub rows and broadcasts. The final
    * (query, neighbor) aggregation is the only corpus-sized shuffle and
    * carries three longs per row.
    *
    * With `rescoreFactor` > 1 (default) the top k·rescoreFactor ADC
    * candidates are re-ranked by exact full-dim integer L2 (the FAISS
    * "refine" stage) — output (query_id, neighbor_id, d2, rank). With
    * rescoreFactor <= 1, pure ADC — output
    * (query_id, neighbor_id, adc_d2, rank). Both ascending squared
    * distance with deterministic ties. On near-orthogonal noise pure ADC
    * recall is quantization-floor-bound (~0.4 measured); the refine stage
    * is what makes PQ production-accurate.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, dim: Int, m: Int = 8,
             centroidEvery: Int = 50, rounds: Int = 1,
             quantScale: Double = 256.0, rescoreFactor: Int = 4,
             trainEvery: Int = 1, maxCentroids: Int = DefaultMaxCentroids): DataFrame = {
    val book = pqTrain(corpus, idCol, vecCol, dim, m, centroidEvery, rounds,
      quantScale, trainEvery, maxCentroids)
    // maxCentroids = 0 trains an unbounded in-query book: route straight to
    // the distributed serve so the training subtree is never executed an
    // extra time just to probe its size (tryCollectCodebook would run it
    // once, conclude "too big", and the join path would re-plan it).
    if (maxCentroids <= 0)
      pqTopKWithUncollected(corpus, queries, book, idCol, vecCol, k, dim, m,
        quantScale, rescoreFactor)
    else
      pqTopKWith(corpus, queries, book, idCol, vecCol, k, dim, m, quantScale, rescoreFactor)
  }

  /** L2 over two integer arrays (exact — long accumulation). */
  // Compiled kernel (Kernels.longL2): the HOF formulation
  // aggregate(zip_with(...)) is interpreted per row, which dominated the
  // PQ corpus×centroid encode join at sf1 (exact value parity asserted in
  // ExpressionsSpec).
  private def intL2(a: Column, b: Column): Column =
    graft.expressions.GraftFunctions.longL2(a, b)

  /** (idAs, sub, sv): integer-quantized subvectors of (idCol, vecCol). */
  private def pqSubvectors(df: DataFrame, idCol: String, vecCol: String,
                           idAs: String, dim: Int, m: Int,
                           quantScale: Double): DataFrame = {
    val dsub = dim / m
    df.select(col(idCol).as(idAs),
        transform(col(vecCol),
          x => floor(x.cast("double") * quantScale + 0.5).cast("long")).as("__iv"))
      .select(col(idAs), explode(transform(sequence(lit(0), lit(m - 1)),
        i => struct(i.cast("long").as("sub"),
          slice(col("__iv"), i * dsub + 1, lit(dsub)).as("sv")))).as("p"))
      .select(col(idAs), col("p.sub").as("sub"), col("p.sv").as("sv"))
  }

  /** Broadcast-join `subs` against the codebook and raise at RUNTIME if a
    * subspace has no centroids (empty codebook — e.g. an id space with no
    * centroidEvery multiples). A left join + per-row raise_error costs no
    * extra job or scan, unlike an eager composition-time count: the check
    * rides inside the action that needs the codebook anyway.
    */
  private def joinBookGuarded(subs: DataFrame, book: DataFrame,
                              what: String): DataFrame =
    subs.join(broadcast(book), Seq("sub"), "left")
      .withColumn("cv",
        when(col("cv").isNull, raise_error(concat(
          lit(s"$what: empty PQ codebook for subspace "), col("sub"),
          lit(" — train with pqTrain on an id space containing centroidEvery multiples"))))
          .otherwise(col("cv")))

  /** Train PQ codebooks offline: (sub, cid, cv) — m subspaces, one row per
    * (subspace, centroid), centroid vectors of dim/m longs. Seeds are the
    * corpus vectors with id ≡ 0 (mod centroidEvery), refined by `rounds`
    * Lloyd iterations with floor-mean integer updates (order-independent —
    * oracle-replayable). Train ONCE per corpus release, persist the (tiny)
    * result, and serve any number of queries through `pqTopKWith` — at
    * production scale the training cost must not ride inside every query
    * (the round-5 q128 bench tail).
    *
    * `trainEvery` > 1 runs the Lloyd assignment/update over the
    * deterministic id-sample (id ≡ 0 mod trainEvery) instead of the full
    * corpus — the standard PQ practice (FAISS trains codebooks on a
    * bounded sample; at 100 TB nobody Lloyds every vector): training cost
    * drops by the sampling factor while encode/serve still cover
    * everything. Seeds stay the full corpus's centroidEvery multiples, so
    * the sample choice and seed choice remain independent and both replay
    * in SQL.
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String,
              dim: Int, m: Int = 8, centroidEvery: Int = 50,
              rounds: Int = 1, quantScale: Double = 256.0,
              trainEvery: Int = 1, maxCentroids: Int = DefaultMaxCentroids): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    require(trainEvery >= 1, s"trainEvery must be positive, got $trainEvery")
    val csub = pqSubvectors(corpus, idCol, vecCol, "id", dim, m, quantScale)
    val tsub = if (trainEvery <= 1) csub
               else csub.filter(col("id") % trainEvery === 0)
    // Floor-mean centroid update — shared by both assignment formulations.
    def updateOf(assigned: DataFrame): DataFrame = assigned
      .select(col("sub"), col("cid"), posexplode(col("sv")).as(Seq("d", "x")))
      .groupBy(col("sub"), col("cid"), col("d"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
      .withColumn("mc", floor(col("s") / col("cnt")).cast("long"))
      .groupBy(col("sub"), col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("mc")))),
        p => p.getField("mc")).as("cv"))
    val seedBook = csub.filter(col("id") % centroidEvery === 0)
      .select(col("sub"), col("id").as("cid"), col("sv").as("cv"))
    if (maxCentroids <= 0) {
      // Legacy unbounded path (explicit opt-in): the codebook grows with
      // the corpus, so it must never be collected — keep the lazy
      // broadcast-join assignment and pay the corpus×k join.
      def assign(book: DataFrame): DataFrame = {
        // argmin via min_by, not a window: the (corpus×centroids) join is
        // the unavoidable distance computation, but min_by collapses it
        // with map-side partial aggregation — no full-width sort shuffle
        // of the candidate rows. The ordering struct (__d2, cid) is unique
        // per (id, sub) group, so the result is deterministic and
        // identical to the former row_number formulation (d2 asc, cid asc).
        joinBookGuarded(tsub, book, "pqTrain")
          .withColumn("__d2", intL2(col("sv"), col("cv")))
          .groupBy(col("id"), col("sub"))
          .agg(min_by(struct(col("cid"), col("sv")),
            struct(col("__d2"), col("cid"))).as("__b"))
          .select(col("id"), col("sub"),
            col("__b.cid").as("cid"), col("__b.sv").as("sv"))
      }
      var book = seedBook
      var assigned = assign(book)
      for (_ <- 1 to rounds) {
        book = updateOf(assigned)
        assigned = assign(book)
      }
      book
    } else {
      // Budgeted (default) path: the k smallest seed ids PER SUBSPACE
      // (every sub shares the same id set, so this is one global id cut)
      // — the fixed codebook budget that keeps training corpus-linear
      // (k ∝ n otherwise: the sf1→sf10 decade measured q128 at ×109).
      // Deterministic and SQL-replayable (row_number over cid ≤ k). The
      // codebook is ≤ m×k×dsub longs — bounded driver state — so each
      // round collects it and assigns via the compiled Kernels.nearestCodeL2
      // narrow map (exact-long parity with the min_by join, asserted in
      // ExpressionsSpec): no corpus×k joined rows anywhere in training.
      val bounded = seedBook.withColumn("__r", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("sub")).orderBy(col("cid"))))
        .filter(col("__r") <= maxCentroids).drop("__r")
      var (cids, cvs) = collectCodebook(bounded, m, "pqTrain")
      for (_ <- 1 to rounds) {
        val assigned = tsub.select(col("id"), col("sub"),
          graft.expressions.GraftFunctions
            .nearestCodeL2(col("sv"), col("sub"), cvs, cids).as("cid"),
          col("sv"))
        val t = collectCodebook(updateOf(assigned), m, "pqTrain")
        cids = t._1; cvs = t._2
      }
      localBookDf(corpus.sparkSession, cids, cvs)
    }
  }

  /** Pack a collected (sub, cid, cv) codebook into per-subspace arrays
    * sorted by cid — bounded driver state (m × k × dsub longs). Raises
    * the joinBookGuarded guidance when a subspace has no entries.
    */
  private def packCodebook(rows: Array[(Int, Long, Array[Long])], m: Int,
                           what: String)
      : (Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val bySub = rows.groupBy(_._1)
    val cids = Array.ofDim[Array[Long]](m)
    val cvs = Array.ofDim[Array[Array[Long]]](m)
    var s = 0
    while (s < m) {
      val e = bySub.getOrElse(s, Array.empty[(Int, Long, Array[Long])]).sortBy(_._2)
      require(e.nonEmpty, s"$what: empty PQ codebook for subspace $s — train " +
        "with pqTrain on an id space containing centroidEvery multiples")
      cids(s) = e.map(_._2)
      cvs(s) = e.map(_._3)
      s += 1
    }
    (cids, cvs)
  }

  private def codebookRows(book: DataFrame): DataFrame =
    book.select(col("sub"), col("cid"), col("cv"))

  private def rowTriple(r: org.apache.spark.sql.Row): (Int, Long, Array[Long]) =
    (r.getLong(0).toInt, r.getLong(1), r.getSeq[Long](2).toArray)

  private def collectCodebook(book: DataFrame, m: Int, what: String)
      : (Array[Array[Long]], Array[Array[Array[Long]]]) =
    packCodebook(codebookRows(book).collect().map(rowTriple), m, what)

  /** Collect a codebook of UNKNOWN size iff it is bounded: one limit-push
    * collect; None (and no second execution here) when the book exceeds
    * [[MaxCollectedCodebook]] — an unbounded-training relation must never
    * land on the driver, so oversized books keep the distributed join
    * encode. A plan-local book (the budgeted training paths return
    * [[localBookDf]], a LocalRelation) is size-checked on the optimized
    * plan WITHOUT running a job, so the probe costs nothing there; the
    * explicit maxCentroids=0 opt-ins never reach this method at all
    * ([[pqTopK]] routes them straight to the distributed formulation), so
    * no in-query Lloyd training subtree is ever executed just to be probed.
    */
  private def tryCollectCodebook(book: DataFrame, m: Int, what: String)
      : Option[(Array[Array[Long]], Array[Array[Array[Long]]])] =
    book.queryExecution.optimizedPlan match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        if (lr.data.length > MaxCollectedCodebook) None
        else Some(packCodebook(codebookRows(book).collect().map(rowTriple), m, what))
      case _ =>
        val rows = codebookRows(book).limit(MaxCollectedCodebook + 1).collect()
        if (rows.length > MaxCollectedCodebook) None
        else Some(packCodebook(rows.map(rowTriple), m, what))
    }

  /** Max codebook entries (total m × k rows) the serve path will collect
    * for the compiled kernel encode. The bound is sized by the KERNEL's
    * per-row cost, not by what fits on the driver: the encode loop does
    * (rows × dsub) = k × dim multiply-adds per corpus row, so at 8192
    * entries a dim-64 corpus already pays ~512k ops/row — beyond that the
    * distributed min_by join (map-side combine, no per-task codebook copy)
    * is the better regime anyway. Also bounds the addReferenceObj payload
    * shipped with every task binary (≤ 8192 × dsub longs ≈ 0.5 MB at
    * dsub = 8) — the former 65536 ceiling allowed a 4 MB per-expression
    * embed for a kernel that would lose to the join. The default budget
    * (8 × 256 = 2048 rows) sits comfortably under it.
    */
  private val MaxCollectedCodebook: Int = 8192

  /** A collected codebook as a (tiny) local DataFrame — same schema and
    * values as the distributed (sub, cid, cv) relation, so downstream
    * joins and oracle replays are unchanged.
    */
  private def localBookDf(spark: org.apache.spark.sql.SparkSession,
                          cids: Array[Array[Long]],
                          cvs: Array[Array[Array[Long]]]): DataFrame = {
    import spark.implicits._
    cids.indices.flatMap(s => cids(s).indices.map(i =>
      (s.toLong, cids(s)(i), cvs(s)(i).toSeq))).toDF("sub", "cid", "cv")
  }

  /** Encode a corpus against pre-trained codebooks: (id, sub, cid) — the
    * PQ INDEX itself. nearest centroid per (corpus row, subspace) via
    * min_by argmin (unique ordering struct ⇒ deterministic, same (d2 asc,
    * cid asc) semantics as a window) so the encode join collapses map-side
    * instead of sort-shuffling corpus×centroid candidate rows. At
    * production scale this runs once per corpus release and is PERSISTED
    * (m·|corpus| tiny rows — the classic "PQ codes are 8 bytes per
    * vector" artifact); every query then serves through
    * [[pqTopKWithCodes]] without touching full corpus vectors except to
    * refine its own candidate slice.
    */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, idCol: String,
               vecCol: String, dim: Int, m: Int = 8,
               quantScale: Double = 256.0): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    val csub = pqSubvectors(corpus, idCol, vecCol, "id", dim, m, quantScale)
    tryCollectCodebook(codebooks, m, "pqEncode") match {
      case Some((cids, cvs)) =>
        // Bounded book (the default-budget regime): the encode is a
        // compiled narrow map — one dsub×k integer-L2 loop per (row, sub),
        // no corpus×k join, no min_by shuffle. Exact-long parity with the
        // join formulation below (ExpressionsSpec).
        pqEncodeWithLocal(csub, cids, cvs)
      case None =>
        pqEncodeDistributed(csub, codebooks, "pqEncode")
    }
  }

  /** The distributed (broadcast-join + map-side min_by) encode — the
    * regime for books too big to collect and for the explicit
    * maxCentroids=0 opt-in, where the book must never land on the driver.
    */
  private def pqEncodeDistributed(csub: DataFrame, codebooks: DataFrame,
                                  what: String): DataFrame =
    joinBookGuarded(csub, codebooks, what)
      .withColumn("__d2", intL2(col("sv"), col("cv")))
      .groupBy(col("id"), col("sub"))
      .agg(min_by(col("cid"), struct(col("__d2"), col("cid"))).as("cid"))

  private def pqEncodeWithLocal(csub: DataFrame, cids: Array[Array[Long]],
                                cvs: Array[Array[Array[Long]]]): DataFrame =
    csub.select(col("id"), col("sub"),
      graft.expressions.GraftFunctions
        .nearestCodeL2(col("sv"), col("sub"), cvs, cids).as("cid"))

  /** Serve PQ top-k with PRE-TRAINED codebooks (the production entry point;
    * `pqTopK` = pqTrain + this). Encodes the corpus against `codebooks`
    * ((sub, cid, cv) from `pqTrain` — pass it persisted), builds the
    * per-query ADC distance table, aggregates, and optionally refines.
    * Callers serving MANY query batches should encode once with
    * [[pqEncode]], persist the codes, and call [[pqTopKWithCodes]].
    */
  def pqTopKWith(corpus: DataFrame, queries: DataFrame, codebooks: DataFrame,
                 idCol: String, vecCol: String, k: Int, dim: Int, m: Int = 8,
                 quantScale: Double = 256.0, rescoreFactor: Int = 4): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    tryCollectCodebook(codebooks, m, "pqTopKWith") match {
      case Some((cids, cvs)) =>
        // Bounded book: collect ONCE — the kernel encode and the ADC table
        // join both read the collected values (as a local relation), so
        // the codebook plan (in-query training included) executes exactly
        // once instead of once per consumer subtree.
        val csub = pqSubvectors(corpus, idCol, vecCol, "id", dim, m, quantScale)
        pqTopKWithCodes(pqEncodeWithLocal(csub, cids, cvs), corpus, queries,
          localBookDf(corpus.sparkSession, cids, cvs), idCol, vecCol, k, dim,
          m, quantScale, rescoreFactor)
      case None =>
        pqTopKWithUncollected(corpus, queries, codebooks, idCol, vecCol, k,
          dim, m, quantScale, rescoreFactor)
    }
  }

  /** Serve against a book that must stay distributed (oversized, or the
    * explicit maxCentroids=0 opt-in): the encode is the broadcast-join
    * min_by and the book plan is NEVER probed or collected — calling this
    * directly (as [[pqTopK]] does for maxCentroids=0) avoids executing an
    * in-query training subtree once just to measure its size.
    */
  private def pqTopKWithUncollected(corpus: DataFrame, queries: DataFrame,
                                    codebooks: DataFrame, idCol: String,
                                    vecCol: String, k: Int, dim: Int, m: Int,
                                    quantScale: Double,
                                    rescoreFactor: Int): DataFrame =
    pqTopKWithCodes(
      pqEncodeDistributed(
        pqSubvectors(corpus, idCol, vecCol, "id", dim, m, quantScale),
        codebooks, "pqTopKWith"),
      corpus, queries, codebooks, idCol, vecCol, k, dim, m, quantScale,
      rescoreFactor)

  /** The pure SERVE side: rank against a pre-encoded `codes` index
    * ((id, sub, cid) from [[pqEncode]], persisted). Per query: quantize,
    * broadcast the m×|centroids| ADC table against the codes, aggregate,
    * and exact-refine the k·rescoreFactor candidate slice — the only stage
    * that reads full corpus vectors, and only for candidate ids. This is
    * the single-query latency shape users actually run against a built
    * index.
    */
  def pqTopKWithCodes(codes: DataFrame, corpus: DataFrame, queries: DataFrame,
                      codebooks: DataFrame, idCol: String, vecCol: String,
                      k: Int, dim: Int, m: Int = 8,
                      quantScale: Double = 256.0,
                      rescoreFactor: Int = 4): DataFrame = {
    require(dim % m == 0, s"dim $dim must split into m=$m subspaces")
    def l2(a: Column, b: Column): Column = intL2(a, b)
    def subs(df: DataFrame, idAs: String): DataFrame =
      pqSubvectors(df, idCol, vecCol, idAs, dim, m, quantScale)
    val book = codebooks
    val table = subs(queries, "query_id")
      .join(broadcast(book), Seq("sub"))
      .withColumn("__d2", l2(col("sv"), col("cv")))
      .select(col("query_id"), col("sub"), col("cid"), col("__d2"))
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_d2").asc, col("neighbor_id").asc)
    val adc = codes.join(broadcast(table), Seq("sub", "cid"))
      .filter(col("id") =!= col("query_id"))
      .groupBy(col("query_id"), col("id").as("neighbor_id"))
      .agg(sum(col("__d2")).as("adc_d2"))
      .withColumn("rank", row_number().over(wAdc))
    if (rescoreFactor <= 1) {
      adc.filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("adc_d2"), col("rank"))
    } else {
      // FAISS-style refine: keep k*rescoreFactor by ADC, re-rank those
      // exactly (full-dim integer L2) — only the candidate slice ever
      // touches full vectors
      def whole(df: DataFrame, idAs: String, vAs: String): DataFrame =
        df.select(col(idCol).as(idAs),
          transform(col(vecCol),
            x => floor(x.cast("double") * quantScale + 0.5).cast("long")).as(vAs))
      val wExact = Window.partitionBy(col("query_id"))
        .orderBy(col("d2").asc, col("neighbor_id").asc)
      adc.filter(col("rank") <= k * rescoreFactor)
        .select(col("query_id"), col("neighbor_id"), col("adc_d2"))
        .join(whole(corpus, "neighbor_id", "__nv"), Seq("neighbor_id"))
        .join(broadcast(whole(queries, "query_id", "__qv")), Seq("query_id"))
        .withColumn("d2", l2(col("__nv"), col("__qv")))
        .withColumn("rank", row_number().over(wExact))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("d2"), col("rank"))
    }
  }

  /** Plane values for the PORTABLE sign-LSH variant: one seeded RNG per
    * table. The same sequence parameterizes the Spark plan and the
    * generated oracle SQL, so both engines compute identical signatures
    * (Double.toString round-trips exactly through SQL literals).
    */
  def portablePlanes(dim: Int, bits: Int, tables: Int,
                     seed: Long = 7L): Seq[Seq[Double]] =
    (0 until tables).flatMap { t =>
      val rnd = new scala.util.Random(seed + t)
      Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian()))
    }

  /** (id, __v) rows of `df`, the vector widened to double element-wise
    * unless it is array<double> already.
    */
  private def vectors(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val v = df.schema(vecCol).dataType match {
      case ArrayType(DoubleType, _) => col(vecCol)
      case _ => transform(col(vecCol), x => x.cast("double"))
    }
    df.select(col(idCol).as("id"), v.as("__v"))
  }

  /** The sign-LSH bucket relation of (id, __v) rows: one (id, t, sig) row
    * per table, where sig = Σ_b [dot(v, plane_b) >= 0] << b over table t's
    * planes of the portable basis ([[portablePlanes]]), so a DuckDB replay
    * computes the same signatures (SparkEntry's lshCtes). All tables × bits
    * projections run in ONE compiled loop per row (Kernels.planeSigs,
    * bit-parity with the zip_with/aggregate HOF fold, spec-pinned). A
    * null vector has no signature and so no rows; a null element or a
    * length other than `dim` leaves the bits it touches unset.
    */
  private def planeBuckets(v: DataFrame, dim: Int, bits: Int, tables: Int): DataFrame =
    v.select(col("id"), posexplode(graft.expressions.GraftFunctions
        .planeSigs(col("__v"), portablePlanes(dim, bits, tables), bits)))
      .select(col("id"), col("pos").cast("int").as("t"), col("col").as("sig"))

  /** The sign-LSH buckets of a corpus with hot buckets dropped whole by
    * [[graft.operators.NearDedup.windowCapped]] over (t, sig). The scan is
    * spread before the kernel (a 2-split embeddings scan serialized it on
    * 2 of 32 cores). The window's (t, sig) exchange, which the bucket
    * search above it reads too, is an explicit repartition to the spread
    * width: AQE coalesces a required exchange of these narrow rows down to
    * one partition, and at sf1 the bucket join then streamed from that one
    * task (q95 5.5 s → 11 s on 4 cores).
    */
  private def cappedBuckets(v: DataFrame, dim: Int, bits: Int, tables: Int,
                            maxBucketSize: Int): DataFrame =
    graft.operators.NearDedup.windowCapped(
      planeBuckets(graft.operators.Tuning.spread(v, col("id")), dim, bits, tables)
        .repartition(graft.operators.Tuning.spreadTarget(v.sparkSession), col("t"), col("sig")),
      Seq("t", "sig"), maxBucketSize)

  /** LSH-bucketed ANN: both sides keyed by sign-LSH signature; candidates
    * are bucket-mates in any of `tables` independent hash tables — id-only
    * through the candidate shuffle, vectors re-joined for the exact-cosine
    * verification, reduced to per-query top-k by (cosine desc,
    * neighbor_id). Multi-table union trades recall vs cost — the standard
    * sign-LSH arrangement. The corpus side's hot buckets are dropped whole
    * (e.g. all-zero vectors collapse to one signature); the query side
    * probes what is kept. The whole pipeline replays in DuckDB.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, dim: Int, k: Int,
              bits: Int = 12, tables: Int = 4,
              maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val cv = vectors(corpus, idCol, vecCol)
    val qv = vectors(queries, idCol, vecCol)
    val c = cappedBuckets(cv, dim, bits, tables, maxBucketSize)
      .select(col("t"), col("sig"), col("id").as("neighbor_id"))
    val q = planeBuckets(qv, dim, bits, tables)
      .select(col("t"), col("sig"), col("id").as("query_id"))
    val cand = c.join(q, Seq("t", "sig"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    val scored = cand
      .join(cv.select(col("id").as("neighbor_id"), col("__v").as("__cv")), Seq("neighbor_id"))
      .join(broadcast(qv.select(col("id").as("query_id"), col("__v").as("__qv"))), Seq("query_id"))
      .withColumn("cosine", cosine(col("__qv"), col("__cv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs via sign-LSH buckets: (id_a,
    * id_b, cosine) with id_a < id_b for bucket-mates whose exact cosine
    * reaches `threshold` (no O(n²) scan). Hot buckets are dropped whole,
    * then each kept bucket's pairs come from its sorted id list
    * ([[graft.operators.NearDedup.bucketPairs]], one read of the capped
    * relation, no self-join); pair-dedup runs on ids only and the
    * vectors are re-joined for the verify. The whole pipeline replays in
    * DuckDB.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                         threshold: Double, bits: Int = 10, tables: Int = 4,
                         maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    val v = vectors(df, idCol, vecCol)
    val cand = graft.operators.NearDedup.bucketPairs(
      cappedBuckets(v, dim, bits, tables, maxBucketSize), Seq("t", "sig"))
    val vA = v.select(col("id").as("id_a"), col("__v").as("__va"))
    val vB = v.select(col("id").as("id_b"), col("__v").as("__vb"))
    cand.join(vA, Seq("id_a")).join(vB, Seq("id_b"))
      .withColumn("cosine", cosine(col("__va"), col("__vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
  }

  /** IVF top-k: the coarse quantizer is the first `nCentroids` corpus
    * vectors ordered by ([[graft.operators.Sampling.portableHash60]](id),
    * id) — an md5-spread deterministic sample, decorrelated from the
    * corpus's insertion/sort order, collected once; a centroid's cid is its
    * 0-based seed rank, so ids of any type work. Corpus rows go to their
    * argmax-cosine centroid through the compiled Kernels.nearestCentroidCos
    * narrow map (ties to the lowest cid); each query probes its top
    * `nProbe` cells by (cosine desc, cid) over a broadcast cross with the
    * centroid table (queries × nCentroids rows), and the probe rows are
    * broadcast against the corpus scan; candidates are verified by
    * exact cosine and ranked by (cosine desc, neighbor_id). Every step has
    * an explicit tie rule, so a SQL engine replays the pipeline
    * bit-for-bit (SparkEntry's q52 oracle).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nCentroids: Int = 64, nProbe: Int = 8): DataFrame = {
    val v = vectors(corpus, idCol, vecCol)
    val seeds = v.filter(col("__v").isNotNull)
      .orderBy(graft.operators.Sampling.portableHash60(col("id")), col("id"))
      .limit(nCentroids).select(col("__v")).collect()
      .map(_.getSeq[Double](0).toArray)
    require(seeds.nonEmpty, "ivfTopK: no corpus vectors to seed centroids from")
    val cids = seeds.indices.map(_.toLong).toArray
    val spark = corpus.sparkSession
    import spark.implicits._
    val cents = cids.toSeq.zip(seeds.map(_.toSeq)).toDF("cid", "__cv")
    // A null vector gets cell -1, which no probe matches. The non-null
    // cell keeps Catalyst from inferring an isnotnull(cell) filter that
    // would run the kernel a second time per row below the projection.
    val assigned = v.select(col("id"),
      coalesce(graft.expressions.GraftFunctions.nearestCentroidCos(col("__v"), seeds, cids),
        lit(-1L)).as("cell"),
      col("__v"))
    val qv = vectors(queries, idCol, vecCol)
      .select(col("id").as("query_id"), col("__v").as("__qv"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("__cs").desc, col("cid").asc)
    val probes = qv.crossJoin(broadcast(cents))
      .withColumn("__cs", cosine(col("__qv"), col("__cv")))
      .withColumn("__rn", row_number().over(wProbe))
      .filter(col("__rn") <= nProbe)
      .select(col("query_id"), col("__qv"), col("cid").as("cell"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    // queries × nProbe probe rows are broadcast; the corpus is never moved
    assigned.join(broadcast(probes), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .withColumnRenamed("id", "neighbor_id")
      .withColumn("cosine", cosine(col("__qv"), col("__v")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cosine"), 6).as("cosine"), col("rank"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): k-means-cluster the
    * embedding space, then drop near-duplicate embeddings WITHIN each
    * cluster — the clustering confines the pairwise search to cells, which
    * is the paper's whole point: candidate generation is corpus-linear, and
    * per-cell pair cost is bounded by cell size, never corpus size.
    *
    * Deterministic and externally replayable by construction (the
    * q83/q93–q95 portable technique): components are quantized to integers
    * (floor(x·scale + 0.5), exact in doubles), so every Lloyd-round sum is
    * exact integer arithmetic — order-independent however Spark schedules
    * the aggregation — centroid means are one IEEE division + floor, and
    * every ranking carries an explicit tie-break. A SQL engine replays the
    * seed, each unrolled round, the assignment, and the dedup bit-for-bit.
    *
    * Output: one row per input vector — (idCol, cell, kept); `kept=false`
    * marks rows dropped as near-duplicates of a lower-id cell-mate.
    *
    * Scale shape: with the default centroid budget the assignment is the
    * compiled Kernels.nearestCentroidCos narrow map (one dim×k loop per row,
    * k ≤ maxCentroids — no corpus×k rows ever materialize); the update is
    * one posexplode + two aggregations sharing the cell key (linear in
    * corpus × dim); the dedup self-join is within-cell only, and `maxCell`
    * bounds it against degenerate cells (oversized cells are excluded from
    * pair generation behind an observed dropped-cells/rows metric — the
    * minhash bucket-cap contract). Cells inherit the skew bound of the
    * seed spacing — at 100 TB the seed would come from an md5-spread
    * sample ([[ivfTopK]]'s) and `rounds` Lloyd passes tighten cells without
    * any new shuffle shape. The compiled kernel reproduces the
    * max_by-over-cosine arithmetic bit-for-bit (ExpressionsSpec), so the
    * pipeline stays externally replayable.
    */
  def semDedupPortable(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, centroidEvery: Int = 25,
                       rounds: Int = 1, quantScale: Double = 65536.0,
                       trainEvery: Int = 1, maxCell: Int = 0,
                       maxCentroids: Int = DefaultMaxCentroids): DataFrame = {
    val (assigned, _) =
      quantizedLloyd(df, idCol, vecCol, centroidEvery, rounds, quantScale,
        trainEvery, maxCentroids)
    // maxCell > 0 bounds the within-cell pairwise join — the same contract
    // as the LSH bucket cap (NearDedup.windowCapped: a bucket over the cap
    // is dropped whole), in its aggregate form: a degenerate cell (zero-ish embeddings, one boilerplate topic swallowing
    // the corpus) would make the self-join quadratic in ITS size, so cells
    // larger than the cap are excluded from pair generation (their members
    // stay kept=true, uncompared) and the dropped volume is surfaced via an
    // observed metric — count-only aggregate + broadcast anti-join, the
    // oversized cell never materializes as a joined pair block. Default 0 =
    // uncapped (exact SemDeDup semantics for bounded corpora).
    val eligible = if (maxCell <= 0) assigned else {
      val sized = assigned.groupBy(col("cid")).agg(count(lit(1)).as("n"))
        .observe(s"semdedup_dropped_cells_${cellDropSeq.incrementAndGet()}",
          sum(when(col("n") > maxCell, lit(1L)).otherwise(lit(0L))).as("dropped_cells"),
          sum(when(col("n") > maxCell, col("n")).otherwise(lit(0L))).as("dropped_rows"))
      val hot = sized.filter(col("n") > maxCell).select(col("cid"))
      assigned.join(broadcast(hot), Seq("cid"), "left_anti")
    }
    val a = eligible.select(col("cid"), col("id").as("id_a"), col("__v").as("__va"))
    val b = eligible.select(col("cid"), col("id").as("id_b"), col("__v").as("__vb"))
    val dropped = a.join(b, Seq("cid"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("__va"), col("__vb")) >= threshold)
      .select(col("id_b").as("id")).distinct()
      .withColumn("__dropped", lit(true))
    assigned.join(dropped, Seq("id"), "left")
      .select(col("id").as(idCol), col("cid").as("cell"),
        col("__dropped").isNull.as("kept"))
  }

  /** Cluster-BALANCED corpus subset — the semantic topic-balancing step of
    * DataComp/Dolma-style curation: assign every embedding to its
    * quantized-Lloyd cell, then keep at most `perCellCap` vectors per cell
    * in portable-hash order. Over-represented semantic regions (boilerplate
    * clusters, SEO farms, near-identical product pages) are capped while
    * rare topics survive whole — the embedding-space analogue of
    * `Sampling.capPerGroup`'s per-domain quota. Output: one row per input
    * vector — (idCol, cell, cell_rank, kept); rank is the hash order
    * within the cell, so re-running with a different cap re-derives the
    * same nested subsets (cap 10 ⊂ cap 20).
    *
    * Deterministic and externally replayable bit-for-bit (shared
    * [[semDedupPortable]] Lloyd core + the md5-hash ranking). Scale shape:
    * assignment is corpus × k with broadcast centroids; the cap is one
    * window on the cell key — nothing pairwise anywhere.
    */
  def clusterBalancedSample(df: DataFrame, idCol: String, vecCol: String,
                            perCellCap: Int, centroidEvery: Int = 25,
                            rounds: Int = 1, quantScale: Double = 65536.0,
                            trainEvery: Int = 1,
                            maxCentroids: Int = DefaultMaxCentroids): DataFrame = {
    require(perCellCap >= 1, s"perCellCap must be positive, got $perCellCap")
    val (assigned, _) =
      quantizedLloyd(df, idCol, vecCol, centroidEvery, rounds, quantScale,
        trainEvery, maxCentroids)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cid"))
      .orderBy(graft.operators.Sampling.portableHash60(col("id")), col("id"))
    assigned
      .withColumn("cell_rank", row_number().over(w).cast(LongType))
      .select(col("id").as(idCol), col("cid").as("cell"),
        col("cell_rank"), (col("cell_rank") <= perCellCap).as("kept"))
  }

  /** Shared deterministic k-means core for [[semDedupPortable]] and
    * [[prototypePrune]]: quantize components to integers, seed centroids
    * systematically (id % centroidEvery == 0), run `rounds` unrolled Lloyd
    * passes (broadcast assignment + exact-integer mean update). Returns
    * (assigned = (id, cid, __v), centroids = (cid, __cv)).
    *
    * `maxCentroids > 0` bounds the seed set to the k SMALLEST seed ids
    * (deterministic, replayed in SQL as ORDER BY ... LIMIT k). This is the
    * 100 TB knob: the bare systematic seed makes k grow WITH the corpus
    * (n/centroidEvery centroids), so brute-force assignment costs
    * n·k = n²/centroidEvery — measured ×58-×109 across the sf1→sf10
    * decade on q181/q128. A fixed centroid budget restores linear
    * assignment, the standard k-means/IVF regime (k fixed or ~√n while the
    * corpus grows).
    */
  private def quantizedLloyd(df: DataFrame, idCol: String, vecCol: String,
                             centroidEvery: Int, rounds: Int,
                             quantScale: Double,
                             trainEvery: Int = 1,
                             maxCentroids: Int = DefaultMaxCentroids): (DataFrame, DataFrame) = {
    require(trainEvery >= 1, s"trainEvery must be positive, got $trainEvery")
    val v = df.select(col(idCol).as("id"),
      transform(col(vecCol),
        x => floor(x.cast("double") * quantScale + 0.5).cast("double")).as("__v"))
    // trainEvery > 1: the centroid-UPDATE passes see only the
    // deterministic id-sample (the pqTrain rationale — at 100 TB the Lloyd
    // refinement runs on a bounded sample); seeds and the FINAL assignment
    // still cover the full corpus, so every vector gets a cell.
    val tv = if (trainEvery <= 1) v else v.filter(col("id") % trainEvery === 0)
    // Centroid-mean update: one posexplode + two aggregations on the cell
    // key — linear in (assigned rows × dim), shared by both assignment
    // formulations below.
    def updateOf(trained: DataFrame): DataFrame = trained
      .select(col("cid"), posexplode(col("__v")).as(Seq("d", "x")))
      .groupBy(col("cid"), col("d"))
      .agg(sum(col("x")).as("s"), count(lit(1)).as("cnt"))
      .withColumn("m", floor(col("s") / col("cnt")).cast("double"))
      .groupBy(col("cid"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
        p => p.getField("m")).as("__cv"))
    val seeds = v.filter(col("id") % centroidEvery === 0)
      .select(col("id").as("cid"), col("__v").as("__cv"))
    if (maxCentroids <= 0) {
      // Legacy unbounded path (explicit opt-in): k ∝ n, so the centroid
      // relation can outgrow both the driver and the broadcast threshold —
      // keep everything lazy/distributed and pay the corpus×k join.
      def assignOf(src: DataFrame, cents: DataFrame): DataFrame =
        // argmax via max_by instead of a window: ordering (cs, -cid) is
        // unique per id (cid unique within a group), reproducing the
        // (cs desc, cid asc) tie-break exactly while the corpus×centroid
        // rows collapse in map-side partial aggregation rather than being
        // sort-shuffled at full width
        src.crossJoin(broadcast(cents))
          .withColumn("__cs", cosine(col("__v"), col("__cv")))
          .groupBy(col("id"))
          .agg(max_by(struct(col("cid"), col("__v")),
            struct(col("__cs"), -col("cid"))).as("__b"))
          .select(col("id"), col("__b.cid").as("cid"), col("__b.__v").as("__v"))
      var cents = seeds
      var trained = assignOf(tv, cents)
      for (_ <- 1 to rounds) {
        cents = updateOf(trained)
        trained = assignOf(tv, cents)
      }
      // Final full-corpus assignment against the trained centroids (lazy
      // plans: the last in-loop `trained` is never executed when unused).
      (assignOf(v, cents), cents)
    } else {
      // Budgeted (default) path: the centroid table is ≤ maxCentroids×dim
      // doubles — bounded driver state — so assignment runs as the compiled
      // Kernels.nearestCentroidCos narrow map (one dim×k loop per row, as
      // in ivfTopK) instead of a corpus×k cross-join: no
      // per-pair 64-dim array traffic, no join at all. Bit-parity with the
      // max_by-over-cosine formulation (and thus the DuckDB oracle replay)
      // is asserted in ExpressionsSpec. The per-round collect is the
      // train-side eager job the production regime expects (train once,
      // bounded k) — the FINAL corpus-wide assignment stays lazy.
      def collectCents(c: DataFrame): (Array[Long], Array[Array[Double]]) = {
        val rows = c.select(col("cid"), col("__cv")).collect()
          .map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).sortBy(_._1)
        require(rows.nonEmpty,
          s"quantizedLloyd: no centroid seeds (no $idCol % $centroidEvery == 0 ids)")
        (rows.map(_._1), rows.map(_._2))
      }
      def assignOf(src: DataFrame, cids: Array[Long],
                   cvs: Array[Array[Double]]): DataFrame =
        src.select(col("id"),
          graft.expressions.GraftFunctions
            .nearestCentroidCos(col("__v"), cvs, cids).as("cid"),
          col("__v"))
      var (cids, cvs) = collectCents(seeds.orderBy(col("cid")).limit(maxCentroids))
      for (_ <- 1 to rounds) {
        val t = collectCents(updateOf(assignOf(tv, cids, cvs)))
        cids = t._1; cvs = t._2
      }
      val spark = df.sparkSession
      import spark.implicits._
      val centsDf = cids.zip(cvs).toSeq
        .map { case (c, cv) => (c, cv.toSeq) }.toDF("cid", "__cv")
      (assignOf(v, cids, cvs), centsDf)
    }
  }

  /** Prototypicality-based data pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws: beating power law scaling via data pruning"):
    * cluster the embedding space, rank each vector by its cosine to its
    * cluster centroid, and KEEP the least prototypical `keepPct`% of every
    * cell — the paper's result is that with abundant data the hard
    * (far-from-prototype) examples are the ones worth training on, and
    * pruning easy prototypical mass beats random subsampling.
    *
    * `proto_rank` 1 = farthest from the centroid (hardest). The keep rule
    * `(rank-1)·100 < keepPct·cellN` is exact integer arithmetic — i.e.
    * rank ≤ ceil(keepPct·cellN/100) — so the whole pipeline (shared
    * [[quantizedLloyd]] core included) stays externally replayable
    * bit-for-bit. Per-cell ranking is one window on the cell key; nothing
    * pairwise anywhere — this prunes at corpus-linear cost.
    */
  def prototypePrune(df: DataFrame, idCol: String, vecCol: String,
                     keepPct: Int = 50, centroidEvery: Int = 25,
                     rounds: Int = 1, quantScale: Double = 65536.0,
                     trainEvery: Int = 1, maxCentroids: Int = DefaultMaxCentroids): DataFrame = {
    require(keepPct >= 0 && keepPct <= 100, s"keepPct out of range: $keepPct")
    val (assigned, cents) =
      quantizedLloyd(df, idCol, vecCol, centroidEvery, rounds, quantScale,
        trainEvery, maxCentroids)
    val w = Window.partitionBy(col("cid"))
    val wRank = w.orderBy(col("__cs").asc, col("id").asc)
    assigned.join(broadcast(cents), Seq("cid"))
      .withColumn("__cs", cosine(col("__v"), col("__cv")))
      .withColumn("proto_rank", row_number().over(wRank))
      .withColumn("__n", count(lit(1)).over(w))
      .select(col("id").as(idCol), col("cid").as("cell"),
        col("proto_rank").cast("long").as("proto_rank"),
        ((col("proto_rank") - 1) * 100 < col("__n") * keepPct).as("kept"))
  }
}
