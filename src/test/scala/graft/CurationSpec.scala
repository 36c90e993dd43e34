package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.functions._
import graft.functions.UrlFunctions
import graft.operators.{Contamination, Importance, Profile}
import graft.sources.Warc

/** Round-5 curation surfaces: Bloom decontamination, DSIR importance
  * weighting, length histograms, URL hygiene, WARC/WET round-trip.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  // ---------------------------------------------------------------- bloom

  private val benchDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"))
  private val corpusDocs = benchDocs ++ Seq(
    (3L, "prefix words then quick brown fox jumps over suffix"), // shares a 5-gram with doc 1
    (4L, "completely unrelated text about nothing in particular at all"),
    (5L, "another innocent document with its own distinct vocabulary here"))

  test("bloom decontamination flags every exactly-contaminated doc") {
    val docs = corpusDocs.toDF("doc_id", "text")
    val bench = docs.filter($"doc_id" <= 2)
    val exact = Contamination.contaminatedIds(docs, "doc_id", "text", bench, "text", n = 5)
      .as[Long].collect().toSet
    assert(exact == Set(1L, 2L, 3L))
    val bits = Contamination.bloomBuild(bench, "text", n = 5, k = 3, m = 1 << 20)
    val flagged = Contamination.bloomContaminatedIds(docs, "doc_id", "text", bits,
      n = 5, k = 3, m = 1 << 20)
      .select("doc_id").as[Long].collect().toSet
    // no false negatives ever; m = 2^20 over ~10 grams -> no false positives
    assert(flagged == exact)
  }

  test("bloomDecontaminate is never looser than exact decontamination") {
    val docs = corpusDocs.toDF("doc_id", "text")
    val bench = docs.filter($"doc_id" <= 2)
    val exactKept = Contamination.decontaminate(docs, "doc_id", "text", bench, "text", n = 5)
      .select("doc_id").as[Long].collect().toSet
    // tiny m = 64 forces false positives; kept set must stay a SUBSET
    val bloomKept = Contamination.bloomDecontaminate(docs, "doc_id", "text",
      bench, "text", n = 5, k = 3, m = 64)
      .select("doc_id").as[Long].collect().toSet
    assert(bloomKept.subsetOf(exactKept))
  }

  // ----------------------------------------------------------------- dsir

  private val targetLike = (0L until 6L).map(i =>
    (i, "alpha beta gamma delta alpha beta", "tgt"))
  private val offTarget = (6L until 12L).map(i =>
    (i, "zulu yankee xray whiskey victor uniform", "raw"))

  test("DSIR log-weights rank target-like docs above off-target docs") {
    val raw = (targetLike ++ offTarget).toDF("doc_id", "text", "kind")
    val target = raw.filter($"kind" === "tgt").select($"doc_id", $"text")
    val scored = Importance.importanceScores(raw, "doc_id", "text", target, "text")
      .join(raw.select($"doc_id", $"kind"), "doc_id")
      .select($"kind", $"log_weight").as[(String, Double)].collect()
    val tgtMin = scored.collect { case ("tgt", w) => w }.min
    val rawMax = scored.collect { case ("raw", w) => w }.max
    assert(tgtMin > rawMax,
      s"target-like min $tgtMin should exceed off-target max $rawMax")
  }

  test("portable integer scorer ranks like the log scorer") {
    val mixed = (0L until 12L).map { i =>
      val nTgt = i.toInt % 4
      val words = Seq.fill(nTgt)("alpha beta") ++ Seq.fill(4 - nTgt)("zulu yankee")
      (i, words.mkString(" "))
    }
    val raw = mixed.toDF("doc_id", "text")
    val target = Seq((100L, "alpha beta alpha beta alpha")).toDF("doc_id", "text")
    def ranking(df: org.apache.spark.sql.DataFrame, score: String) =
      df.orderBy(col(score).desc, col("doc_id")).select("doc_id").as[Long].collect().toSeq
    val logRank = ranking(
      Importance.importanceScores(raw, "doc_id", "text", target, "text", buckets = 128),
      "log_weight")
    val intRank = ranking(
      Importance.importanceScoresPortable(raw, "doc_id", "text", target, "text", buckets = 128),
      "score_scaled")
    // same top tier: the 3-alpha-pair docs (i % 4 == 3) lead both rankings
    assert(logRank.take(3).toSet == intRank.take(3).toSet)
    assert(logRank.take(3).forall(_ % 4 == 3))
  }

  test("resampleTop keeps the ceiling slice deterministically") {
    val scored = (1L to 10L).map(i => (i, i.toDouble)).toDF("doc_id", "s")
    val kept = Importance.resampleTop(scored, "doc_id", "s", keepPct = 25)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 9L, 8L)) // ceil(10 * 0.25) = 3, highest scores
  }

  // ------------------------------------------------------- mixing / audit

  test("temperatureMixWeights: sqrt re-balance with exact integer allocation") {
    // 100 vs 400 docs: raw ratio 1:4, sqrt ratio 1:2 — the tail source
    // gets twice its proportional share
    val df = (Seq.fill(100)("small") ++ Seq.fill(400)("big")).toDF("src")
    val got = graft.operators.Sampling.temperatureMixWeights(
        df, col("src"), epochSize = 3000L)
      .orderBy("source")
      .select("source", "n_docs", "w_scaled", "alloc")
      .as[(String, Long, Long, Long)].collect().toSeq
    // w_scaled: floor(1e6*sqrt(400))=20000000, floor(1e6*sqrt(100))=10000000
    assert(got == Seq(
      ("big", 400L, 20000000L, 2000L),
      ("small", 100L, 10000000L, 1000L)))
  }

  test("crossSourceOverlap counts distinct shared fingerprints per pair") {
    val docs = Seq(
      ("A", "shared one"), ("A", "shared one"), // dup WITHIN source: distinct-collapsed
      ("A", "shared  ONE "),                    // canonicalizes to the same fp
      ("B", "shared one"), ("B", "shared two"),
      ("C", "shared two"), ("C", "only in c"))
      .toDF("source", "text")
    val got = graft.operators.NearDedup.crossSourceOverlap(docs, "text", "source")
      .orderBy("source_a", "source_b")
      .as[(String, String, Long)].collect().toSeq
    assert(got == Seq(("A", "B", 1L), ("B", "C", 1L)))
  }

  test("dedupAgainstSnapshot drops prior fingerprints then dedups the batch") {
    val prior = Seq((1L, "released doc one"), (2L, "released doc two")).toDF("id", "t")
    val fresh = Seq(
      (10L, "released  DOC one"),   // canonical dup of prior -> dropped
      (11L, "genuinely new"),
      (12L, "genuinely new"),       // in-batch dup -> min-id survives
      (13L, "another fresh one")).toDF("id", "t")
    val kept = graft.operators.NearDedup
      .dedupAgainstSnapshot(fresh, "id", "t", prior, "t")
      .select("id").as[Long].collect().toSet
    assert(kept == Set(11L, 13L))
  }

  test("portable minhash hot-bucket cap drops a degenerate identical-docs bucket whole") {
    import graft.operators.NearDedup
    // 40 byte-identical docs collapse onto ONE (band, bk) bucket per band:
    // before the round-12 cap this band self-join squared (40·39/2 pairs
    // per band); with maxBucketSize below the bucket size the bucket is
    // excluded WHOLE and the degenerate corpus yields zero candidates
    val clones = (1L to 40L).map(i => (i, "the same boilerplate sentence repeated verbatim"))
    val docs = clones.toDF("doc_id", "text")
    val capped = NearDedup.minhashPairs(docs, "doc_id", "text",
      maxBucketSize = 10)
    assert(capped.count() == 0L, "hot bucket not excluded whole")
    // with the cap above the bucket size the full clique comes back —
    // the rule is whole-bucket, deterministic, and threshold-exact
    val uncapped = NearDedup.minhashPairs(docs, "doc_id", "text",
      maxBucketSize = 40)
    assert(uncapped.count() == 40L * 39 / 2)
    // a mixed corpus: the degenerate cluster is dropped, an honest dup
    // pair elsewhere still surfaces (the cap is per-bucket, not global —
    // identical texts guarantee every band collides, bucket size 2 ≤ 10)
    val mixed = docs.unionByName(Seq(
      (100L, "an entirely distinct document about topographic map making"),
      (101L, "an entirely distinct document about topographic map making")).toDF("doc_id", "text"))
    val pairs = NearDedup.minhashPairs(mixed, "doc_id", "text",
      maxBucketSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((100L, 101L)), s"expected only the honest pair, got $pairs")
  }

  test("sign-LSH hot-bucket cap drops a bucket of identical vectors whole") {
    import graft.functions.VectorFunctions
    // n identical vectors share one (table, signature) bucket in every
    // table; a few distinct vectors sit elsewhere. Over the cap the clone
    // buckets are dropped whole, so neither the pair search nor the top-k
    // ever sees a clone; under it the full clique comes back.
    val clone = Seq(0.3, -1.2, 0.7, 2.0)
    val rnd = new scala.util.Random(5)
    val others = (1001L to 1010L).map(i => (i, Seq.fill(4)(rnd.nextGaussian())))
    def corpus(n: Int) = ((1L to n).map(i => (i, clone)) ++ others).toDF("id", "v")
    def pairs(n: Int) = VectorFunctions.cosineNearDupPairs(corpus(n), "id", "v", dim = 4,
      threshold = 0.999, bits = 4, tables = 4, maxBucketSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def neighbours(n: Int, cap: Int) = VectorFunctions.lshTopK(corpus(n),
        Seq((0L, clone)).toDF("id", "v"), "id", "v", dim = 4, k = 3, bits = 4, tables = 4,
        maxBucketSize = cap)
      .select("neighbor_id").as[Long].collect().toSeq

    assert(pairs(40).isEmpty, "a 40-clone bucket survived a cap of 10")
    assert(!neighbours(40, cap = 10).exists(_ <= 40L), "a clone survived a cap of 10")
    assert(neighbours(40, cap = 100).toSet == Set(1L, 2L, 3L))
    assert(pairs(5) == (for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)).toSet)
  }

  test("bucketPairs equals the capped bucket self-join it replaced, dropped-bucket metrics too") {
    import org.apache.spark.sql.{DataFrame, Row}
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.LongType
    import graft.operators.NearDedup
    val cap = 4
    val keys = Seq("band", "bk")
    val refSeq = new java.util.concurrent.atomic.AtomicLong(0L)
    // The pair search bucketPairs replaced, as the reference: the window
    // count once per self-join side, the dropped-bucket observe on one.
    def selfJoinPairs(buckets: DataFrame): DataFrame = {
      val hot = col("__n") > cap
      val counted = buckets.withColumn("__n", count(lit(1)).over(Window.partitionBy(keys.map(col): _*)))
      val observed = counted.observe(s"lsh_dropped_buckets_ref${refSeq.incrementAndGet()}",
        round(sum(when(hot, lit(1.0) / col("__n")).otherwise(lit(0.0))))
          .cast(LongType).as("dropped_buckets"),
        sum(when(hot, lit(1L)).otherwise(lit(0L))).as("dropped_rows"))
      val a = observed.filter(!hot).select(col("band"), col("bk"), col("id").as("id_a"))
      val b = counted.filter(!hot).select(col("band"), col("bk"), col("id").as("id_b"))
      a.join(b, keys).filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct()
    }
    val events = new java.util.concurrent.LinkedBlockingQueue[Map[String, Row]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit =
        events.add(qe.observedMetrics.filter(_._1.startsWith("lsh_dropped_buckets_")))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    // (pair set, (dropped_buckets, dropped_rows) if the plan reported them)
    def run(pairs: DataFrame): (Set[(Any, Any)], Option[(Long, Long)]) = {
      events.clear()
      val got = pairs.select("id_a", "id_b").collect().map(r => (r.get(0), r.get(1))).toSet
      val metrics = Option(events.poll(10, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(fail("no query-execution event after the action"))
      assert(metrics.size <= 1, s"more than one dropped-bucket observe: $metrics")
      (got, metrics.values.headOption.map(r =>
        (r.getAs[Long]("dropped_buckets"), r.getAs[Long]("dropped_rows"))))
    }
    def check(label: String, buckets: DataFrame, isEmpty: Boolean = false): Unit = {
      val (got, gotDrops) = run(NearDedup.bucketPairs(NearDedup.windowCapped(buckets, keys, cap), keys))
      val (want, wantDrops) = run(selfJoinPairs(buckets))
      val (extra, missing) = (got -- want, want -- got)
      assert(extra.isEmpty && missing.isEmpty, s"$label: extra pairs $extra, missing pairs $missing")
      // An empty input lets the optimizer replace the reference's whole
      // join, observe included, by an empty relation; an observe that
      // still runs there must read zero.
      if (isEmpty) assert((gotDrops ++ wantDrops).forall(_ == ((0L, 0L))),
        s"$label: dropped-bucket metrics $gotDrops vs $wantDrops")
      else assert(gotDrops == wantDrops, s"$label: dropped-bucket metrics $gotDrops vs $wantDrops")
    }
    // Buckets of 1, 2, cap and cap + 1 rows, a repeated id inside a bucket,
    // a null id and ids shared across buckets, then a random mix over a
    // few keys.
    val edge: Seq[(Int, String, Option[Long])] =
      Seq((0, "a", Some(1L))) ++
      Seq(2L, 3L).map(i => (0, "b", Some(i))) ++
      (4L to 7L).map(i => (0, "c", Some(i))) ++
      (8L to 12L).map(i => (0, "d", Some(i))) ++
      Seq(3L, 2L, 2L).map(i => (1, "a", Some(i))) ++
      Seq(None, Some(5L), Some(4L)).map(i => (1, "b", i)) ++
      Seq(2L, 3L, 9L).map(i => (1, "c", Some(i)))
    val rnd = new scala.util.Random(12)
    val mixed = Seq.fill(200)((rnd.nextInt(3), s"k${rnd.nextInt(40)}", Some(rnd.nextInt(120).toLong)))
    val longIds = (edge ++ mixed).toDF("band", "bk", "id")
    // String ids order as strings: "10" < "9", so the sorted list and the
    // id_a < id_b filter must agree on that order.
    val stringIds = longIds.withColumn("id", col("id").cast("string"))
    val empty = longIds.limit(0)
    spark.listenerManager.register(listener)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      for (adaptive <- Seq("true", "false")) {
        spark.conf.set("spark.sql.adaptive.enabled", adaptive)
        check(s"long ids, AQE $adaptive", longIds)
        check(s"string ids, AQE $adaptive", stringIds)
        check(s"empty input, AQE $adaptive", empty, isEmpty = true)
      }
      // the edge buckets alone, spelled out: sizes 1 and cap + 1 give no
      // pair, the repeated and the null id pair only with the other ids,
      // and the one hot bucket is observed with its 5 rows
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      val (edgePairs, edgeDrops) = run(NearDedup.bucketPairs(
        NearDedup.windowCapped(edge.toDF("band", "bk", "id"), keys, cap), keys))
      assert(edgePairs == Set[(Any, Any)]((2L, 3L), (4L, 5L), (4L, 6L), (4L, 7L), (5L, 6L),
        (5L, 7L), (6L, 7L), (2L, 9L), (3L, 9L)), s"edge pairs $edgePairs")
      assert(edgeDrops.contains((1L, 5L)), s"edge dropped-bucket metrics $edgeDrops")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.listenerManager.unregister(listener)
    }
  }

  test("hammingPairs64 drops an over-cap chunk bucket whole and observes it as the aggregate cap did") {
    import org.apache.spark.sql.{DataFrame, Row}
    import graft.operators.NearDedup
    val events = new java.util.concurrent.LinkedBlockingQueue[Map[String, Row]]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit =
        events.add(qe.observedMetrics.filter(_._1.startsWith("lsh_dropped_buckets_")))
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    // (id_a, id_b, hamming) rows and the reported (dropped_buckets, dropped_rows)
    def run(pairs: DataFrame): (Set[(Any, Any, Int)], Option[(Long, Long)]) = {
      events.clear()
      val got = pairs.collect().map(r => (r.get(0), r.get(1), r.getInt(2))).toSet
      val metrics = Option(events.poll(10, java.util.concurrent.TimeUnit.SECONDS))
        .getOrElse(fail("no query-execution event after the action"))
      assert(metrics.size <= 1, s"more than one dropped-bucket observe: $metrics")
      (got, metrics.values.headOption.map(r =>
        (r.getAs[Long]("dropped_buckets"), r.getAs[Long]("dropped_rows"))))
    }
    def brute(sigs: Seq[(Long, Long)], budget: Int): Set[(Any, Any, Int)] =
      (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
        d = java.lang.Long.bitCount(sa ^ sb) if d <= budget
      } yield (ia, ib, d)).toSet
    // The all-flat hash-0 class (12 rows) and a one-bit neighbour share the
    // value-0 chunk buckets: (0, 0) holds 12 rows, (1..3, 0) hold 13. A far
    // pair at distance 1 lives in buckets of its own.
    val zeros = (1L to 12L).map(i => (i, 0L))
    val sigs = zeros ++ Seq((20L, 1L), (30L, 0x0F0F0F0F0F0F0F0FL), (31L, 0x0F0F0F0F0F0F0F0EL))
    spark.listenerManager.register(listener)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // over the cap: the four value-0 buckets are dropped whole, so the
      // zeros and their neighbour pair with nothing; the aggregate cap
      // reported 4 buckets of 12 + 13 + 13 + 13 rows
      val (capped, cappedDrops) = run(NearDedup.hammingPairs64(sigs.toDF("id", "sig"),
        maxHamming = 3, maxBucketSize = 10))
      assert(capped == Set[(Any, Any, Int)]((30L, 31L, 1)), s"capped pairs $capped")
      assert(cappedDrops.contains((4L, 51L)), s"capped dropped-bucket metrics $cappedDrops")
      // within the cap: the uncapped result, nothing dropped
      val (uncapped, uncappedDrops) = run(NearDedup.hammingPairs64(sigs.toDF("id", "sig"),
        maxHamming = 3, maxBucketSize = 13))
      assert(uncapped == brute(sigs, 3), s"uncapped pairs ${uncapped -- brute(sigs, 3)}")
      assert(uncapped.size == 66 + 12 + 1)
      assert(uncappedDrops.contains((0L, 0L)), s"uncapped dropped-bucket metrics $uncappedDrops")
      // every bucket dropped: AQE's empty-relation propagation may prune
      // the observe, so this case runs with AQE off (as in LlmOpsSpec)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val (none, noneDrops) = run(NearDedup.hammingPairs64(zeros.toDF("id", "sig"),
        maxHamming = 3, maxBucketSize = 10))
      assert(none.isEmpty, s"all-dropped pairs $none")
      assert(noneDrops.contains((4L, 48L)), s"all-dropped dropped-bucket metrics $noneDrops")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
      spark.listenerManager.unregister(listener)
    }
    // a repeated id pairs with the other ids, never with itself
    val repeated = NearDedup.hammingPairs64(Seq((5L, 0L), (5L, 1L), (6L, 3L)).toDF("id", "sig"))
      .as[(Long, Long, Int)].collect().toSet
    assert(repeated == Set((5L, 6L, 2), (5L, 6L, 1)), s"repeated-id pairs $repeated")
    // string ids order as strings: "10" < "9"
    val strings = NearDedup.hammingPairs64(Seq(("9", 0L), ("10", 1L), ("a", -1L)).toDF("id", "sig"))
      .as[(String, String, Int)].collect().toSet
    assert(strings == Set(("10", "9", 1)), s"string-id pairs $strings")
    // a null signature, a null id and a null text appear in no pair
    val nulls = NearDedup.hammingPairs64(
        Seq((Some(7L), None), (Some(8L), Some(0L)), (Some(9L), Some(0L)), (None, Some(0L)))
          .toDF("id", "sig"))
      .as[(Long, Long, Int)].collect().toSet
    assert(nulls == Set((8L, 9L, 0)), s"null-signature pairs $nulls")
    val texts = NearDedup.simhashPairs(
        Seq((1L, Some("a b")), (2L, None), (3L, Some("a b"))).toDF("id", "text"), "id", "text")
      .as[(Long, Long, Int)].collect().toSet
    assert(texts == Set((1L, 3L, 0)), s"null-text pairs $texts")
  }

  test("topKPerGroup keeps exactly k under a deterministic order") {
    val df = Seq(("a", 1L, 10L), ("a", 2L, 30L), ("a", 3L, 30L), ("a", 4L, 5L),
      ("b", 5L, 1L)).toDF("g", "id", "score")
    val got = graft.operators.Grouping.topKPerGroup(
        df, Seq(col("g")), k = 2, Seq(col("score").desc, col("id").asc))
      .select("g", "id", "rk").as[(String, Long, Int)].collect().toSet
    assert(got == Set(("a", 2L, 1), ("a", 3L, 2), ("b", 5L, 1)))
  }

  // ------------------------------------------------------------ histogram

  test("lengthHistogram buckets on exact integer floor(log2)") {
    val docs = Seq(1L, 2L, 3L, 4L, 7L, 8L).map(n => Tuple1(n)).toDF("len")
    val h = Profile.lengthHistogram(docs, $"len")
      .orderBy("bucket")
      .select("bucket", "n_docs", "total_tokens", "min_len", "max_len", "bucket_lo")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(h == Seq(
      (0L, 1L, 1L, 1L, 1L, 1L),
      (1L, 2L, 5L, 2L, 3L, 2L),
      (2L, 2L, 11L, 4L, 7L, 4L),
      (3L, 1L, 8L, 8L, 8L, 8L)))
  }

  // --------------------------------------------------------------- gopher

  test("gopherRules: every counter and the keep verdict on crafted docs") {
    val good = ("good sentence text with the and that have " +
      Seq.tabulate(12)(i => s"word$i more lines here too").mkString(" "))
    val docs = Seq(
      (1L, good),                                    // passes everything
      (2L, "too short with the and"),                // fails min word count
      (3L, good + " ## ### " + "# " * 20),           // symbol soup
      (4L, good + "\n" + Seq.fill(30)("- bullet").mkString("\n")), // bullet wall
      (5L, ("99 88 77 " * 30) + "the of and"))       // numeric: alpha fraction < 80%
      .toDF("doc_id", "text")
    val got = graft.functions.TextFunctions
      .gopherRules(docs, "text", minWords = 40)
      .orderBy("doc_id")
      .select("doc_id", "keep", "n_symbols", "bullet_lines", "alpha_words", "n_stop")
      .collect()
    assert(got.map(_.getBoolean(1)).toSeq == Seq(true, false, false, false, false))
    assert(got(2).getLong(2) >= 25L)  // hashes counted
    assert(got(3).getLong(3) == 30L)  // bullet lines counted
    val r5 = got(4)
    assert(r5.getLong(4) * 10 < 8 * 93) // alpha words well under 80%
    assert(got(0).getLong(5) >= 4L)     // the/with/and/that/have present
  }

  test("gopherRules ellipsis and mean-word-length boundaries") {
    val base = Seq.fill(50)("word").mkString(" ") + " the of"
    val docs = Seq(
      (1L, base + "\nfading away...\nalso gone...\nand this one too..."),
      (2L, Seq.fill(60)("a").mkString(" ") + " the of")) // mean word length 1
      .toDF("doc_id", "text")
    val got = graft.functions.TextFunctions
      .gopherRules(docs, "text", minWords = 10)
      .orderBy("doc_id")
      .select("doc_id", "keep", "ellipsis_lines", "sum_chars", "n_words")
      .collect()
    assert(got(0).getLong(2) == 3L)
    assert(!got(0).getBoolean(1)) // 3 of 4 lines end in ellipsis > 30%
    val r2 = got(1)
    assert(!r2.getBoolean(1) && r2.getLong(3) < 3 * r2.getLong(4)) // too-short words
  }

  // ------------------------------------------------------------------ url

  private def canon1(url: String): String =
    Seq(Tuple1(url)).toDF("u")
      .select(UrlFunctions.urlCanonicalize($"u")).as[String].head()

  test("urlCanonicalize normalizes case, ports, tracking params, fragments") {
    assert(canon1("HTTPS://User@WWW.Example.CO.UK:443/Path/x?utm_source=a&q=1&fbclid=z#frag")
      == "https://www.example.co.uk/Path/x?q=1")
    assert(canon1("http://example.com:8080") == "http://example.com:8080/")
    assert(canon1("http://Example.com:80/a%20b?x=1&utm_x=2&gclid=c") == "http://example.com/a%20b?x=1")
    assert(canon1("https://example.org/?utm_campaign=only") == "https://example.org/")
    assert(canon1("not a url") == "not a url") // schemeless passthrough
    // a '?' INSIDE the fragment is fragment content, not a query
    assert(canon1("https://app.example.com/#/search?q=x") == "https://app.example.com/")
  }

  test("registeredDomain applies the multi-label suffix heuristic") {
    val got = Seq("a.b.src3.co.uk", "www.example.org", "example.org", "localhost",
      "93.184.216.34", "[2001:db8::1]")
      .map(h => Seq(Tuple1(h)).toDF("h")
        .select(UrlFunctions.registeredDomain($"h")).as[String].head())
    assert(got == Seq("src3.co.uk", "example.org", "example.org", "localhost",
      "93.184.216.34", "[2001:db8::1]")) // IP literals pass through whole
  }

  test("blockByDomain drops exactly the blocklisted registered domains") {
    val rows = Seq(
      (1L, "https://a.src3.co.uk/x"), (2L, "http://keep.example.org/y"),
      (3L, "https://www.src7.org:443/z?q=1")).toDF("id", "url")
    val kept = UrlFunctions.blockByDomain(rows, $"url", Seq("src3.co.uk", "SRC7.org"))
      .select("id").as[Long].collect().toSet
    assert(kept == Set(2L))
  }

  // ----------------------------------------------------- layout / retrieval

  test("zorderKey interleaves bits; zorderSort clusters both dimensions") {
    import graft.operators.Layout
    val k = Seq((3L, 5L)).toDF("a", "b")
      .select(Layout.zorderKey($"a", $"b", 4)).as[Long].head()
    // a=0011, b=0101 -> interleaved (b3 a3 b2 a2 b1 a1 b0 a0) = 00100111
    assert(k == 39L)
    val grid = (for (a <- 0L until 16L; b <- 0L until 16L) yield (a, b)).toDF("a", "b")
    val sorted = Layout.zorderSort(grid, $"a", $"b", numPartitions = 4, bits = 4)
    // each partition's (a, b) envelope must cover < the full 16x16 domain
    // on BOTH axes combined — the file-skipping property
    val spans = sorted.select(spark_partition_id().as("p"), $"a", $"b")
      .groupBy("p").agg((max($"a") - min($"a")).as("sa"), (max($"b") - min($"b")).as("sb"))
      .as[(Int, Long, Long)].collect()
    assert(spans.length == 4)
    assert(spans.forall { case (_, sa, sb) => sa + sb <= 23 },
      s"unclustered partitions: ${spans.toSeq}") // random layout would be ~30
  }

  test("sparseTfIdfTopK ranks by shared rare terms, integer-exact") {
    val docs = Seq(
      (1L, "alpha beta common"),          // query
      (2L, "alpha beta common extra"),    // shares rare alpha+beta -> best
      (3L, "alpha common common filler"), // shares rare alpha
      (4L, "common filler filler filler"),// shares only the stop-ish term
      (5L, "nothing shared here at all"))
      .toDF("doc_id", "text")
    val got = graft.operators.Retrieval.sparseTfIdfTopK(
        docs, "doc_id", "text", docs.filter($"doc_id" === 1), k = 3)
      .orderBy("rank")
      .select("doc_id", "rank").as[(Long, Int)].collect().toSeq
    assert(got.map(_._1) == Seq(2L, 3L, 4L))
    // maxDf = 2 prunes both 'common' (df 4) and 'alpha' (df 3): only the
    // beta posting list survives, so doc 2 is the sole remaining match
    val pruned = graft.operators.Retrieval.sparseTfIdfTopK(
        docs, "doc_id", "text", docs.filter($"doc_id" === 1), k = 3, maxDf = 2L)
      .select("doc_id").as[Long].collect().toSet
    assert(pruned == Set(2L))
  }

  test("champion-list index truncates postings by tf, keeps full-corpus weights") {
    // maxPostings=1 keeps only each term's single highest-tf doc (ties to
    // the lower doc id); df/weights stay computed from the FULL corpus.
    // 'common': doc 4 has tf=3 (others 1) -> only doc 4 survives its list.
    // 'alpha': tf=1 everywhere -> tie-break keeps doc 1 (the query itself,
    // excluded from its own results), so alpha contributes NO candidate.
    val docs = Seq(
      (1L, "alpha beta common"),
      (2L, "alpha beta common extra"),
      (3L, "alpha common beta filler"),
      (4L, "common common common filler"))
      .toDF("doc_id", "text")
    val champs = graft.operators.Retrieval.sparseTfIdfTopK(
        docs, "doc_id", "text", docs.filter($"doc_id" === 1), k = 4,
        maxPostings = 1)
      .select("doc_id", "score").as[(Long, Long)].collect().toMap
    // beta's list keeps doc 1 (tf ties, lowest id) -> excluded as self;
    // common's list keeps doc 4 only -> the single candidate
    assert(champs.keySet == Set(4L), s"champion candidates: $champs")
    // weight of 'common' must use the FULL df (4 docs -> w = 250000), not
    // the truncated df (1 doc -> w = 1000000): score = qtf·tf·w = 1·3·250000
    assert(champs(4L) == 750000L, s"champion score used truncated df: $champs")
    // and the truncation is the only change: maxPostings=0 ranks all docs
    val full = graft.operators.Retrieval.sparseTfIdfTopK(
        docs, "doc_id", "text", docs.filter($"doc_id" === 1), k = 4)
      .select("doc_id").as[Long].collect().toSet
    assert(full == Set(2L, 3L, 4L))
  }

  // ------------------------------------------------------ unicode / script

  test("unicodeNormalize composes decomposed sequences (NFC) and folds compat (NFKC)") {
    val df = Seq(
      ("café", 1L), ("naïve", 2L), ("already clean", 3L),
      ("ﬁne ①", 4L)) // fi-ligature + circled one
      .toDF("t", "id")
    def norm(form: String) = df.orderBy("id")
      .select(graft.expressions.GraftFunctions.unicodeNormalize($"t", form))
      .as[String].collect().toSeq
    assert(norm("NFC") == Seq("café", "naïve", "already clean", "ﬁne ①"))
    assert(norm("NFKC") == Seq("café", "naïve", "already clean", "fine 1"))
    intercept[IllegalArgumentException] {
      graft.expressions.GraftFunctions.unicodeNormalize($"t", "NOPE")
    }
  }

  test("scriptProfile counts per block and breaks ties in listed order") {
    val docs = Seq(
      (1L, "hello world"),
      (2L, "привет мир"),
      (3L, "你好 こんにちは"),
      (4L, "abc привет"),   // latin 3 vs cyrillic 6 -> cyrillic
      (5L, "ab вг"),        // 2 vs 2 tie -> latin (listed first)
      (6L, "123 !!!"))      // no scripted chars -> none
      .toDF("doc_id", "text")
    val got = graft.functions.TextFunctions.scriptProfile(docs, "text")
      .orderBy("doc_id")
      .select("doc_id", "latin", "cyrillic", "cjk", "dominant")
      .as[(Long, Long, Long, Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, 10L, 0L, 0L, "latin"),
      (2L, 0L, 9L, 0L, "cyrillic"),
      (3L, 0L, 0L, 7L, "cjk"),
      (4L, 3L, 6L, 0L, "cyrillic"),
      (5L, 2L, 2L, 0L, "latin"),
      (6L, 0L, 0L, 0L, "none")))
  }

  // ----------------------------------------------------------------- warc

  test("parseRecords reads hand-built members and rejects truncation") {
    val payload = "héllo wörld"
    val body = payload.getBytes(UTF_8)
    val rec = ("WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: http://x/1\r\n" +
      s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++ body ++ "\r\n\r\n".getBytes(UTF_8)
    val parsed = Warc.parseRecords(rec ++ rec)
    assert(parsed.map(_.payload) == Seq(payload, payload))
    assert(parsed.head.contentLength == body.length && parsed.head.targetUri == "http://x/1")
    intercept[IllegalArgumentException] {
      Warc.parseRecords(rec.dropRight(6)) // cut into the payload
    }
  }

  test("WET members stream in incrementally, one shard per arrival") {
    val dir = tmp("wet_stream")
    def member(uri: String, payload: String): Array[Byte] = {
      val body = payload.getBytes(UTF_8)
      (s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $uri\r\n" +
        s"Content-Length: ${body.length}\r\n\r\n").getBytes(UTF_8) ++
        body ++ "\r\n\r\n".getBytes(UTF_8)
    }
    val q = Warc.readWetStream(spark, dir)
      .writeStream.format("memory").queryName("wet_stream").outputMode("append")
      .start()
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "shard1.warc"), member("u://1", "first shard"))
      q.processAllAvailable()
      assert(spark.table("wet_stream").count() == 1)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "shard2.warc"),
        member("u://2", "second") ++ member("u://3", "third"))
      q.processAllAvailable()
      val got = spark.table("wet_stream")
        .select("target_uri", "payload").as[(String, String)].collect().toSet
      assert(got == Set(("u://1", "first shard"), ("u://2", "second"), ("u://3", "third")))
    } finally q.stop()
  }

  test("WET round-trip survives tricky payloads across partitions") {
    val tricky = "line one\nWARC/1.0\r\nContent-Length: 3\r\n\r\nabc" // header-lookalike INSIDE a payload
    val docs = Seq(
      (1L, "plain ascii text"),
      (2L, "héllo wörld ☃"),
      (3L, tricky)).toDF("doc_id", "text")
      .select(concat(lit("https://c.local/doc/"), $"doc_id").as("uri"), $"text")
      .repartition(2)
    val dir = tmp("wet_roundtrip")
    Warc.writeWet(docs, "uri", "text", dir)
    val back = Warc.readWet(spark, dir)
      .select(regexp_extract($"target_uri", "([0-9]+)$", 1).cast("long").as("doc_id"),
        $"warc_type", $"content_length", $"payload")
      .orderBy("doc_id")
      .as[(Long, String, Long, String)].collect().toSeq
    assert(back.map(_._1) == Seq(1L, 2L, 3L))
    assert(back.forall(_._2 == "conversion"))
    assert(back.map(_._4) == Seq("plain ascii text", "héllo wörld ☃", tricky))
    assert(back.map(_._3) == back.map(_._4.getBytes(UTF_8).length.toLong))
  }

  test("WET sink strips CR/LF from URIs so headers can't desynchronize") {
    // a hostile URI containing \r\n\r\n would otherwise end the header
    // block early and corrupt Content-Length framing for the whole member
    val docs = Seq(
      ("https://evil.local/a\r\nContent-Length: 9999\r\n\r\nfake", "payload one"),
      ("https://ok.local/b", "payload two")).toDF("uri", "text")
    val dir = tmp("wet_crlf")
    Warc.writeWet(docs, "uri", "text", dir)
    val back = Warc.readWet(spark, dir)
      .select($"target_uri", $"payload").orderBy("payload")
      .as[(String, String)].collect().toSeq
    assert(back.map(_._2) == Seq("payload one", "payload two"))
    assert(back.head._1 == "https://evil.local/aContent-Length: 9999fake")
  }

  test("exactQuantilesLong matches quantile_disc semantics incl. ties and edges") {
    // 1..10: P50 -> ceil(0.5*10)=rank 5 -> value 5; P99 -> rank 10; P10 -> rank 1
    val d1 = (1 to 10).toDF("v")
    val q1 = graft.operators.Profile.exactQuantilesLong(d1, $"v", Seq(10, 50, 99, 100))
      .select($"pct", $"value").as[(Int, Long)].collect().toMap
    assert(q1 == Map(10 -> 1L, 50 -> 5L, 99 -> 10L, 100 -> 10L))
    // heavy ties: 90x value 7, 10x value 9 — P90 is the smallest value whose
    // cumulative count reaches 90 (=7); P91 crosses into 9
    val d2 = (Seq.fill(90)(7) ++ Seq.fill(10)(9)).toDF("v")
    val q2 = graft.operators.Profile.exactQuantilesLong(d2, $"v", Seq(90, 91))
      .select($"pct", $"value", $"cum_n", $"n").as[(Int, Long, Long, Long)]
      .collect().map(r => r._1 -> r).toMap
    assert(q2(90) == ((90, 7L, 90L, 100L)))
    assert(q2(91) == ((91, 9L, 100L, 100L)))
    // nulls are excluded from both the ranks and the total
    val d3 = Seq[Option[Int]](Some(1), None, Some(3)).toDF("v")
    val q3 = graft.operators.Profile.exactQuantilesLong(d3, $"v", Seq(50))
      .select($"value", $"n").as[(Long, Long)].head()
    assert(q3 == ((1L, 2L)))
  }

  test("groupQuantilesLong computes each group independently") {
    // group a: 1..10 (P50=5); group b: 100x the values (P50=500) — a global
    // quantile would land between the two bands, per-group must not
    val df = ((1 to 10).map(v => ("a", v)) ++ (1 to 10).map(v => ("b", v * 100)))
      .toDF("g", "v")
    val got = graft.operators.Profile.groupQuantilesLong(df, $"g", $"v", Seq(50, 99))
      .select($"group", $"pct", $"value", $"n")
      .as[(String, Int, Long, Long)].collect().toSet
    assert(got == Set(("a", 50, 5L, 10L), ("a", 99, 10L, 10L),
      ("b", 50, 500L, 10L), ("b", 99, 1000L, 10L)))
  }

  test("groupRankBuckets: exact per-group terciles, ties share a bucket") {
    val df = (Seq(1L, 2L, 3L, 4L, 5L, 6L).map(("a", _)) ++
      Seq(10L, 10L, 10L, 20L).map(("b", _))).toDF("g", "v")
    val got = Profile.groupRankBuckets(df, $"g", $"v", 3)
      .as[(String, Long, Long)].collect().toSet
    // group a (n=6): ranks 1-6 -> buckets 0,0,1,1,2,2; group b (n=4): the
    // three tied 10s share rank 1 -> bucket 0, the 20 ranks 4 -> bucket 2
    assert(got === Set(("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 1L),
      ("a", 4L, 1L), ("a", 5L, 2L), ("a", 6L, 2L),
      ("b", 10L, 0L), ("b", 20L, 2L)))
    // a single bucket degenerates to the identity labeling
    assert(Profile.groupRankBuckets(df, $"g", $"v", 1)
      .filter($"bucket" =!= 0L).count() === 0L)
    // reserved/output name collisions fail loudly instead of clobbering
    val clash = df.withColumnRenamed("v", "bucket")
    val e = intercept[IllegalArgumentException] {
      Profile.groupRankBuckets(clash, $"g", $"bucket", 3)
    }
    assert(e.getMessage.contains("silently clobbered"))
  }

  test("contaminationSpans: exact span boundaries, adjacent hits merge, disjoint leaks split") {
    val bench = Seq((0L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "x y alpha beta gamma delta z"),        // one leak mid-text
      (11L, "nothing here at all five words"),      // clean
      (12L, "alpha beta"),                          // shorter than n: out of scope
      (13L, "alpha beta gamma q q q delta epsilon zeta") // two disjoint leaks
    ).toDF("doc_id", "text")
    val got = Contamination.contaminationSpans(docs, "doc_id", "text", bench, "text", n = 3)
      .orderBy($"doc_id", $"start_word")
      .as[(Long, Long, Long, Long)].collect().toSeq
    // doc 10: gram hits at word positions 2 and 3 merge into words 2..5 —
    // exactly the leaked "alpha beta gamma delta"
    assert(got == Seq(
      (10L, 2L, 5L, 2L),
      (13L, 0L, 2L, 1L),
      (13L, 6L, 8L, 1L)))
  }

  test("contaminationSpans: hits with overlapping word ranges merge into one span") {
    // bench grams (n=3): "alpha beta gamma" and "gamma delta epsilon";
    // doc 20 hits at positions 0 and 2 — NOT consecutive, but their word
    // ranges [0,2] and [2,4] share word 2, so one disjoint span must come
    // out (two rows would double-count word 2 for an excising consumer)
    val bench = Seq((0L, "alpha beta gamma"), (1L, "gamma delta epsilon"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (20L, "alpha beta gamma delta epsilon"),
      // gap == n: ranges [0,2] and [3,5] touch but share no word -> split
      (21L, "alpha beta gamma gamma delta epsilon")
    ).toDF("doc_id", "text")
    val got = Contamination.contaminationSpans(docs, "doc_id", "text", bench, "text", n = 3)
      .orderBy($"doc_id", $"start_word")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (20L, 0L, 4L, 2L),
      (21L, 0L, 2L, 1L),
      (21L, 3L, 5L, 1L)))
  }

  test("datasheet: volume, dup copies, PII exposure, deterministic dominant language") {
    import graft.operators.Profile
    val docs = Seq(
      (1L, "s1", "en", "hello world"),
      (2L, "s1", "en", "hello  WORLD"),            // same canonical form: 1 dup copy
      (3L, "s1", "fr", "bonjour"),
      (4L, "s1", "de", "contact a@b.co today"),    // 1 PII doc
      (5L, "s2", "fr", "un"),
      (6L, "s2", "en", "two"),                     // s2: three langs tie at 1 -> '' (lang asc)
      (7L, "s2", null.asInstanceOf[String], null.asInstanceOf[String])
    ).toDF("doc_id", "source", "lang", "text")
    val got = Profile.datasheet(docs, "source", "doc_id", "text", "lang")
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Long, String, Long)].collect().toSeq
    // (source, n_docs, n_chars, dup_docs, pii_docs, n_langs, top_lang, top_lang_docs)
    assert(got == Seq(
      ("s1", 4L, 11L + 12L + 7L + 20L, 1L, 1L, 3L, "en", 2L),
      ("s2", 3L, 2L + 3L + 0L, 0L, 0L, 3L, "", 1L)))
  }

  test("robots: exact-agent group overrides '*', longest prefix wins, allow breaks ties") {
    import graft.functions.UrlFunctions
    val robots = Seq(
      ("a.example", "User-agent: bot\nDisallow: /x/\nAllow: /x/ok/\nUser-agent: *\nDisallow: /"),
      // '*'-only host; tie length between allow and disallow -> allow
      ("b.example", "User-agent: *\nDisallow: /p/\nAllow: /q/\nAllow: /p/\n"),
      // rules BEFORE any group header are ignored (RFC: no governing agent)
      ("c.example", "Disallow: /\nUser-agent: unrelated\nDisallow: /also/")
    ).toDF("host", "content")
    val rules = UrlFunctions.parseRobots(robots, "host", "content", "bot")
    val got = UrlFunctions.robotsFilter(
        Seq("http://a.example/x/secret", "http://a.example/x/ok/1",
          "http://a.example/y", "http://b.example/p/z",
          "http://c.example/anything").toDF("url"),
        "url", rules)
      .as[(String, Boolean, String)].collect()
      .map { case (u, a, p) => u -> ((a, Option(p))) }.toMap
    assert(got("http://a.example/x/secret") == (false, Some("/x/")))
    assert(got("http://a.example/x/ok/1") == (true, Some("/x/ok/")))
    assert(got("http://a.example/y") == (true, None)) // '*' group ignored: exact exists
    assert(got("http://b.example/p/z") == (true, Some("/p/"))) // equal-length tie -> allow
    assert(got("http://c.example/anything") == (true, None)) // headerless rules ignored

    // cardinality + column contract: duplicate URLs keep their
    // multiplicity and the frontier's other columns ride through
    val frontier = Seq(
      ("http://a.example/x/secret", 1), ("http://a.example/x/secret", 2),
      ("http://a.example/y", 3)).toDF("url", "crawl_id")
    val kept = UrlFunctions.robotsFilter(frontier, "url", rules)
      .as[(String, Int, Boolean, String)].collect()
      .map { case (u, cid, a, p) => (u, cid, a, Option(p)) }.toSet
    assert(kept == Set(
      ("http://a.example/x/secret", 1, false, Some("/x/")),
      ("http://a.example/x/secret", 2, false, Some("/x/")),
      ("http://a.example/y", 3, true, None)))

    // NULL urls keep the default-allow contract: null keys never match the
    // fan-back equi-join, so allowed must be coalesced back to true
    val nulls = Seq((null.asInstanceOf[String], 9)).toDF("url", "crawl_id")
    val nv = UrlFunctions.robotsFilter(nulls, "url", rules)
      .select("crawl_id", "allowed", "matched_prefix")
      .as[(Int, Boolean, Option[String])].collect().toSeq
    assert(nv == Seq((9, true, None)))

    // the appended output columns are guarded against input collisions
    intercept[IllegalArgumentException] {
      UrlFunctions.robotsFilter(
        Seq(("http://a.example/", true)).toDF("url", "allowed"), "url", rules)
    }
  }

  test("exciseContaminatedSpans cuts exactly the attributed words, clean docs pass through") {
    val bench = Seq((0L, "alpha beta gamma")).toDF("doc_id", "text")
    val docs = Seq(
      (10L, "x y alpha beta gamma z"),      // leak mid-text: words 2..4 go
      (11L, "totally clean words here"),    // untouched
      (12L, "alpha beta gamma"),            // full-doc leak: empties out
      (13L, null.asInstanceOf[String])      // null text: empty, 0 removed
    ).toDF("doc_id", "text")
    val got = Contamination.exciseContaminatedSpans(docs, "doc_id", "text", bench, "text", n = 3)
      .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
    assert(got == Seq(
      (10L, "x y z", 3L),
      (11L, "totally clean words here", 0L),
      (12L, "", 3L),
      (13L, "", 0L)))
  }

  test("semantic decontamination: paraphrase proximity flags, orthogonal noise survives") {
    val bench = Seq((0L, Array(1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (0L, Array(1.0, 0.0, 0.0)),   // the benchmark row itself: cosine 1
      (10L, Array(0.99, 0.1, 0.0)), // "rephrased": same direction, nudged
      (11L, Array(0.0, 1.0, 0.0)),  // orthogonal
      (12L, Array(-1.0, 0.0, 0.0)), // opposite direction
      (13L, Array(0.0, 0.0, 0.0))   // zero norm -> cosine 0 by contract
    ).toDF("vec_id", "embedding")
    val flagged = Contamination.semanticContaminatedIds(
        corpus, "vec_id", "embedding", bench, minCosine = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(flagged == Set(0L, 10L))
    val kept = Contamination.semanticDecontaminate(
        corpus, "vec_id", "embedding", bench, minCosine = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(11L, 12L, 13L))
    // the corpus side must never cartesian-shuffle: benchmark broadcasts
    val plan = Contamination.semanticContaminatedIds(
      corpus, "vec_id", "embedding", bench, minCosine = 0.95)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }
}
