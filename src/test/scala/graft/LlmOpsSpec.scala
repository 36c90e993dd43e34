package graft

import org.apache.spark.sql.functions._
import graft.functions.{TextFunctions, VectorFunctions}
import graft.operators.NearDedup

/** Text analysis, dedup, and similarity-search operators. */
class LlmOpsSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "le chat est sur la table et il dort bien")
  ).toDF("id", "text")

  test("tokens / shingles / charNgrams") {
    val df = Seq("a b c d").toDF("t")
    assert(df.select(TextFunctions.tokenCount(col("t"))).as[Int].head() == 4)
    assert(df.select(TextFunctions.shingles(col("t"), 2)).as[Seq[String]].head() ==
      Seq("a b", "b c", "c d"))
    assert(df.select(TextFunctions.shingles(col("t"), 5)).as[Seq[String]].head() ==
      Seq("a b c d")) // shorter than n -> single shingle
    assert(Seq("ab cd").toDF("t").select(TextFunctions.charNgrams(col("t"), 2))
      .as[Seq[String]].head() == Seq("ab", "b ", " c", "cd"))
  }

  test("subword count splits on class transitions") {
    assert(Seq("abc123 x-y").toDF("t").select(TextFunctions.subwordCount(col("t")))
      .as[Int].head() == 5) // abc|123, x|-|y
  }

  test("langId identifies languages by stopword lexicons") {
    val out = Seq(
      ("the cat is on the table and it was good for me", "en"),
      ("le chat est sur la table et il est pour moi", "fr"),
      ("zzz qqq xxx", "und")).toDF("text", "expected")
      .withColumn("got", TextFunctions.langId(col("text")))
    assert(out.filter(col("got") =!= col("expected")).count() == 0)
  }

  test("quality score favors real prose over punctuation soup") {
    val scores = Seq(
      "the quick brown fox jumps over the lazy dog and then it was done for the day with it",
      "&&& ;;; !!! ### @@@ %%% ^^^ *** ((( )))").toDF("text")
      .select(TextFunctions.qualityScore(col("text"))).as[Double].collect()
    assert(scores(0) > scores(1))
    assert(scores.forall(s => s >= 0.0 && s <= 1.0))
  }

  test("repetition signals: duplicate lines and dominant n-grams") {
    val df = Seq(
      "unique one\nunique two\nunique three",          // no repetition
      "same line\nsame line\nsame line\nother",        // 3 of 4 lines repeat
      "spam spam spam spam spam spam"                  // one dominant 2-gram
    ).toDF("text").select(
      TextFunctions.duplicateLineFraction(col("text")).as("dlf"),
      TextFunctions.duplicateLineCharFraction(col("text")).as("dcf"),
      TextFunctions.topNgramCharFraction(col("text"), 2).as("tgf"))
    val rows = df.collect()
    assert(rows(0).getDouble(0) == 0.0 && rows(0).getDouble(1) == 0.0)
    assert(math.abs(rows(1).getDouble(0) - 0.5) < 1e-9)       // 1 - 2/4
    assert(rows(1).getDouble(1) > 0.8)                        // 27 of 32 chars
    assert(rows(2).getDouble(2) > 0.4)                        // 'spam spam' dominates
    // empty text is all-zero signal
    val z = Seq("").toDF("text").select(
      TextFunctions.duplicateLineFraction(col("text")),
      TextFunctions.duplicateLineCharFraction(col("text")),
      TextFunctions.topNgramCharFraction(col("text"), 2)).head()
    assert(z.getDouble(0) == 0.0 && z.getDouble(1) == 0.0 && z.getDouble(2) == 0.0)
  }

  test("PII redaction replaces emails, IPv4s, phone numbers") {
    val out = Seq("mail a.b+c@ex-site.org or 192.168.0.1 or +4915123456789 end")
      .toDF("t").select(TextFunctions.redactPii(col("t"))).as[String].head()
    assert(out == "mail <EMAIL> or <IP> or <PHONE> end")
    // clean text unchanged
    assert(Seq("no pii here 12.5 degrees a@b").toDF("t")
      .select(TextFunctions.redactPii(col("t"))).as[String].head() ==
      "no pii here 12.5 degrees a@b")
  }

  test("exact dedup keeps the min-id representative per identical content") {
    val out = NearDedup.exactDedup(corpus, "id", "text")
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 5L))
    val outMd5 = NearDedup.exactDedupMd5(corpus, "id", "text")
    assert(outMd5.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 5L))
  }

  test("minhash LSH finds near-dup pairs and dedups them") {
    val pairs = NearDedup.minhashPairs(corpus, "id", "text",
      shingleSize = 2, numPerms = 32, bands = 16, threshold = 0.5)
    val found = pairs.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(found.contains((1L, 4L))) // exact dup always found
    assert(found.contains((1L, 2L)) || found.contains((2L, 4L))) // near-dup
    assert(!found.exists { case (a, b) => Set(a, b) == Set(3L, 5L) })
    val kept = NearDedup.minhashDedup(corpus, "id", "text",
      shingleSize = 2, numPerms = 32, bands = 16, threshold = 0.5)
      .select("id").as[Long].collect().toSet
    assert(kept.contains(3L) && kept.contains(5L) && kept.contains(1L))
    assert(!kept.contains(4L))
  }

  test("nearDedupAgainstSnapshotMinhash: fresh near-dups of the release drop, novel docs survive") {
    val prior = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different content about spark engines")).toDF("id", "text")
    val fresh = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),     // exact re-crawl
      (11L, "the quick brown fox jumps over the lazy cat"),     // near-dup variant
      (12L, "entirely novel text with no released counterpart"),
      (13L, "spark engines")).toDF("id", "text")                // shares words, below threshold
    val kept = NearDedup.nearDedupAgainstSnapshotMinhash(fresh, prior, "id", "text",
        shingleSize = 2, numPerms = 32, bands = 16, threshold = 0.5)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(12L, 13L))
    // a tighter threshold lets the variant back in but still blocks the re-crawl
    val strict = NearDedup.nearDedupAgainstSnapshotMinhash(fresh, prior, "id", "text",
        shingleSize = 2, numPerms = 32, bands = 16, threshold = 0.95)
      .select("id").as[Long].collect().toSet
    assert(!strict.contains(10L) && strict.contains(11L))
  }

  test("nearDedupAgainstSnapshotMinhash: combined fresh+prior hot bucket drops whole") {
    // 20 prior + 20 fresh byte-identical docs collapse onto ONE bucket per
    // band; the combined count (40) exceeds the cap, so the bucket drops
    // WHOLE and every clone survives (no F*P cross pairs are generated).
    // An honest fresh re-crawl of a distinct prior doc still drops: its
    // bucket holds 2 members, under the cap.
    val boiler = "the same boilerplate sentence repeated verbatim everywhere"
    val prior = ((1L to 20L).map(i => (i, boiler)) :+
      (50L, "a unique released document about orbital mechanics")).toDF("id", "text")
    val fresh = ((101L to 120L).map(i => (i, boiler)) :+
      (150L, "a unique released document about orbital mechanics") :+
      (151L, "entirely novel text with no released counterpart")).toDF("id", "text")
    val kept = NearDedup.nearDedupAgainstSnapshotMinhash(fresh, prior, "id", "text",
        shingleSize = 2, numPerms = 32, bands = 16, threshold = 0.5,
        maxBucketSize = 10)
      .select("id").as[Long].collect().toSet
    assert(kept == (101L to 120L).toSet + 151L,
      s"expected clones to survive via whole-bucket drop + re-crawl 150 to drop, got $kept")
    // with the cap above the combined bucket size the clones are caught
    val uncapped = NearDedup.nearDedupAgainstSnapshotMinhash(fresh, prior, "id", "text",
        shingleSize = 2, numPerms = 32, bands = 16, threshold = 0.5,
        maxBucketSize = 100)
      .select("id").as[Long].collect().toSet
    assert(uncapped == Set(151L))
  }

  test("simhash: identical texts have distance 0, dissimilar texts exceed the cap") {
    val pairs = NearDedup.simhashPairs(corpus, "id", "text", maxHamming = 3)
    val found = pairs.select("id_a", "id_b", "hamming").as[(Long, Long, Int)].collect()
    assert(found.exists { case (a, b, h) => (a, b) == ((1L, 4L)) && h == 0 })
    assert(!found.exists { case (a, b, _) => Set(a, b) == Set(3L, 5L) })
  }

  test("ngram jaccard exact pairs") {
    val pairs = NearDedup.ngramJaccardPairs(corpus, "id", "text", shingleSize = 2,
      threshold = 0.5)
    val m = pairs.as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(m((1L, 4L)) == 1.0)
    assert(m.contains((1L, 2L)) && m((1L, 2L)) > 0.5 && m((1L, 2L)) < 1.0)
  }

  test("ngram containment: excerpt scores 1.0 into its container, jaccard misses it") {
    val docs = Seq(
      (1L, "alpha beta gamma delta"),                                // the excerpt
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (3L, "totally different words here entirely")).toDF("id", "text")
    val cont = NearDedup.ngramContainmentPairs(docs, "id", "text",
        shingleSize = 2, threshold = 0.9)
      .as[(Long, Long, Double)].collect().toSeq
    // doc 1's shingles are all inside doc 2 → containment 1.0, one direction
    assert(cont == Seq((1L, 2L, 1.0)))
    // the symmetric jaccard at the same bar sees nothing (3/11 overlap)
    assert(NearDedup.ngramJaccardPairs(docs, "id", "text",
      shingleSize = 2, threshold = 0.9).count() == 0L)
  }

  test("winnowing: every full window selects a fingerprint; identical text, identical prints") {
    val text = "the quick brown fox jumps over the lazy dog again and again tonight"
    val docs = Seq((1L, text), (2L, text), (3L, "short")).toDF("id", "text")
    val k = 5; val w = 4
    val fps = NearDedup.winnowFingerprints(docs, "id", "text", k, w)
      .as[(Long, Long, Long)].collect().toSeq
    val canon = text.toLowerCase.replaceAll("\\s+", "")
    val ng = canon.length - k + 1
    val sel1 = fps.filter(_._1 == 1L).map(_._2).toSet
    // the winnowing guarantee: every window of w consecutive gram positions
    // contains at least one selected fingerprint position
    for (i <- 0 to ng - w)
      assert((i until i + w).exists(p => sel1.contains(p.toLong)), s"window at $i selected nothing")
    // density: far fewer fingerprints than grams (expected ~2/(w+1))
    assert(sel1.size < ng / 2 && sel1.nonEmpty)
    // determinism: the identical doc selects the identical (pos, fp) set
    assert(fps.filter(_._1 == 2L).map(t => (t._2, t._3)).toSet ==
      fps.filter(_._1 == 1L).map(t => (t._2, t._3)).toSet)
    // no full window (canonical length 5 < k + w - 1 = 8): nothing emitted
    assert(!fps.exists(_._1 == 3L))
  }

  test("winnowPairs: a shared >= k+w-1 substring is always caught, unrelated docs are not") {
    // the local-fingerprinting guarantee: a verbatim canonical run of
    // length >= k + w - 1 shares its windows' minimum hash in both docs,
    // so minShared = 1 cannot miss it — whatever surrounds it
    val shared = "abcdefghijklmnop" // 16 canonical chars >= 8 + 4 - 1
    val docs = Seq(
      (1L, s"one two $shared three"),
      (2L, s"completely different framing $shared indeed"),
      (3L, "nothing in common with those at all here")).toDF("id", "text")
    val pairs = NearDedup.winnowPairs(docs, "id", "text", k = 8, w = 4, minShared = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(pairs.map(p => (p._1, p._2)) == Seq((1L, 2L)))
  }

  test("piiCounts: per-type counts match redaction's composition, no double counting") {
    val rows = Seq(
      (1L, "mail a@b.co or c@d.org from 10.0.0.1 call +12025550123"),
      (2L, "the address 1.2.3.4@example.com is an email, not an ip"),
      (3L, "no pii whatsoever in here"),
      (4L, null.asInstanceOf[String])).toDF("id", "text")
    val got = rows.select(col("id"), TextFunctions.piiCounts(col("text")).as("p"))
      .select(col("id"), col("p.n_emails"), col("p.n_ips"), col("p.n_phones"))
      .as[(Long, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(got == Seq(
      (1L, 2L, 1L, 1L),
      // the ip-shaped local part is consumed by the EMAIL pass first —
      // counting follows redaction's composition, so it is not an IP hit
      (2L, 1L, 0L, 0L),
      (3L, 0L, 0L, 0L),
      (4L, 0L, 0L, 0L)))
    // the total equals the placeholder count redactPii emits
    val total = rows.select(TextFunctions.redactPii(coalesce(col("text"), lit(""))).as("c"))
      .select(size(regexp_extract_all(col("c"), lit("<(EMAIL|IP|PHONE)>"), lit(0))).as("n"))
      .as[Int].collect().sum
    assert(total == got.map(t => t._2 + t._3 + t._4).sum)
  }

  test("winnowAgainstSnapshot flags a fresh doc embedding released text, MinHash misses it") {
    val shared = "abcdefghijklmnopqrstuvwxyz0123456789" // 36 canonical chars
    val prior = Seq(
      (1L, s"released doc containing $shared and nothing else notable"),
      (2L, "another release page with its own content entirely")).toDF("id", "text")
    val fresh = Seq(
      // a long fresh page EMBEDDING the released passage: whole-doc
      // jaccard is tiny, but the local fingerprints must match
      (100L, s"totally new framing wraps $shared inside a much longer and quite different page body with many extra words"),
      (101L, "fresh and genuinely novel content with no overlap at all")).toDF("id", "text")
    val hits = NearDedup.winnowAgainstSnapshot(fresh, prior, "id", "text",
        k = 8, w = 4, minShared = 1)
      .as[(Long, Long, Long)].collect().toSeq
    assert(hits.map(h => (h._1, h._2)) == Seq((100L, 1L)))
    // the whole-document minhash snapshot check at a typical threshold
    // does NOT flag it — the embedded passage is diluted
    val kept = NearDedup.nearDedupAgainstSnapshotMinhash(fresh, prior, "id", "text",
      threshold = 0.5).select("id").as[Long].collect().toSet
    assert(kept == Set(100L, 101L))
  }

  test("jaccard hot-shingle df cap kills the boilerplate quadratic key") {
    // 60 docs share ONLY a boilerplate bigram (each otherwise unique):
    // uncapped, every pair qualifies at threshold 0.3 (jaccard 1/3) —
    // the k²/2 blowup. A df cap below 60 prunes the boilerplate shingle
    // before the self-join, so those pairs never materialize; a genuine
    // dup pair (df=2 shingles, under the cap) is still found.
    val boiler = (1L to 60L).map(i => (i, s"boiler plate u$i"))
    val dups = Seq((100L, "alpha beta gamma delta"), (101L, "alpha beta gamma delta"))
    val corpus2 = (boiler ++ dups).toDF("id", "text")
    val uncapped = NearDedup.ngramJaccardPairs(corpus2, "id", "text",
      shingleSize = 2, threshold = 0.3, maxDf = 0)
    assert(uncapped.count() == 60L * 59 / 2 + 1)
    val capped = NearDedup.ngramJaccardPairs(corpus2, "id", "text",
      shingleSize = 2, threshold = 0.3, maxDf = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(capped == Set((100L, 101L)), s"got $capped")
    // default cap (1000) must not fire on small corpora: q46's slice stays
    // bit-identical to its all-pairs oracle
    val default = NearDedup.ngramJaccardPairs(corpus2, "id", "text",
      shingleSize = 2, threshold = 0.3)
    assert(default.count() == 60L * 59 / 2 + 1)
  }

  test("LSH bucket cap drops degenerate buckets") {
    // 50 identical docs -> one giant bucket; cap 10 means no pairs survive.
    val many = (1L to 50L).map(i => (i, "same same same same")).toDF("id", "text")
    val capped = NearDedup.minhashPairs(many, "id", "text",
      shingleSize = 2, numPerms = 32, bands = 8, threshold = 0.5, maxBucketSize = 10)
    assert(capped.count() == 0)
    val uncapped = NearDedup.minhashPairs(many, "id", "text",
      shingleSize = 2, numPerms = 32, bands = 8, threshold = 0.5)
    assert(uncapped.count() == 50L * 49 / 2)
  }

  test("oversized-bucket drops surface an observed metric") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    @volatile var droppedBuckets = -1L
    @volatile var droppedRows = -1L
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (name, row) =>
          if (name.startsWith("lsh_dropped_buckets_")) {
            droppedBuckets = row.getAs[Long]("dropped_buckets")
            droppedRows = row.getAs[Long]("dropped_rows")
          }
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    // AQE's empty-relation propagation prunes the CollectMetrics node when
    // EVERY bucket is dropped (candidate side becomes a runtime empty
    // relation), so pin AQE off to observe the degenerate all-dropped case.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val many = (1L to 50L).map(i => (i, "same same same same")).toDF("id", "text")
      NearDedup.minhashPairs(many, "id", "text",
        shingleSize = 2, numPerms = 32, bands = 8, threshold = 0.5, maxBucketSize = 10).count()
      val deadline = System.currentTimeMillis() + 10000
      while (droppedBuckets < 0 && System.currentTimeMillis() < deadline) Thread.sleep(50)
      assert(droppedBuckets > 0, "dropped-bucket metric never observed")
      assert(droppedRows >= droppedBuckets)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.listenerManager.unregister(listener)
    }
  }

  test("vector dot / cosine / l2") {
    val df = Seq((Seq(1.0, 2.0), Seq(2.0, 3.0))).toDF("a", "b")
    assert(df.select(VectorFunctions.dot(col("a"), col("b"))).as[Double].head() == 8.0)
    assert(df.select(VectorFunctions.l2Distance(col("a"), col("b"))).as[Double].head() ==
      math.sqrt(2.0))
    val c = df.select(VectorFunctions.cosine(col("a"), col("b"))).as[Double].head()
    assert(math.abs(c - 8.0 / (math.sqrt(5) * math.sqrt(13))) < 1e-12)
    // zero vector -> cosine 0, not NaN
    assert(Seq((Seq(0.0, 0.0), Seq(1.0, 1.0))).toDF("a", "b")
      .select(VectorFunctions.cosine(col("a"), col("b"))).as[Double].head() == 0.0)
  }

  private val vecs = Seq(
    (1L, Seq(1.0, 0.0, 0.0)), (2L, Seq(0.9, 0.1, 0.0)), (3L, Seq(0.0, 1.0, 0.0)),
    (4L, Seq(0.0, 0.0, 1.0)), (5L, Seq(1.0, 0.05, 0.0))).toDF("id", "v")

  test("brute-force topK ranks by cosine") {
    val out = VectorFunctions.bruteForceTopK(vecs, vecs.filter(col("id") === 1), "id", "v", 2)
    assert(out.orderBy("rank").select("neighbor_id").as[Long].collect().toSeq ==
      Seq(5L, 2L)) // closest to (1,0,0) by cosine
  }

  test("LSH topK finds the identical-direction vector") {
    val out = VectorFunctions.lshTopK(vecs, vecs.filter(col("id") === 1), "id", "v",
      dim = 3, k = 2, bits = 4, tables = 8)
    assert(out.count() > 0)
    assert(out.orderBy("rank").select("neighbor_id").as[Long].head() == 5L)
  }

  test("IVF topK matches brute force on its probed cells") {
    val out = VectorFunctions.ivfTopK(vecs, vecs.filter(col("id") === 1), "id", "v",
      k = 2, nCentroids = 5, nProbe = 5)
    assert(out.orderBy("rank").select("neighbor_id").as[Long].collect().toSeq ==
      Seq(5L, 2L))
    // the cid is the seed rank, not the id: string ids seed, assign and
    // probe the same way
    val svecs = vecs.withColumn("id", concat(lit("v"), col("id").cast("string")))
    val sout = VectorFunctions.ivfTopK(svecs, svecs.filter(col("id") === "v1"), "id", "v",
      k = 2, nCentroids = 5, nProbe = 5)
    assert(sout.orderBy("rank").select("neighbor_id").as[String].collect().toSeq ==
      Seq("v5", "v2"))
  }

  test("cosine near-dup pairs recovers duplicate vectors") {
    val dup = vecs.unionByName(Seq((100L, Seq(1.0, 0.0, 0.0))).toDF("id", "v"))
    val out = VectorFunctions.cosineNearDupPairs(dup, "id", "v", dim = 3,
      threshold = 0.999, bits = 4, tables = 8)
    assert(out.select("id_a", "id_b").as[(Long, Long)].collect().toSet.contains((1L, 100L)))
  }

  test("int8 quantization keeps cosine within 1% on real embeddings") {
    import graft.functions.VectorFunctions
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(50)
      .withColumn("sc", VectorFunctions.int8Scale(col("embedding")))
    val minCos = e.select(
      VectorFunctions.cosine(
        transform(col("embedding"), x => x.cast("double")),
        VectorFunctions.int8Dequantize(
          VectorFunctions.int8Quantize(col("embedding"), col("sc")), col("sc")))
        .as("c"))
      .agg(min(col("c"))).as[Double].head()
    assert(minCos >= 0.99, s"dequantized cosine dropped to $minCos")
  }

  test("corpus-frequency score ranks gibberish below natural text") {
    val docs = (1L to 8L).map(i => (i, s"the quick brown fox jumps over the lazy dog number $i")) :+
      (99L, "qzx jvk wpf bqm zzt xkj vvq")
    val scored = graft.functions.TextFunctions
      .corpusFrequencyScore(docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "mean_freq").as[(Long, Double)].collect().toMap
    val naturalMin = (1L to 8L).map(scored).min
    assert(scored(99L) < naturalMin,
      s"gibberish ${scored(99L)} should score below natural min $naturalMin")
  }

  test("decontaminate drops docs sharing a benchmark n-gram, keeps the rest") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a quick brown fox jumps over nothing at all"), // shares 5-gram with bench
      (3L, "completely unrelated text about spark physical plans here"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "quick brown fox jumps over fences")).toDF("bid", "btext")
    val kept = graft.operators.Contamination
      .decontaminate(docs, "doc_id", "text", bench, "btext", n = 5)
      .select("doc_id").as[Long].collect().sorted
    // docs 1 and 2 both contain "quick brown fox jumps over"
    assert(kept.toSeq == Seq(3L))
  }

  test("cleanLines keeps terminal-punctuated lines with enough words") {
    val df = Seq(
      ("Good long sentence here.\nnav menu\nAnother fine sentence!\nshort.\n\nno punct line here"))
      .toDF("text")
    val out = df.select(TextFunctions.cleanLines(col("text"), minWords = 3))
      .as[String].head()
    assert(out == "Good long sentence here.\nAnother fine sentence!")
  }

  test("sentences: terminator clusters, unterminated tail, whitespace, empties") {
    def seg(t: String): Seq[String] =
      Seq(t).toDF("text").select(TextFunctions.sentences(col("text")).as("s"))
        .as[Seq[String]].head()
    assert(seg("One. Two! Three?") == Seq("One.", "Two!", "Three?"))
    assert(seg("Wait... what?! done") == Seq("Wait...", "what?!", "done"))
    assert(seg("No terminator at all") == Seq("No terminator at all"))
    assert(seg("  Spaced\n\nout.   Next  one. ") == Seq("Spaced out.", "Next one."))
    assert(seg("") == Seq())
    assert(seg("...") == Seq()) // a bare terminator cluster has no sentence content
  }

  test("compressionRatio: repetition compresses below prose, bounded, deterministic") {
    val rnd = new scala.util.Random(7)
    val prose = Seq.fill(200)(rnd.nextPrintableChar()).mkString // high-entropy
    val df = Seq(
      ("rep", "spam " * 400),
      ("prose", prose),
      ("empty", "")).toDF("k", "text")
    val m = df.select(col("k"), TextFunctions.compressionRatio(col("text")).as("r"))
      .as[(String, Double)].collect().toMap
    assert(m("rep") < 0.05, s"repetition ratio ${m("rep")} not tiny")
    assert(m("prose") > 0.5, s"high-entropy ratio ${m("prose")} unexpectedly low")
    assert(m("rep") < m("prose"))
    assert(m("empty") == 1.0)
    assert(m.values.forall(r => r > 0.0 && r <= 1.5)) // deflate overhead bound
    // deterministic across evaluations
    val again = df.select(TextFunctions.compressionRatio(col("text")).as("r"))
      .as[Double].collect().sorted
    assert(again.toSeq == m.values.toSeq.sorted)
    // null in, null out
    val n = Seq(Option.empty[String]).toDF("text")
      .select(TextFunctions.compressionRatio(col("text"))).collect()(0)
    assert(n.isNullAt(0))
  }

  test("stupidBackoffScore: exact integer seen/backoff branches (Brants et al. 2007)") {
    import graft.operators.LanguageModel
    // train counts: c1(a)=2, c1(b)=1, c1(c)=1, N=4; c2(a,b)=1, c2(a,c)=1
    val train = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val score = Seq(
      (10L, "a b"),     // seen:   1000000*1 div 2            = 500000
      (11L, "b a"),     // backoff: (400000*c1(a)=2) div N=4  = 200000
      (12L, "a d"),     // backoff with unseen unigram d      = 0
      (13L, "a"),       // no bigrams -> absent
      (14L, "a b a c")  // 500000 + 200000 + 500000 over 3    = 400000
    ).toDF("doc_id", "text")
    val out = LanguageModel.stupidBackoffScore(train, score, "doc_id", "text")
      .orderBy(col("doc_id"))
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq(
      (10L, 1L, 500000L, 500000L),
      (11L, 1L, 200000L, 200000L),
      (12L, 1L, 0L, 0L),
      (14L, 3L, 1200000L, 400000L)))
  }
}
