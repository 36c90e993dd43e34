package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import graft.operators.BabeOps._
import graft.operators.KeyNormalize
import graft.functions.VectorFunctions

/** Property-based invariants (SURVEY §5): laws that must hold for any input,
  * complementing the golden cases.
  */
class PropertySpec extends SparkSpec {

  /** Raw-ScalaCheck sampling (the scalatest bridge isn't bundled): run the
    * body over n generated samples.
    */
  private def forAll[A](gen: Gen[A], n: Int = 25)(f: A => Unit): Unit = {
    var i = 0
    var tries = 0
    while (i < n && tries < n * 4) {
      gen.sample match { case Some(a) => f(a); i += 1 case None => () }
      tries += 1
    }
    assert(i > 0, "generator produced no samples")
  }
  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body
  import spark.implicits._

  test("KeyNormalize is idempotent and yields valid identifiers") {
    forAll(Gen.asciiPrintableStr) { s =>
      val once = KeyNormalize(s)
      assert(KeyNormalize(once) == once)
      assert(once.matches("[A-Za-z_][A-Za-z0-9_]*") || once == "_")
    }
  }

  test("redactPii is idempotent; repetition fractions stay in [0,1]") {
    import graft.functions.TextFunctions
    forAll(Gen.listOfN(6, Gen.oneOf(
      Gen.asciiPrintableStr,
      Gen.const("a@b.co 1.2.3.4 +12345678"),
      Gen.const("dup line\ndup line\nx y x y x y"))), n = 8) { texts =>
      whenever(texts.nonEmpty) {
        val df = texts.toDF("t")
        val once = df.select(TextFunctions.redactPii(col("t")).as("r"))
        val twice = once.select(TextFunctions.redactPii(col("r")).as("r"))
        assert(once.as[String].collect().toSeq == twice.as[String].collect().toSeq)
        val fracs = df.select(
          TextFunctions.duplicateLineFraction(col("t")),
          TextFunctions.duplicateLineCharFraction(col("t")),
          TextFunctions.topNgramCharFraction(col("t"), 2)).collect()
        fracs.foreach { r =>
          (0 until 3).foreach { i =>
            assert(r.getDouble(i) >= 0.0 && r.getDouble(i) <= 1.0, s"frac out of range: $r")
          }
        }
      }
    }
  }

  test("batch sessionize: gap splits, counts conserve, bounds nest") {
    import graft.operators.Sessionize
    // events for one key: bursts at 0-2, 100-101, 300 with gap 10
    val ev = Seq((1L, 0L), (1L, 2L), (1L, 100L), (1L, 101L), (1L, 300L), (2L, 5L))
      .toDF("k", "t")
    val out = Sessionize.sessions(ev, "k", "t", gapUnits = 10L)
      .orderBy("k", "session_seq").collect()
    assert(out.map(_.getAs[Long]("events")).sum == 6L) // every event in exactly one session
    val k1 = out.filter(_.getAs[Long]("k") == 1L)
    assert(k1.length == 3)
    assert(k1.map(r => (r.getAs[Long]("session_start"), r.getAs[Long]("session_end"),
      r.getAs[Long]("events"))).toSeq ==
      Seq((0L, 2L, 2L), (100L, 101L, 2L), (300L, 300L, 1L)))
    assert(out.filter(_.getAs[Long]("k") == 2L).map(_.getAs[Long]("events")).toSeq == Seq(1L))
  }

  test("dedup output is a subset of input and contains each distinct row once") {
    forAll(Gen.listOfN(40, Gen.zip(Gen.choose(0, 5), Gen.choose(0, 3)))) { rows =>
      whenever(rows.nonEmpty) {
        val df = rows.toDF("a", "b")
        val out = df.dedup().as[(Int, Int)].collect().toSeq
        assert(out.toSet == rows.toSet)
        assert(out.size == out.toSet.size)
      }
    }
  }

  test("sort is idempotent and a permutation of its input") {
    forAll(Gen.listOfN(30, Gen.choose(-100, 100))) { xs =>
      whenever(xs.nonEmpty) {
        val df = xs.toDF("k")
        val once = df.sortBabe("k").as[Int].collect().toSeq
        val twice = df.sortBabe("k").sortBabe("k").as[Int].collect().toSeq
        assert(once == twice)
        assert(once.sorted == once)
        assert(once.groupBy(identity) == xs.groupBy(identity))
      }
    }
  }

  test("maxN + minN partition the extremes: maxN(k) ∪ rest covers input") {
    forAll(Gen.listOfN(25, Gen.choose(0, 1000))) { xs =>
      whenever(xs.distinct.size == xs.size && xs.nonEmpty) {
        val df = xs.toDF("k")
        val top = df.maxN("k", 5, Seq(col("k"))).as[Int].collect().toSeq
        assert(top == xs.sorted.reverse.take(5))
        val bottom = df.minN("k", 5, Seq(col("k"))).as[Int].collect().toSeq
        assert(bottom == xs.sorted.take(5))
      }
    }
  }

  test("unpivot of a pivoted frame preserves the (group, name, value) triples") {
    val df = Seq(("g1", 1, 2), ("g2", 3, 4)).toDF("g", "x", "y")
    val melted = df.unpivotBabe(Seq("g"), Seq("x", "y"))
    val back = melted.groupBy("g").pivot("field").agg(first("value"))
    val orig = df.orderBy("g").collect().map(_.toSeq).toSeq
    val round = back.select("g", "x", "y").orderBy("g").collect().map(_.toSeq).toSeq
    assert(orig == round)
  }

  test("cosine is symmetric and bounded for unit-scale vectors") {
    val vecGen = Gen.listOfN(8, Gen.choose(-10.0, 10.0))
    forAll(Gen.zip(vecGen, vecGen)) { case (a, b) =>
      val df = Seq((a, b)).toDF("a", "b")
      val c1 = df.select(VectorFunctions.cosine(col("a"), col("b"))).as[Double].head()
      val c2 = df.select(VectorFunctions.cosine(col("b"), col("a"))).as[Double].head()
      assert(math.abs(c1 - c2) < 1e-12)
      assert(c1 >= -1.0 - 1e-9 && c1 <= 1.0 + 1e-9)
    }
  }

  test("minhash jaccard estimate tracks exact jaccard (statistical)") {
    // identical sets -> identical signatures; disjoint sets -> signature
    // agreement is chance-level
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8")).toDF("id", "text")
    val sigs = df.select(col("id"),
      graft.expressions.GraftFunctions.minhashSignature(
        graft.expressions.GraftFunctions.shingles(col("text"), 2), 64).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val agree12 = sigs(1L).zip(sigs(2L)).count { case (x, y) => x == y }
    val agree13 = sigs(1L).zip(sigs(3L)).count { case (x, y) => x == y }
    assert(agree12 == 64) // jaccard 1.0
    assert(agree13 < 16)  // jaccard 0.0, allow chance collisions
  }

  test("int8 quantization stays in [-127,127] and inverts within half a step") {
    forAll(Gen.listOfN(16, Gen.chooseNum(-1e3f, 1e3f)), n = 15) { xs =>
      whenever(xs.exists(_ != 0.0f)) {
        val df = Seq(Tuple1(xs)).toDF("v")
          .withColumn("sc", VectorFunctions.int8Scale(col("v")))
        val (q, sc) = df.select(
          VectorFunctions.int8Quantize(col("v"), col("sc")), col("sc"))
          .as[(Seq[Int], Double)].head()
        assert(q.forall(x => x >= -127 && x <= 127), s"out of range: $q")
        // dequantized error bounded by half a quantization step
        val deq = q.map(_ / sc)
        xs.zip(deq).foreach { case (orig, d) =>
          assert(math.abs(orig - d) <= 0.5 / sc + 1e-9)
        }
      }
    }
  }

  test("topKExact counts equal the exact groupBy for any multiset") {
    forAll(Gen.listOfN(200, Gen.choose(0, 30)), n = 5) { xs =>
      val df = spark.sparkContext.parallelize(xs.map(i => s"t$i"), 4).toDF("t")
      // capacity >= distinct count: the exactness contract holds for ANY
      // multiset (the eviction path under capacity pressure is covered by
      // SketchesSpec's Zipf case, where the frequency bound is satisfied)
      val got = graft.operators.Sketches
        .topKExact(df, col("t"), k = 5, capacity = 64)
        .select("item", "cnt").as[(String, Long)].collect().toSeq
      val want = xs.groupBy(i => s"t$i").view.mapValues(_.size.toLong).toSeq
        .sortBy { case (t, c) => (-c, t) }.take(5)
      assert(got == want)
    }
  }

  test("packing: offsets bounded by budget, token counts preserved") {
    forAll(Gen.listOfN(20, Gen.choose(1, 900)), n = 10) { toks =>
      val docs = toks.zipWithIndex.map { case (t, i) => (i.toLong, t.toLong) }
        .toDF("id", "tok")
      val out = graft.operators.Packing
        .packSequences(docs, "id", "id", col("tok"), budget = 256)
      // degenerate shard-per-doc: every doc starts its own stream at seq 0
      assert(out.filter(col("seq_id") =!= 0 || col("seq_offset") =!= 0).count() == 0)
      val packed = graft.operators.Packing.packSequences(
        docs.withColumn("shard", lit("s")), "shard", "id", col("tok"), budget = 256)
        .select("id", "seq_id", "seq_offset", "n_tokens")
        .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
      assert(packed.forall { case (_, sid, off, _) => sid >= 0 && off >= 0 && off < 256 })
      // seq ids non-decreasing along the order, token counts preserved
      assert(packed.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
      assert(packed.map(_._4).toSeq == toks.map(_.toLong))
    }
  }

  test("bloom filter never produces a false negative for ANY corpus") {
    import graft.operators.Contamination
    val word = Gen.listOfN(6, Gen.alphaLowerChar).map(_.mkString)
    val doc = Gen.listOfN(8, word).map(_.mkString(" "))
    forAll(Gen.listOfN(8, doc), n = 6) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t")
      val bench = docs.filter(col("id") < 3)
      val exact = Contamination.contaminatedIds(docs, "id", "t", bench, "t", n = 4)
        .as[Long].collect().toSet
      // tiny m = 32 maximizes false positives; containment must still hold
      val bits = Contamination.bloomBuild(bench, "t", n = 4, k = 3, m = 32)
      val flagged = Contamination
        .bloomContaminatedIds(docs, "id", "t", bits, n = 4, k = 3, m = 32)
        .select("id").as[Long].collect().toSet
      assert(exact.subsetOf(flagged), s"false negative: $exact vs $flagged")
    }
  }

  test("zorderKey is a bijection on the bits-bounded grid") {
    import graft.operators.Layout
    forAll(Gen.listOfN(40, Gen.zip(Gen.choose(0L, 255L), Gen.choose(0L, 255L))), n = 6) { pts =>
      val df = pts.distinct.toDF("a", "b")
      val keys = df.select(col("a"), col("b"),
          Layout.zorderKey(col("a"), col("b"), bits = 8).as("z"))
        .as[(Long, Long, Long)].collect()
      // injective: distinct points -> distinct keys; invertible by
      // de-interleaving the bits
      assert(keys.map(_._3).distinct.length == keys.length)
      keys.foreach { case (a, b, z) =>
        val ra = (0 until 8).map(i => ((z >> (2 * i)) & 1L) << i).sum
        val rb = (0 until 8).map(i => ((z >> (2 * i + 1)) & 1L) << i).sum
        assert(ra == a && rb == b, s"($a,$b) -> $z -> ($ra,$rb)")
      }
    }
  }

  test("count-min estimates dominate exact counts for ANY multiset") {
    import graft.operators.Sketches
    val item = Gen.listOfN(3, Gen.alphaLowerChar).map(_.mkString) // tiny alphabet -> collisions
    forAll(Gen.listOfN(60, item), n = 6) { items =>
      val df = items.toDF("item")
      val exact = items.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val est = Sketches.countMinEstimate(
          Sketches.countMinSketch(df, col("item"), depth = 3, width = 8L),
          df.distinct(), depth = 3, width = 8L)
        .as[(String, Long)].collect().toMap
      assert(exact.forall { case (k, v) => est(k) >= v },
        s"undercount: $exact vs $est")
    }
  }

  test("saltedAggregate equals plain groupBy and is rerun-identical (hash salt)") {
    import graft.operators.Skew
    val kv = Gen.listOfN(80, Gen.zip(Gen.oneOf("hot", "a", "b"), Gen.choose(0L, 1000L)))
    forAll(kv, n = 6) { pairs =>
      val df = pairs.toDF("k", "v")
      def run() = Skew.saltedSumCount(df, Seq("k"), col("v"), saltBuckets = 4)
        .as[(String, Long, Long)].collect().toSet
      val salted = run()
      // deterministic salt (xxhash64, not rand): re-running the same plan
      // yields the same result AND the same partial-stage placement
      assert(run() == salted)
      val plain = df.groupBy("k").agg(sum(col("v")).as("sum"), count(lit(1)).as("cnt"))
        .as[(String, Long, Long)].collect().toSet
      assert(salted == plain, s"salted $salted != plain $plain")
    }
  }

  test("parse_time kernel dispatch equals the formatter cascade on fuzzed strings") {
    import graft.operators.TimeParse
    // assemble date-ish strings from hostile fragments: the generator's job
    // is to hit the certified / fallback / no-parse boundary from both
    // sides, not to produce valid dates
    val frag = Gen.oneOf(
      Gen.choose(0, 99999).map(_.toString),
      Gen.choose(1, 12).map(_.toString),
      Gen.choose(1, 31).map(_.toString),
      Gen.choose(1000, 9999).map(_.toString),
      Gen.oneOf("0", "00", "000", "0001", "  ", " ", "", "T", "+", "-", ".",
        "x", "99", "60", "24", "023"))
    val sep = Gen.oneOf("-", "/", ",", " ", ":", ".", "T", "")
    val gen = for {
      n <- Gen.choose(3, 8)
      parts <- Gen.listOfN(n, Gen.zip(frag, sep))
    } yield parts.map { case (f, s) => f + s }.mkString
    val all = scala.collection.mutable.ArrayBuffer[String]()
    forAll(gen, n = 300) { s => all += s }
    // seed with near-boundary canonical forms the fuzzer rarely assembles
    all ++= Seq("2020-2-29 23:59:59", "2100-2-29", "2400-2-29",
      "9999-12-31 23:59:59.999999", "1-1-2020 0:00:00.000000")
    val both = all.toSeq.toDF("s").select(col("s"),
      TimeParse.parseExpr(col("s")).cast("long").as("fast"),
      TimeParse.formatterExpr(col("s")).cast("long").as("ref"))
    val diff = both.filter(!(col("fast") <=> col("ref"))).collect()
    assert(diff.isEmpty,
      s"kernel/formatter divergence on fuzzed input: ${diff.take(10).mkString("; ")}")
  }

  test("snapshotDiff laws: self-diff empty, add/remove inverse, statuses partition") {
    import graft.operators.Releases
    val rowGen = Gen.zip(Gen.choose(0L, 30L), Gen.option(Gen.alphaStr), Gen.choose(0L, 5L))
    forAll(Gen.listOfN(20, rowGen), n = 10) { rows =>
      val df = rows.toDF("id", "s", "n").dropDuplicates("id")
      // diff(x, x) = empty for any x
      assert(Releases.snapshotDiff(df, df, Seq("id"), Seq("s", "n")).count() === 0L)
      // diff against a key-perturbed copy: every emitted status is one of
      // the three, and added/removed counts mirror the key-set delta
      val shifted = df.withColumn("id", col("id") + 7L)
      val got = Releases.snapshotDiff(df, shifted, Seq("id"), Seq("s", "n"))
        .as[(Long, String)].collect()
      assert(got.forall(r => Set("added", "removed", "changed")(r._2)))
      val oldKeys = df.select("id").as[Long].collect().toSet
      val newKeys = oldKeys.map(_ + 7L)
      assert(got.count(_._2 == "added") === (newKeys -- oldKeys).size)
      assert(got.count(_._2 == "removed") === (oldKeys -- newKeys).size)
    }
  }

  test("applyCdc laws: empty feed is identity; delete-all empties; upsert is last-write-wins") {
    import graft.operators.Releases
    val rowGen = Gen.zip(Gen.choose(0L, 15L), Gen.alphaStr, Gen.choose(0L, 9L))
    forAll(Gen.listOfN(12, rowGen), n = 10) { rows =>
      val base = rows.toDF("id", "s", "n").dropDuplicates("id")
      val empty = base.filter(lit(false))
        .withColumn("version", lit(0L)).withColumn("op", lit("U"))
      assert(Releases.applyCdc(base, empty, Seq("id"), "version", "op").count()
        === base.count())
      val delAll = base.withColumn("version", lit(1L)).withColumn("op", lit("D"))
      assert(Releases.applyCdc(base, delAll, Seq("id"), "version", "op").count() === 0L)
      // two upserts at distinct versions: the higher version's payload wins
      val u1 = base.withColumn("s", lit("v1")).withColumn("version", lit(1L)).withColumn("op", lit("U"))
      val u2 = base.withColumn("s", lit("v2")).withColumn("version", lit(2L)).withColumn("op", lit("U"))
      val merged = Releases.applyCdc(base, u1.unionByName(u2), Seq("id"), "version", "op")
      assert(merged.filter(col("s") =!= "v2").count() === 0L)
      assert(merged.count() === base.count())
    }
  }

  test("collocations: scores respect the cross-multiplied threshold and counts are consistent") {
    import graft.operators.Phrases
    val docGen = Gen.listOfN(12,
      Gen.listOfN(6, Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" ")))
    forAll(docGen, n = 8) { docs =>
      val out = Phrases.collocations(docs.toDF("text"), "text",
        minCount = 1L, delta = 0L, threshold = 1L)
        .as[(String, String, Long, Long, Long, Long, Long)].collect()
      out.foreach { case (_, _, cab, ca, cb, num, den) =>
        assert(cab >= 1L && cab <= math.min(ca, cb),
          s"pair count $cab exceeds unigram counts ($ca, $cb)")
        assert(den === ca * cb)
        assert(num >= den, s"below-threshold pair emitted: $num < $den")
      }
    }
  }

  test("winnowing laws: every full window covered, positions valid, deterministic") {
    import graft.operators.NearDedup
    val k = 4; val w = 3
    val textGen = Gen.listOfN(40, Gen.oneOf("a", "b", "c", "ab", "xyz"))
      .map(_.mkString(" "))
    forAll(textGen, n = 12) { text =>
      val canon = text.toLowerCase.replaceAll("\\s+", "")
      val ng = canon.length - k + 1
      val fps = NearDedup.winnowFingerprints(
          Seq((1L, text)).toDF("id", "text"), "id", "text", k, w)
        .as[(Long, Long, Long)].collect().toSeq
      if (ng < w) assert(fps.isEmpty)
      else {
        val sel = fps.map(_._2).toSet
        // the winnowing guarantee: every window of w gram positions holds
        // at least one selected fingerprint; positions are in range
        for (i <- 0 to ng - w)
          assert((i until i + w).exists(p => sel.contains(p.toLong)),
            s"uncovered window at $i in '$canon'")
        assert(sel.forall(p => p >= 0 && p < ng))
      }
    }
  }

  test("winnowFpSets equals the batch winnow selection's distinct fp set per doc") {
    import graft.operators.NearDedup
    val k = 4; val w = 3
    val textGen = Gen.listOfN(6, Gen.oneOf(
      Gen.listOfN(40, Gen.oneOf("a", "b", "c", "ab", "xyz")).map(_.mkString(" ")),
      Gen.const(""), Gen.const(null: String)))
    forAll(textGen, n = 10) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val batch = NearDedup.winnowFingerprints(docs, "id", "text", k, w)
        .select("id", "fp").as[(Long, Long)].collect()
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val streamed = NearDedup.winnowFpSets(docs, "id", "text", k, w)
        .as[(Long, Seq[Long])].collect().map { case (i, f) => i -> f.toSet }.toMap
      assert(streamed == batch,
        s"per-row winnow set diverged from the batch window formulation")
      // sets are genuinely distinct within a row (array_distinct applied)
      NearDedup.winnowFpSets(docs, "id", "text", k, w)
        .as[(Long, Seq[Long])].collect()
        .foreach { case (_, f) => assert(f.distinct == f) }
    }
  }

  test("hammingPairs64 equals brute force within the budget (pigeonhole completeness)") {
    import graft.operators.NearDedup
    val sigGen = Gen.listOfN(10, Gen.choose(Long.MinValue, Long.MaxValue))
      .map(_.zipWithIndex.map { case (s, i) => (i.toLong, s) })
    // mix in clustered signatures (few flipped bits) so pairs exist
    val clustered = Gen.choose(Long.MinValue, Long.MaxValue).flatMap { base =>
      Gen.listOfN(8, Gen.choose(0, 63)).map { flips =>
        flips.zipWithIndex.map { case (f, i) => (i.toLong, base ^ (1L << f)) }
      }
    }
    forAll(Gen.oneOf(sigGen, clustered), n = 10) { sigs =>
      for (budget <- Seq(0, 3, 8)) {
        val got = NearDedup.hammingPairs64(sigs.toDF("id", "sig"), maxHamming = budget)
          .as[(Long, Long, Int)].collect().toSet
        val want = (for {
          (ia, sa) <- sigs; (ib, sb) <- sigs if ia < ib
          d = java.lang.Long.bitCount(sa ^ sb) if d <= budget
        } yield (ia, ib, d)).toSet
        assert(got == want, s"budget $budget: got $got want $want")
      }
    }
  }

  test("excision conserves words: kept + removed = total, removed = span mass") {
    import graft.operators.Contamination
    val wordGen = Gen.oneOf("aa", "bb", "cc", "dd", "ee")
    val docGen = Gen.listOfN(6, Gen.listOfN(9, wordGen).map(_.mkString(" ")))
    forAll(docGen, n = 8) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val bench = docs.filter(col("doc_id") === 0)
      val spans = Contamination.contaminationSpans(docs, "doc_id", "text", bench, "text", n = 3)
        .as[(Long, Long, Long, Long)].collect().toSeq
      // spans are disjoint per doc, so their word mass is a plain sum
      val spanWords = spans.groupBy(_._1).view
        .mapValues(_.map(s => s._3 - s._2 + 1).sum).toMap
      val out = Contamination.exciseContaminatedSpans(docs, "doc_id", "text", bench, "text", n = 3)
        .as[(Long, String, Long)].collect().toSeq
      assert(out.size == texts.size)
      out.foreach { case (id, clean, removed) =>
        val total = texts(id.toInt).split("\\s+").count(_.nonEmpty)
        val kept = clean.split("\\s+").count(_.nonEmpty)
        assert(kept + removed == total, s"doc $id: $kept + $removed != $total")
        assert(removed == spanWords.getOrElse(id, 0L), s"doc $id removed != span mass")
      }
      // spans never overlap within a doc (the round-9 merge contract)
      spans.groupBy(_._1).values.foreach { ss =>
        val sorted = ss.sortBy(_._2)
        sorted.zip(sorted.drop(1)).foreach { case (a, b) =>
          assert(a._3 < b._2, s"overlapping spans $a / $b")
        }
      }
    }
  }
}
