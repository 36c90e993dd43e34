package graft

/** Regression guard for the 100 TB plan shapes PLANS.md documents: these
  * assertions fail if a future refactor silently reintroduces a cartesian
  * product, a global sort where a top-k heap suffices, or a join where the
  * join-free formulation is the point. Queries run at sf0.001 — the shape,
  * not the timing, is under test.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.count() // materialize so AQE settles the final executed plan
    df.queryExecution.executedPlan.toString
  }

  /** The `== Final Plan ==` section of the executed AQE plan after a
    * `collect()`: the re-planned joins and the `*(n)` whole-stage-codegen
    * markers, without the `== Initial Plan ==` copy the full string repeats
    * (which would count every operator twice).
    */
  private def finalPlanOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), s"AQE plan not final:\n$p")
    val from = p.indexOf("== Final Plan ==")
    val to = p.indexOf("== Initial Plan ==")
    p.substring(from, if (to > from) to else p.length)
  }

  private def finalPlanOf(name: String): String =
    finalPlanOf(SparkEntry.queries(name)(spark, sf))

  private def occurrences(p: String, s: String): Int =
    java.util.regex.Pattern.quote(s).r.findAllIn(p).size

  /** Hash exchanges EXCLUDING Tuning.spread's degenerate-input fan-out
    * (REPARTITION_BY_NUM of narrow pre-kernel rows — a no-op on any
    * production-scale scan, so it is not part of the 100 TB plan shape
    * these tests pin; the data-moving exchanges under test are all
    * ENSURE_REQUIREMENTS).
    */
  private def requiredHashExchanges(p: String): Int =
    "Exchange hashpartitioning[^\n]*".r.findAllIn(p)
      .count(m => !m.contains("REPARTITION_BY_NUM"))

  test("every registered query has a DuckDB oracle") {
    val registered = SparkEntry.queries.keySet
    val withOracle = SparkEntry.oracleSql.keySet
    assert(registered == withOracle,
      s"no oracle: ${registered -- withOracle}; no query: ${withOracle -- registered}")
  }

  test("q192 sharded JDBC pull scans through 4 partitioned connections") {
    val df = SparkEntry.queries("q192_jdbc_sharded")(spark, sf)
    // partitionColumn sharding is the point: the scan must carry one task
    // per range predicate, not a single JDBC connection
    assert(df.rdd.getNumPartitions == 4,
      s"expected 4 JDBC partitions, got ${df.rdd.getNumPartitions}")
    assert(df.count() == 25L)
  }

  test("q103/q181 budgeted Lloyd assignment is the compiled kernel, not a cross-join") {
    // Round 13: with the default centroid budget the cell assignment runs
    // as the graft_nearest_centroid_cos narrow map — the corpus×k
    // BroadcastNestedLoopJoin (and its per-pair 64-dim array traffic, the
    // q103 sf1 session-spread mechanism) must NOT reappear. q103's only
    // joins are the within-cell pair join and the kept-flag left join.
    for (q <- Seq("q103_semdedup", "q181_cluster_balance")) {
      val p = planOf(q)
      assert(p.contains("graft_nearest_centroid_cos"),
        s"$q assignment not on the compiled kernel:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"$q corpus×k cross-join reappeared:\n$p")
    }
  }

  test("q128/q132 PQ encode is the compiled kernel, not a corpus×codebook join") {
    // Round 13: with the default centroid budget the per-(row, subspace)
    // code assignment runs as the graft_nearest_code_l2 narrow map. The
    // corpus×(m·ksub) encode join this replaced was the whole residual of
    // the budgeted q128 at sf10 (36.3 s → 3.4 s). The per-QUERY ADC table
    // (m × ksub rows, queries-sized cross) is legitimate, so this pins
    // kernel PRESENCE, not join absence.
    for (q <- Seq("q128_pq_topk", "q132_pq_reuse")) {
      val p = planOf(q)
      assert(p.contains("graft_nearest_code_l2"),
        s"$q encode not on the compiled kernel:\n$p")
    }
  }

  test("q52 IVF assignment is the compiled cosine kernel on the md5 seed") {
    // Same rule as the Lloyd/PQ family: the CORPUS-side cell assignment is
    // the graft_nearest_centroid_cos narrow map, never a broadcast-cross +
    // row_number window. The QUERY-side probing legitimately keeps a
    // queries×centroids broadcast cross (top-nProbe cells over an
    // nCentroids-row table), so kernel presence is the pin — once per row:
    // an inferred isnotnull(cell) filter would call it again below the
    // projection. The L2 kernel and the xxhash64 seed, which no SQL engine
    // replays, must not return.
    val p = finalPlanOf("q52_ivf_topk")
    assert(occurrences(p, "graft_nearest_centroid_cos(") == 1,
      s"q52 assignment not one compiled kernel call:\n$p")
    assert(!p.contains("graft_nearest_centroids"), s"q52 plans the L2 kernel:\n$p")
    assert(!p.contains("xxhash64"), s"q52 plans xxhash64:\n$p")
  }

  test("q46 exact jaccard plans no cartesian / nested-loop join, df cap present") {
    val p = planOf("q46_ngram_jaccard")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested loop in:\n$p")
    // the hot-shingle df guard: boilerplate shingles are anti-joined away
    // (broadcast) BEFORE the quadratic self-join can see them
    assert(p.contains("LeftAnti"), s"no df-cap anti-join in:\n$p")
  }

  test("q46 exact jaccard shingles each row once per scan branch") {
    // `explode(sh)` on a bare attribute made Spark infer
    // `size(sh) > 0 AND isnotnull(sh)` and push it below the shingle
    // projection: two more kernel calls per row in that Filter.
    val p = SparkEntry.queries("q46_ngram_jaccard")(spark, sf)
      .queryExecution.optimizedPlan.toString
    val scans = "(?m)^.*Relation [^\n]*parquet".r.findAllIn(p).size
    val kernels = occurrences(p, "graft_shingles(")
    assert(scans > 0, s"no scan in:\n$p")
    assert(kernels == scans, s"$kernels shingle calls over $scans scans in:\n$p")
  }

  test("q47/q93 minhash verify: one jaccard kernel per pair, whole-stage compiled") {
    // Projected as a column, the score was inlined into the threshold
    // filter, pushed into the rejoin as a join condition, and computed
    // again in the output projection.
    for (q <- Seq("q47_minhash_pairs", "q93_minhash_portable")) {
      val p = finalPlanOf(q)
      val lines = p.linesIterator.filter(_.contains("graft_jaccard_sim(")).toSeq
      assert(occurrences(p, "graft_jaccard_sim(") == 1, s"$q verify kernel count in:\n$p")
      assert(lines.forall(l => "\\*\\(\\d+\\) ".r.findFirstIn(l).isDefined),
        s"$q verify kernel outside whole-stage codegen in:\n$p")
    }
  }

  test("q47/q48 minhash pairs run one signature pass on the md5 band keys") {
    // The aggregate + anti-join bucket cap of the xxhash64 pipeline planned
    // a second signature branch that exchange reuse did not share; the
    // window cap rides the exchange the pair search needs. The pairs come
    // from one read of the capped relation, so the window count runs once
    // (a band self-join ran it once per join side, below exchange reuse),
    // and so does the dropped-bucket observe on it.
    for (q <- Seq("q47_minhash_pairs", "q48_minhash_dedup")) {
      val p = finalPlanOf(q)
      assert(occurrences(p, "graft_minhash_sig(") == 1, s"$q signature kernel count in:\n$p")
      assert(!p.contains("xxhash64(concat_ws"), s"$q xxhash64 band key in:\n$p")
      assert(occurrences(p, "CollectMetrics lsh_dropped_buckets_") == 1,
        s"$q dropped-bucket observe count in:\n$p")
      assert(occurrences(p, "Window [count(1)") == 1, s"$q window-count cap count in:\n$p")
    }
  }

  test("q51/q53/q95 sign-LSH buckets on the plane kernel under the windowed cap") {
    // One bucket relation on the portable plane basis: the hyperplane
    // kernel and its aggregate + anti-join cap are gone, the corpus side
    // runs the plane kernel once, and the pair search (q53, q95) reads the
    // capped relation once, so the window count and the dropped-bucket
    // observe on it run once (q51's top-k caps the corpus side once too).
    // lshTopK's query side signs its own rows, so q51 has one more kernel
    // call.
    for ((q, kernels) <- Seq("q51_lsh_topk" -> 2, "q53_cosine_neardup" -> 1, "q95_lsh_portable" -> 1)) {
      val p = finalPlanOf(q)
      assert(occurrences(p, "graft_plane_sigs(") == kernels, s"$q plane kernel count in:\n$p")
      assert(!p.contains("graft_hyperplane_sig("), s"$q hyperplane kernel in:\n$p")
      assert(occurrences(p, "CollectMetrics lsh_dropped_buckets_") == 1,
        s"$q dropped-bucket observe count in:\n$p")
      assert(occurrences(p, "Window [count(1)") == 1, s"$q window-count cap count in:\n$p")
    }
  }

  test("connected components symmetrize minhash edges in one pass, verifying once") {
    // A two-branch union shared the pair pipeline's exchanges, but the
    // stage after them (candidate read, both shingle rejoins, the verify
    // kernel) ran once per branch.
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val edges = operators.Clustering.symmetricEdges(
      operators.NearDedup.minhashPairs(docs, "doc_id", "text"), "id_a", "id_b")
    val p = finalPlanOf(edges)
    assert(!p.contains("Union"), s"union in the edge build:\n$p")
    assert(occurrences(p, "graft_jaccard_sim(") == 1, s"verify kernel count in:\n$p")
    assert(edges.count() > 0, "no edges at sf0.001")
  }

  test("q14 top-k plans TakeOrderedAndProject, not a global sort") {
    val p = planOf("q14_maxn")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$p")
  }

  test("q57 as-of join plans join-free (window formulation)") {
    val p = planOf("q57_asof_join")
    assert(!p.contains("Join"), s"unexpected join operator in:\n$p")
    assert(p.contains("Window"), s"expected window in:\n$p")
  }

  test("q58 range join never falls back to nested-loop") {
    val p = planOf("q58_range_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi fallback in:\n$p")
  }

  test("q76 heavy hitters recount is candidate-gated (semi join present)") {
    val p = planOf("q76_heavy_hitters")
    assert(p.contains("LeftSemi"), s"no semi-join gate in:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k tail in:\n$p")
  }

  test("q45 exact dedup shuffles once, on the materialized fingerprint") {
    val p = planOf("q45_exact_dedup")
    // one hash-partitioned exchange for the window (the input-spread
    // repartitions move narrow pre-hash rows and don't count); AQE may add
    // reads but no second shuffle of the data
    val exchanges = requiredHashExchanges(p)
    assert(exchanges == 1, s"expected exactly one hash exchange, got $exchanges in:\n$p")
  }

  test("q100 sliding chunking is a pure narrow map — zero exchanges") {
    val p = planOf("q100_chunk_overlap")
    assert(!p.contains("Exchange"), s"unexpected shuffle in:\n$p")
    assert(p.contains("Generate"), s"expected explode in:\n$p")
  }

  test("q98 hash split shuffles only for the final aggregation") {
    val p = planOf("q98_hash_split")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected one agg exchange, got $exchanges in:\n$p")
  }

  test("q97 span stats never builds a doc-pair join (counts, not pairs)") {
    val p = planOf("q97_dup_spans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise blow-up in:\n$p")
  }

  test("q90 LM-quality scoring pass is shuffle-free (table probed in codegen)") {
    val p = planOf("q90_lm_quality")
    assert(requiredHashExchanges(p) == 0 && !p.contains("SinglePartition"),
      s"unexpected shuffle in scoring pass:\n$p")
    assert(p.contains("graft_char_ngram_freq_stats"), s"kernel missing in:\n$p")
  }

  test("q102 span removal stays equi-join only (no pairwise or range fallback)") {
    val p = planOf("q102_span_remove")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise blow-up in:\n$p")
    // The tokenize -> gram pipeline is materialized ONCE (localCheckpoint):
    // the final plan must read the checkpointed scratch stages, never
    // re-scan the parquet corpus per consumer (the round-7 5x regression).
    assert(!p.contains("Scan parquet"), s"corpus re-scan past the checkpoint in:\n$p")
    assert(p.contains("Scan ExistingRDD"), s"expected checkpointed stage scan in:\n$p")
  }

  test("q148 quantiles aggregate before the single-partition window (no corpus sort)") {
    val p = planOf("q148_quantile_thresholds")
    // corpus rows must collapse in a hash aggregation BEFORE anything is
    // globally ordered; the only single-partition stage is the bounded
    // distinct-value table, and the pct table joins broadcast-side
    assert(p.contains("HashAggregate"), s"no value-keyed aggregation in:\n$p")
    assert(!p.contains("CartesianProduct"), s"partition-pair cartesian in:\n$p")
    // the single-partition exchange (the window's input) must be fed by the
    // hash aggregation, never by the raw scan: in the root-first plan
    // string, the scan sits BELOW (after) the aggregate
    val single = p.indexOf("Exchange SinglePartition")
    val scan = p.indexOf("Scan parquet")
    val agg = p.lastIndexOf("HashAggregate", if (scan >= 0) scan else p.length)
    assert(single >= 0, s"no single-partition stage (window input) in:\n$p")
    assert(scan > single && agg > single && agg < scan,
      s"expected scan -> aggregate -> single-partition ordering in:\n$p")
  }

  test("q106 classifier scoring is a pure narrow map — zero exchanges") {
    val p = planOf("q106_quality_classifier")
    assert(requiredHashExchanges(p) == 0 && !p.contains("SinglePartition"),
      s"unexpected shuffle in scoring:\n$p")
  }

  test("q107 keyword retrieval filters before the shuffle, top-k heap tail") {
    val p = planOf("q107_keyword_topk")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$p")
    // the term filter runs on the exploded tokens BEFORE any content
    // exchange, so only matching rows ever shuffle. Exchange count depends
    // on whether the input spread fired (it no-ops when the scan already
    // supplies a quarter of the cores — this spec env): with the doc-keyed
    // spread both count-distinct phases ride its partitioning (0 content
    // exchanges); without it the classic two distinct-agg exchanges stand.
    val exchanges = requiredHashExchanges(p)
    assert(exchanges == 0 || exchanges == 2,
      s"expected 0 (spread-ridden) or 2 (distinct-agg) exchanges, got $exchanges in:\n$p")
    assert(p.contains("Filter"), s"term filter missing in:\n$p")
  }

  test("q110 BPE pair counts aggregate word table, top-k heap tail") {
    val p = planOf("q110_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), s"no top-k operator in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q111 bloom probe broadcasts the bit set, never a pairwise join") {
    val p = planOf("q111_bloom_decontaminate")
    assert(p.contains("BroadcastHashJoin"), s"bit set not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"corpus-sized join in:\n$p")
  }

  test("q112 DSIR scoring joins the weight table broadcast-side") {
    val p = planOf("q112_dsir")
    assert(p.contains("BroadcastHashJoin"), s"weight table not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-sized shuffle join in:\n$p")
  }

  test("q116 count-min builds a bounded grid: sketch agg + broadcast lookup") {
    val p = planOf("q116_countmin")
    assert(p.contains("BroadcastHashJoin"), s"sketch not broadcast in:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
  }

  test("q117 HLL is aggregation-only — no join anywhere in the sketch") {
    val p = planOf("q117_hll")
    // the exact-count comparison column joins one single-row frame; the
    // sketch side itself must stay join-free beyond that
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"unexpected heavy join in:\n$p")
  }

  test("q135 HTML extraction is a pure narrow map — zero exchanges, codegen'd") {
    val p = planOf("q135_html_extract")
    assert(!p.contains("Exchange"), s"shuffle in a narrow extraction:\n$p")
    // the '*(n)' prefix is executedPlan.toString's whole-stage-codegen marker
    assert(p.contains("*(1) Project"), s"extraction fell out of codegen:\n$p")
  }

  test("q137 RRF fusion: no partition-pair cartesian; query side meets corpus broadcast-only") {
    val p = planOf("q137_hybrid_rrf")
    // a CartesianProduct would mean two big sides met pairwise; the
    // BroadcastNestedLoopJoins that DO appear are bruteForceTopK's
    // deliberate corpus × broadcast(tiny query set) scan — the correct
    // brute-force ANN shape. Fusion's own full-outer join is
    // candidate-sized by construction (≤ k·queries rows per side).
    assert(!p.contains("CartesianProduct"), s"partition-pair cartesian in:\n$p")
    assert(p.contains("BroadcastExchange"), s"query side not broadcast in:\n$p")
  }

  test("q142 PQ serve: pushed-down query scan, broadcast ADC table, no cartesian") {
    val p = planOf("q142_pq_serve")
    // the stored-index serve tier: the single query's vector scan must be
    // pushdown-pruned, every join broadcast (ADC table, candidate refine),
    // and nothing pairwise
    assert(!p.contains("CartesianProduct"), s"cartesian in serve path:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-sized shuffle join in serve path:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(vec_id), EqualTo(vec_id,0)]"),
      s"query filter not pushed to the embeddings scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"ADC/refine joins not broadcast:\n$p")
  }

  test("q143 tfidf serve: query tokenization only, index joined without corpus re-scan") {
    val p = planOf("q143_tfidf_serve")
    assert(!p.contains("CartesianProduct"), s"cartesian in serve path:\n$p")
    // exactly one scan of the documents table (the query row; pushdown
    // pruned) — the corpus postings come from the persisted index parquet
    val docScans = "Location.*documents\\.parquet".r.findAllIn(p).size
    assert(docScans == 1, s"expected 1 documents scan (the query row), got $docScans:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,0)]"),
      s"query filter not pushed to the documents scan:\n$p")
  }

  test("q198 champion serve: query tokenization only, stored champion index joined without corpus re-scan") {
    // the round-15 serve tier behind the sf100 flat-serve claim (0.44 s at
    // 1.28M docs, 0.40 s at 12.8M — BENCH_sf100_retrieval.json): the plan
    // must prove the corpus is never re-tokenized at serve time, or the
    // flatness is an accident of a warm cache rather than a structure.
    val p = planOf("q198_tfidf_champion_serve")
    assert(!p.contains("CartesianProduct"), s"cartesian in serve path:\n$p")
    // exactly one scan of the documents table (the query row; pushdown
    // pruned) — the champion postings come from the persisted index parquet
    val docScans = "Location.*documents\\.parquet".r.findAllIn(p).size
    assert(docScans == 1, s"expected 1 documents scan (the query row), got $docScans:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(doc_id), EqualTo(doc_id,0)]"),
      s"query filter not pushed to the documents scan:\n$p")
    // and the champion truncation happened at BUILD time: the serve plan's
    // only window is the per-query rank cut (partitioned by query_id); the
    // two-stage champion cut would betray a per-query index rebuild by its
    // salted pre-cut (pmod(xxhash64(doc_id), 64)) and its t-partitioned
    // windows
    assert(!p.contains("xxhash64"), s"champion cut leaked into the serve plan:\n$p")
    val windowParts = "windowspecdefinition\\((\\w+)#".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(windowParts == Set("query_id"),
      s"serve plan windows partitioned by $windowParts (expected query_id only):\n$p")
  }

  test("tfidf index build: per-doc tf is row-local — no (doc, term) exchange") {
    // Round 15: termCounts computes per-document term frequency inside the
    // document's own row (a typed mapPartitions kernel), replacing the
    // explode → groupBy(doc_id, t) formulation whose corpus-sized exchange
    // was the index build's largest avoidable term. The kernel alone must
    // plan as a pure narrow map...
    val docs = spark.read.parquet(sf + "/documents.parquet")
    val tf = graft.operators.Retrieval.termCounts(docs, "doc_id", "text")
    tf.count()
    val tfPlan = tf.queryExecution.executedPlan.toString
    assert(requiredHashExchanges(tfPlan) == 0, s"tf kernel shuffled:\n$tfPlan")
    // ...and the full champion build shuffles only on the TERM axis (df
    // aggregation, champion-cut windows, postings join): no exchange may
    // key directly on doc_id — the signature of the removed per-(doc, term)
    // tf shuffle. (The salted pre-cut's pmod(xxhash64(doc_id)) references
    // doc_id inside a hash, not as a direct key — that one is by design.)
    val idx = graft.operators.Retrieval.sparseTfIdfIndex(
      docs, "doc_id", "text", maxPostings = 100)
    idx.count()
    val p = idx.queryExecution.executedPlan.toString
    val docKeyed = "Exchange hashpartitioning\\(doc_id#[^\n]*".r.findAllIn(p)
      .count(m => !m.contains("REPARTITION_BY_NUM"))
    assert(docKeyed == 0, s"doc_id-keyed exchange reappeared in the build:\n$p")
    assert(p.contains("Exchange"), s"expected the term-axis exchanges in:\n$p")
  }

  test("q150 snapshot diff joins fingerprints, not payloads") {
    val p = planOf("q150_snapshot_diff")
    // the md5 fingerprint must be computed BELOW the join (each side reduces
    // to key + 16-byte hash before the exchange), so no join operand carries
    // the text column
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"non-equi fallback in:\n$p")
    val joinLine = p.linesIterator.find(_.contains("FullOuter")).getOrElse("")
    assert(joinLine.nonEmpty, s"no full-outer join in:\n$p")
    assert(!joinLine.contains("text"), s"diff join carries the payload:\n$joinLine")
  }

  test("q151 CDC apply is join-free: one window over the union") {
    val p = planOf("q151_cdc_apply")
    assert(!p.contains("Join"), s"MERGE fell back to a join plan:\n$p")
    assert(p.contains("Window"), s"expected the row_number window in:\n$p")
    assert(p.contains("Union"), s"expected base+feed union in:\n$p")
  }

  test("q152 collocations: token arrays materialize once, joins stay vocabulary-sized") {
    val p = planOf("q152_collocations")
    assert(!p.contains("CartesianProduct"), s"cartesian in:\n$p")
    // the corpus never re-tokenizes: every consumer reads the checkpointed
    // token RDD, so zero parquet scans of documents survive in the plan
    assert(!p.contains("documents.parquet"), s"corpus re-scan past the checkpoint:\n$p")
    // N arrives as a broadcast one-row join, never a shuffle
    assert(p.contains("BroadcastNestedLoopJoin Cross") || p.contains("BroadcastHashJoin"),
      s"total-count join not broadcast:\n$p")
  }

  test("q156 interval join is a bucket equi-join: no theta fallback, one session exchange") {
    val p = planOf("q156_interval_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval theta-join fell back to nested loop:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"incident side not broadcast:\n$p")
  }

  test("q153 fuzzy pairs block before the quadratic: equi-join on the block key") {
    val p = planOf("q153_fuzzy_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unblocked pairwise join in:\n$p")
    // the thresholded levenshtein runs as a codegen'd post-join filter
    assert(p.contains("levenshtein"), s"distance filter missing from:\n$p")
  }

  test("q176 winnowing pairs: fingerprint postings equi-join, df cap, no cartesian") {
    val p = planOf("q176_winnow_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise join in:\n$p")
    // hot fingerprints (boilerplate) are anti-joined away before the
    // postings self-join can square them
    assert(p.contains("LeftAnti"), s"no hot-fingerprint cap in:\n$p")
  }

  test("q93 portable minhash: windowed hot-bucket cap guards the band pair search") {
    val p = planOf("q93_minhash_portable")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise join in:\n$p")
    // the round-12 cap: oversized (band, bk) buckets are dropped whole by
    // a count-over-(band, bk) window filter BEFORE any pair is made —
    // previously the one uncapped quadratic in the library (native
    // minhashPairs and portable simhash both already had a cap). The
    // window form is one signature pass: the bucket count rides the same
    // exchange the pair search needs.
    assert(p.contains("Window"), s"no window-count cap in:\n$p")
    // the window filter must sit UNDER the (band, bk) collect_list
    // aggregate whose id lists feed the pairs (guarding it), not above:
    // the plan line order proves the cap runs before any id is collected.
    // Anchor on the SPECIFIC nodes (round-13 advice): the cap is the
    // window over (band, bk) and the guarded node is the aggregate keyed
    // on (band, bk) — a bare indexOf("Window") / indexOf("Aggregate")
    // would flip on any unrelated window or aggregate the plan gains later.
    val capIdx = "(?m)^.*Window.*band#.*bk#.*$".r
      .findFirstMatchIn(p).map(_.start).getOrElse(-1)
    val aggIdx = "(?m)^.*Aggregate\\(keys=\\[band#\\d+, bk#\\d+\\].*collect_list.*$".r
      .findFirstMatchIn(p).map(_.start).getOrElse(-1)
    assert(capIdx >= 0, s"no count-over-(band, bk) window cap in:\n$p")
    assert(aggIdx >= 0, s"no (band, bk)-keyed collect_list aggregate in:\n$p")
    assert(capIdx > aggIdx,
      s"window cap not below the pair-feeding aggregate in:\n$p")
    // the pairs come from the per-bucket id lists: no band self-join is
    // left to run the window once per side
    assert(!"(?m)^.*Join.*band#.*bk#.*$".r.findFirstIn(p).isDefined,
      s"(band, bk)-keyed join in:\n$p")
    // The signature is one compiled kernel per row: no shingle explode
    // feeding a min aggregation (the formulation it replaced ran 32 min
    // aggregates over one row per shingle, behind a shuffle on id).
    assert(p.contains("graft_minhash_sig"), s"no signature kernel in:\n$p")
    assert(!"(?m)^.*Generate explode\\(sh#".r.findFirstIn(p).isDefined,
      s"shingle explode in:\n$p")
    assert(!"(?m)^.*HashAggregate.*\\bmin\\(".r.findFirstIn(p).isDefined,
      s"min aggregation in:\n$p")
  }

  /** The hammingPairs64 shape: the (qi, qv) chunk rows are capped by one
    * count window, which sits below the (qi, qv) collect_list aggregate
    * whose id lists make the pairs; the cap is observed once; no join is
    * left (no chunk self-join, no aggregate + anti-join cap, no signature
    * rejoin); and the Hamming filter runs below the pair dedup, so only
    * pairs within the budget reach its exchange.
    */
  private def assertHammingPairsShape(q: String, p: String): Unit = {
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"$q pairwise join in:\n$p")
    assert(!p.contains("LeftAnti"), s"$q anti-join cap in:\n$p")
    assert(!p.contains("Join"), s"$q chunk-keyed join or signature rejoin in:\n$p")
    assert(occurrences(p, "CollectMetrics lsh_dropped_buckets_") == 1,
      s"$q dropped-bucket observe count in:\n$p")
    assert(occurrences(p, "Window [count(1)") == 1, s"$q window-count cap count in:\n$p")
    def lineIdx(re: String): Seq[Int] = re.r.findAllMatchIn(p).map(_.start).toSeq
    val capIdx = lineIdx("(?m)^.*Window \\[count\\(1\\).*qi#\\d+, qv#\\d+.*$")
    val aggIdx = lineIdx("(?m)^.*Aggregate\\(keys=\\[qi#\\d+, qv#\\d+L?\\].*collect_list.*$")
    assert(capIdx.size == 1, s"$q no count-over-(qi, qv) window cap in:\n$p")
    assert(aggIdx.nonEmpty, s"$q no (qi, qv)-keyed collect_list aggregate in:\n$p")
    assert(capIdx.head > aggIdx.max, s"$q window cap not below the pair-feeding aggregate in:\n$p")
    val dedupIdx = lineIdx("(?m)^.*HashAggregate\\(keys=\\[id_a#\\d+, id_b#\\d+\\].*$")
    val hammingIdx = lineIdx("(?m)^.*Filter .*bit_count\\(.*$")
    assert(dedupIdx.nonEmpty, s"$q no pair-dedup aggregate in:\n$p")
    assert(hammingIdx.size == 1, s"$q Hamming filter count in:\n$p")
    assert(hammingIdx.head > dedupIdx.max, s"$q Hamming filter above the pair dedup in:\n$p")
  }

  test("q49/q94 simhash: one kernel, window cap, no rejoin") {
    // One pipeline on the md5 basis: the simhash is one kernel call per
    // row (no token explode feeding a 60-sum vote aggregate), and the pairs
    // carry their signatures through hammingPairs64's capped pair search.
    for (q <- Seq("q49_simhash_pairs", "q94_simhash_portable")) {
      val p = finalPlanOf(q)
      assert(occurrences(p, "graft_simhash64(") == 1, s"$q simhash kernel count in:\n$p")
      assert(!p.contains("Generate explode(split"), s"$q token explode in:\n$p")
      assert(!"(?m)^.*HashAggregate.*\\bsum\\(".r.findFirstIn(p).isDefined,
        s"$q vote aggregate in:\n$p")
      assertHammingPairsShape(q, p)
    }
  }

  test("q178/q180 perceptual near-dup: chunk-bucketed candidates, never cartesian") {
    // candidates meet in (chunk-index, chunk-value) buckets, whose key
    // cardinality is linear in inputs (hammingPairs64's pigeonhole)
    for (q <- Seq("q178_image_neardup", "q180_audio_neardup"))
      assertHammingPairsShape(q, finalPlanOf(q))
  }

  test("non-broadcast regime: join family falls back to shuffle joins, still equi") {
    // At 100 TB some build sides exceed any broadcast ceiling; the
    // Tuning.noBroadcast switch (+ autoBroadcastJoinThreshold=-1) forces
    // that regime so its plan shape is pinned: the SAME equi-joins, now
    // SMJ/shuffled-hash — never a nested-loop/cartesian downgrade.
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    sys.props("graft.noBroadcast") = "1"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (q <- Seq("q17_join_warn", "q156_interval_join", "q77_salted_join")) {
        val p = planOf(q)
        assert(!p.contains("BroadcastHashJoin"),
          s"$q still broadcasts under the no-broadcast switch:\n$p")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"$q has no shuffle equi-join in the fallback plan:\n$p")
        assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
          s"$q degraded to a non-equi join in the fallback:\n$p")
      }
    } finally {
      sys.props.remove("graft.noBroadcast")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
    // and with the switch off the dimension join broadcasts again — the
    // flag must not leak past its scope
    assert(planOf("q17_join_warn").contains("BroadcastHashJoin"),
      "q17 no longer broadcasts in the default regime")
  }

  test("non-broadcast regime is a pure execution change: identical results") {
    // Certification of the shuffle fallback is two-sided: the previous
    // test pins the plan (still an equi-join), this one pins the ROWS —
    // flipping the regime must be a physical-only change, never semantic.
    // Covers the whole join family the sf10 A/B measures
    // (BENCH_nb_ab_sf10.json): dimension join both on_error modes, as-of,
    // range, salted, and interval joins.
    val family = Seq("q17_join_warn", "q18_join_nullpad", "q57_asof_join",
      "q58_range_join", "q77_salted_join", "q156_interval_join")
    def rowsOf(q: String): Seq[String] =
      SparkEntry.queries(q)(spark, sf).collect().map(_.toString).sorted.toSeq
    val base = family.map(q => q -> rowsOf(q)).toMap
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    sys.props("graft.noBroadcast") = "1"
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      for (q <- family) {
        val nb = rowsOf(q)
        assert(nb.size == base(q).size,
          s"$q row count differs under no-broadcast: ${nb.size} vs ${base(q).size}")
        val firstDiff = nb.zip(base(q)).indexWhere { case (a, b) => a != b }
        if (firstDiff >= 0)
          fail(s"$q rows differ under no-broadcast at sorted index $firstDiff: " +
            s"${nb(firstDiff)} vs ${base(q)(firstDiff)}")
      }
    } finally {
      sys.props.remove("graft.noBroadcast")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
    }
  }

  test("candidate-stream observe is opt-in: no pushdown barrier by default") {
    // CollectMetrics on the candidate stream is a filter-pushdown BARRIER:
    // with it always on, q61's recall filter (id_b = id_a + offset) stopped
    // reaching the band self-join and all 27M sf10 candidates flowed
    // through the shingle verify (8 -> 22 s, measured round 14). Default
    // plans must stay barrier-free; attribution runs (Probe) opt in.
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def recallPlan(): String = {
      val dups = docs.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + 100000L)
      val df = operators.NearDedup.minhashPairs(
        docs.unionByName(dups), "doc_id", "text",
        shingleSize = 3, numPerms = 32, bands = 8, threshold = 0.7)
        .filter(col("id_b") === col("id_a") + 100000L)
      df.count()
      df.queryExecution.executedPlan.toString
    }
    // the dropped-bucket observe on the (band, bk) window cap is always-on
    // and legitimate — assert on the candidate-stream metric by NAME, not
    // on CollectMetrics presence
    val default = recallPlan()
    assert(!default.contains("minhash_verify"),
      s"default minhashPairs plan carries the candidate-stream barrier:\n$default")
    // and the pushdown it protects: the recall filter must sit BELOW the
    // shingle-verify joins (deeper in the tree = later in the plan string),
    // not at the top of the plan above them
    val filterIdx = default.indexOf("100000")
    val joinIdx = default.indexOf("Join")
    assert(filterIdx > joinIdx && joinIdx >= 0,
      s"recall filter did not push below the verify joins:\n$default")
    sys.props("graft.observeMetrics") = "1"
    try {
      val observed = recallPlan()
      assert(observed.contains("minhash_verify"),
        s"opt-in observe missing from the attribution plan:\n$observed")
    } finally sys.props.remove("graft.observeMetrics")
  }

  test("spreadTarget honors a cluster-sized shuffle width under dynamic allocation") {
    // Static cluster / bench local[N]: both knobs agree -> target = cores
    // (the shared test session pins shuffle.partitions = master threads = 4).
    assert(operators.Tuning.spreadTarget(spark) === 4)
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      // Dynamic allocation: defaultParallelism at plan time reflects only
      // the executors currently up, while shuffle.partitions is sized for
      // the full cluster — the target must follow the larger width.
      spark.conf.set("spark.sql.shuffle.partitions", "64")
      assert(operators.Tuning.spreadTarget(spark) === 64)
      // A shuffle width BELOW the live parallelism (streaming gates pin 8
      // state stores around .start()) must never shrink the target.
      spark.conf.set("spark.sql.shuffle.partitions", "2")
      assert(operators.Tuning.spreadTarget(spark) ===
        spark.sparkContext.defaultParallelism)
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
