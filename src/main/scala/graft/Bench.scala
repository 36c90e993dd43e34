package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR, prints one JSON line with per-query seconds. A query
  * that throws is listed in "errors" and omitted from the timing map —
  * failures are never silently recorded as timings, and summing "queries"
  * reproduces "value" up to the per-entry 2-decimal rounding ("value"
  * itself is the 3-decimal sum of the unrounded timings).
  *
  * Measurement protocol (hardened after the round-5 parse failure, where a
  * WARN-level stack trace interleaved on stderr ahead of the JSON line;
  * extended in round 10 after the round-9 drift finding, where identical
  * code diverged up to 13x per query across runs and min-of-3 could not
  * attribute it):
  *  - log level OFF during the timed section — nothing but the JSON reaches
  *    the captured stream on a clean run;
  *  - min-of-3 per query (SPARK_GRAFT_BENCH_RUNS): run 1 swallows cold-path
  *    cost (memoize cache write, codegen), min over the rest is stable on a
  *    contended host;
  *  - ADAPTIVE extension: a query whose runs disagree (max/min > 1.5 with
  *    min >= 0.5 s) gets up to 2 extra runs — the contended tail is exactly
  *    where min-of-3 stopped being enough at 190 queries;
  *  - per-query evidence goes to BENCH_detail_<sf>.json: every run's
  *    seconds, the JVM GC-time delta of every run, the index of the min —
  *    so a contended run is identifiable from the artifact itself (high
  *    gc_ms on the slow runs + a clean min = host noise, uniformly slow
  *    runs with flat gc = code);
  *  - each query is materialized through a `noop`-format WRITE, not
  *    `count()` — count() lets Catalyst skip column materialization for
  *    narrow projection plans, so a write is the honest unit of work;
  *  - the JSON is ALSO written whole to BENCH_local_<sf>.json in the working
  *    directory so no consumer ever depends on a bounded stdout tail;
  *  - ONE confirmation path, the fork-isolated re-time (round 15, after an
  *    in-JVM retry "confirmed" r14's q176 at 6.37 s while a fresh JVM ran
  *    it at 1.73 s): on a full run, the main pass's absolute offenders and
  *    the snapshot commit-gate candidates (> 2x the all-time reference
  *    min, broadcast regime only) are re-timed in ONE forked fresh JVM,
  *    min-of-2 each. An absolute offender refuses the snapshot only when
  *    its fresh-JVM min is over the limit, or when the fork produced no
  *    sample for it (the main-pass evidence stands); a faster fresh min is
  *    spliced in, a slower one never worsens the record. See
  *    [[forkAdjudicate]] and [[forkRetime]]; the reference ledger
  *    (BENCH_ref_<sf>.json, [[mergeRefMins]]) only ever moves downward;
  *  - BETWEEN-QUERY hygiene (round 15): each query's leftover persists,
  *    cache entries, and final localCheckpoint blocks are dropped after
  *    its last run; per-query stor_mb/rdds/heap_mb fields in the detail
  *    artifact measure what each query left behind.
  *
  * Cross-commit A/B: one filtered fresh-JVM bench per jar
  * (SPARK_GRAFT_BENCH_ONLY, `java -cp <jar>:<spark jars> graft.Bench`),
  * alternating the sides; filtered runs key their queries object by full
  * name, so the two legs' JSON lines match key for key.
  */
object Bench {
  private def gcMs(): Long = {
    val it = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.iterator()
    var s = 0L
    while (it.hasNext) { val t = it.next().getCollectionTime; if (t > 0) s += t }
    s
  }

  private def fmt(v: Double, digits: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))

  /** Slow-query guard (round-11, after q193 landed at 658 s unremarked):
    * a full-suite run FAILS (non-zero exit) if any query's min exceeds the
    * threshold (SPARK_GRAFT_SLOW_SEC, default 5 s — sized for sf0.1; raise
    * it for sf1+ runs) without a committed `slow-budget: <name> <sec>` line
    * in PLANS.md granting it an explicit, justified budget. A budget can
    * only RAISE the limit, never tighten it below the global default.
    * Returns (name, seconds, limit) for every unremarked offender.
    */
  private[graft] def slowUnremarked(mins: Seq[(String, Double)], threshold: Double,
                                    plansText: String): Seq[(String, Double, Double)] = {
    val budgets: Map[String, Double] = plansText.linesIterator.flatMap { l =>
      val t = l.trim
      if (t.startsWith("slow-budget:"))
        t.stripPrefix("slow-budget:").trim.split("\\s+") match {
          case Array(n, b) => scala.util.Try(n -> b.toDouble).toOption
          case _ => None
        }
      else None
    }.toMap
    mins.flatMap { case (n, t) =>
      val lim = budgets.get(n).fold(threshold)(_.max(threshold))
      if (t > lim) Some((n, t, lim)) else None
    }
  }

  /** Per-sf default for the slow-query guard: 5 s sized for sf0.1 and
    * below, the documented 30 s convention for sf1-class runs, and 30·sf
    * above that (300 s at sf10 — a limit the round-12 k ∝ n quadratics at
    * 460/109 s would have tripped). The factor parses from the data dir's
    * basename (GenScale convention: `sf0.1`, `sf1`, `sf10`); a
    * non-sf-named dir falls back to the strict 5 s default.
    */
  private[graft] def defaultSlowLimit(sfName: String): Double =
    "^sf([0-9.]+)$".r.findFirstMatchIn(sfName)
      .flatMap(m => scala.util.Try(m.group(1).toDouble).toOption) match {
      case Some(s) if s > 1.0 => 30.0 * s
      case Some(s) if s > 0.1 => 30.0
      case _                  => 5.0
    }

  /** Snapshot file suffix for a run's guard state: a guard-clean run owns
    * the canonical `.json` names; a red run is quarantined to
    * `.rejected.json` so the committed snapshot can never carry a non-empty
    * `slow_unremarked` (round 11 closed exactly that way despite rc=2).
    */
  private[graft] def snapshotSuffix(slow: Seq[_]): String =
    if (slow.isEmpty) ".json" else ".rejected.json"

  /** qNN-prefix keys when unambiguous, full names otherwise — the keys of
    * a full run's snapshot and of the reference ledger (two queries sharing
    * a q-number prefix must not silently shadow each other in the JSON).
    */
  private[graft] def shortKeys(names: Seq[String]): Map[String, String] = {
    val short = names.map(n => n -> n.takeWhile(_ != '_'))
    if (short.map(_._2).distinct.size == short.size) short.toMap
    else names.map(n => n -> n).toMap
  }

  /** Parse the per-query mins out of a committed BENCH_local_<sf>.json
    * snapshot (flat `{"queries":{"q01":0.20,...},...}` — short keys, no
    * nesting inside the queries object). Returns empty on missing or
    * malformed input: the relative check is best-effort evidence, never a
    * reason to fail a run.
    */
  private[graft] def parseCommittedMins(snapshot: String): Map[String, Double] = {
    val marker = "\"queries\":{"
    val start = snapshot.indexOf(marker)
    if (start < 0) Map.empty
    else {
      val body = snapshot.substring(start + marker.length)
      val end = body.indexOf('}')
      if (end < 0) Map.empty
      else "\"([^\"]+)\":(-?[0-9.eE+]+)".r.findAllMatchIn(body.substring(0, end))
        .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
        .toMap
    }
  }

  /** Relative-inflation check (round 14, after the r13 driver bench carried
    * scattered 5-8× single-query outliers — q180 ×8.5, q17 ×6.0 — that
    * stayed under the 5 s absolute limit and so tripped nothing): flag any
    * query whose min exceeds `factor`× its committed-snapshot min while
    * big enough to matter (>= floorSec — sub-half-second queries swing 4×
    * on scheduler noise alone). At factor 2 this picks the snapshot
    * commit-gate candidates, which get the same fork-isolated re-time as
    * absolute offenders; survivors of the default 4× are REPORTED in the
    * artifact's `slow_relative` field with limit = factor×reference. Never a
    * refusal: the absolute contract still holds — this exists so a
    * regression that hides under the absolute limit on a fast host is
    * visible in the artifact instead of only in a human diff of snapshots.
    */
  private[graft] def slowRelative(mins: Seq[(String, Double)],
                                  keyOf: Map[String, String],
                                  ref: Map[String, Double],
                                  factor: Double = 4.0,
                                  floorSec: Double = 0.5): Seq[(String, Double, Double)] =
    mins.flatMap { case (n, t) =>
      ref.get(keyOf.getOrElse(n, n)) match {
        case Some(r) if r > 0.0 && t >= floorSec && t > factor * r =>
          Some((n, t, factor * r))
        case _ => None
      }
    }

  /** All-time per-query reference mins (BENCH_ref_<sf>.json), updated only
    * DOWNWARD: merging a run can add new queries and lower existing entries
    * but can never raise one. Round 15, closing the round-14 loophole where
    * a re-committed pressure-inflated snapshot loosened the relative check
    * exactly where it should have been tight — the reference the check
    * compares against is now monotone, so no single bad run can relax it.
    * A fresh min below 0.005 s never enters — not just the -1 failure
    * sentinel: the ledger is WRITTEN through the same 2-decimal formatter
    * as every artifact, so a 0.004 s entry would serialize as 0.00, parse
    * back as 0.0, and (because merges only ever lower entries) permanently
    * disable [[slowRelative]] and the commit gate for that query. The
    * threshold is the smallest value that round-trips the format non-zero.
    */
  private[graft] def mergeRefMins(ref: Map[String, Double],
                                  fresh: Map[String, Double]): Map[String, Double] =
    fresh.filter(_._2 >= 0.005).foldLeft(ref) { case (acc, (k, v)) =>
      acc.get(k) match {
        case Some(old) if old <= v => acc
        case _ => acc + (k -> v)
      }
    }

  /** Adjudicate guard offenders on FORK-ISOLATED evidence (round 15, after
    * session pressure burned four of five official rounds: an in-JVM
    * re-time inherits the ~200-query session's heap/block state, so it
    * "confirmed" q176 at 6.37 s in r14 while a fresh JVM at the same HEAD
    * ran it in 1.73 s). `freshMin` is the per-query min from a fresh-JVM
    * re-time ([[main]] wires it to one forked child running all offenders,
    * min-of-2 each).
    *
    * Laws: an absolute offender is confirmed ONLY if its isolated evidence
    * still exceeds the limit; with no isolated sample at all the main-pass
    * evidence stands (a fork failure must not silently clear a genuine
    * monster). Inflation candidates (over the reference-min gate but under
    * the absolute limit) only ever SPLICE an improved min — they are
    * report-only and never confirm. A fresh sample slower than the prior
    * min never worsens the recorded timing.
    *
    * Returns (improved mins to splice, still-confirmed absolute offenders).
    */
  private[graft] def forkAdjudicate(
      absolute: Seq[(String, Double, Double)],
      inflated: Seq[(String, Double, Double)],
      freshMin: String => Option[Double])
      : (Map[String, Double], Seq[(String, Double, Double)]) = {
    val absNames = absolute.map(_._1).toSet
    val updates = (absolute ++ inflated.filterNot(o => absNames(o._1))).flatMap {
      case (n, prior, _) => freshMin(n).filter(_ < prior).map(n -> _)
    }.toMap
    val confirmed = absolute.flatMap { case (n, prior, lim) =>
      val fresh = freshMin(n)
      if (fresh.forall(_ > lim)) Some((n, fresh.fold(prior)(_.min(prior)), lim))
      else None
    }
    (updates, confirmed)
  }

  /** Re-time `names` in a FRESH JVM: one forked child running the existing
    * Bench main with SPARK_GRAFT_BENCH_ONLY=<names>, min-of-`runs` each
    * (plus the child's own adaptive extension). The child is the same
    * process shape as the sf100 anchor methodology — cold session, only
    * the offenders — so its mins carry none of the parent's accumulated
    * heap/block state. Returns per-query fresh mins parsed from the
    * child's JSON line, which a filtered run keys by full name; empty on
    * any failure (fork unavailable, timeout, unparseable output) — the
    * main-pass evidence then stands.
    *
    * Works because build.sbt pins `run / fork := true`: this JVM was
    * itself forked by sbt with the full app classpath in java.class.path
    * and the Spark JDK-17 --add-opens flags in its input arguments, so
    * both replicate into the child verbatim. The child gets its own
    * SPARK_GRAFT_TMP_DIR: embedded Derby keeps every database this JVM
    * ever booted locked until exit, and both processes count derbySeq
    * from 0 — a shared scratch dir would deadlock a JDBC offender.
    */
  private def forkRetime(names: Seq[String], sfDir: String, cpus: String,
                         runs: Int): Map[String, Double] = {
    if (names.isEmpty) return Map.empty
    System.err.println(s"[bench] fork-isolated confirmation: re-timing " +
      s"${names.mkString(",")} in a fresh JVM (min-of-$runs)")
    try {
      import scala.jdk.CollectionConverters._
      val javaBin = new java.io.File(
        new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
      val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-javaagent"))
      val cp = System.getProperty("java.class.path")
      val cmd = Seq(javaBin) ++ jvmArgs ++ Seq("-cp", cp, "graft.Bench")
      val pb = new ProcessBuilder(cmd.asJava)
      val env = pb.environment()
      env.put("SPARK_GRAFT_BENCH_ONLY", names.mkString(","))
      env.put("SPARK_GRAFT_BENCH_RUNS", runs.toString)
      env.put("SPARK_GRAFT_SF_DIR", sfDir)
      env.put("SPARK_GRAFT_CPUS", cpus)
      env.put("SPARK_GRAFT_TMP_DIR",
        new java.io.File("target/tmp-fork").getAbsolutePath)
      // child stderr (Spark startup, its own [bench] lines) interleaves
      // into ours — harmless; child stdout is captured whole for parsing
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val p = pb.start()
      p.getOutputStream.close()
      val outBytes = new java.io.ByteArrayOutputStream()
      val drain = new Thread(() => {
        try p.getInputStream.transferTo(outBytes)
        catch { case _: Throwable => () }
      })
      drain.setDaemon(true)
      drain.start()
      val done = p.waitFor(45, java.util.concurrent.TimeUnit.MINUTES)
      if (!done) {
        p.destroyForcibly()
        System.err.println("[bench] fork confirmation TIMED OUT (45 min); " +
          "the main-pass evidence stands")
        return Map.empty
      }
      drain.join(10000)
      val mins = parseCommittedMins(outBytes.toString("UTF-8"))
      val got = names.flatMap(n => mins.get(n).map(n -> _)).toMap
      got.foreach { case (n, v) =>
        System.err.println(s"[bench] fork confirmation: $n fresh-JVM min ${fmt(v, 2)} s")
      }
      got
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] fork confirmation FAILED " +
          s"(${e.getClass.getSimpleName}: ${e.getMessage}); the main-pass " +
          "evidence stands")
        Map.empty
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Non-broadcast certification mode (SPARK_GRAFT_NO_BROADCAST=1): kill
    // the planner threshold so hint-less joins go SMJ/shuffled-hash, and
    // graft.operators.Tuning drops the library's own explicit hints — the
    // regime every build side above any broadcast ceiling lives in at
    // 100 TB. Such a run never touches the canonical snapshots (below).
    val noBroadcast = graft.operators.Tuning.noBroadcast
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = (if (noBroadcast)
      builder.config("spark.sql.autoBroadcastJoinThreshold", "-1")
    else builder).getOrCreate()
    // OFF, not WARN: round 5's driver capture opened with a logged stack
    // trace (stderr) that broke machine parsing of the JSON even though
    // rc=0 and errors=[]. Genuine query failures are still surfaced through
    // the "errors" field and our own [bench] line below.
    spark.sparkContext.setLogLevel("OFF")
    // Warm up the JVM/codegen/shuffle machinery so the first timed query
    // doesn't absorb one-time startup cost.
    spark.range(2000000).selectExpr("sum(id)").collect()
    // Touch EVERY table, not just one: the first query otherwise pays the
    // footer read + schema inference of its inputs (q01 absorbed lineitem's,
    // 0.20 -> 1.23 s in the round-7 driver bench). One limit(1) row per
    // table keeps the warm-up itself sub-second.
    for (t <- SparkEntry.fixtureTables)
      try spark.read.parquet(s"$sfDir/$t.parquet").limit(1).collect()
      catch { case _: Throwable => () }
    // Min-of-3: single-shot timings on a shared host swing up to 11x
    // (round-5 q61: 1.1s builder vs 12.4s driver); the first run also pays
    // one-time per-query cold paths. Override with SPARK_GRAFT_BENCH_RUNS.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt.max(1)
    // Optional comma-separated substring filter for iterating on one query.
    // blank/empty-token values count as unset (an empty env var would
    // otherwise run the full suite yet skip the snapshot write below)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).filter(_.nonEmpty)
    val sfName = new java.io.File(sfDir).getName

    def timeOnce(fn: (SparkSession, String) => DataFrame): (Double, Long) = {
      val g0 = gcMs()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      ((System.nanoTime() - t0) / 1e9, gcMs() - g0)
    }

    val errors = scala.collection.mutable.ArrayBuffer[String]()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      only.forall(_.exists(n.contains))
    }
    // Between-query state hygiene (round 15, the session-pressure root
    // cause): every timed run builds NEW DataFrames, so a query's persists
    // (tee), CacheManager entries, and the FINAL localCheckpoint of every
    // iterative loop (dropCheckpoint frees superseded rounds, never the
    // last one — q74/q75/q157/q193 each leave one live block set) become
    // garbage the moment its runs end — but they used to stay resident for
    // the REST of the ~200-query suite until ContextCleaner plus a driver
    // GC got to them, and that accumulation inflated the late-suite band
    // 2-3x in four of five official rounds (r14: q176 6.37 s in-suite vs
    // 1.73 s fresh-JVM, with 4-7 s GC per sample). Dropping query-final
    // state between queries is harness hygiene, not a measurement cheat:
    // runs 2..n of a query still reuse run 1's cache (the clean runs only
    // after its LAST run), cross-query in-memory reuse was never part of
    // any query's own timing, and Memoize's parquet caches live on disk
    // untouched. The per-query stor_mb/rdds/heap_mb fields in BENCH_detail
    // keep what each query leaves behind measurable.
    def storageState(): (Long, Int) = try {
      val st = spark.sparkContext.getExecutorMemoryStatus
      val used = st.values.map { case (mx, rem) => (mx - rem).max(0L) }.sum
      (used / (1024L * 1024L), spark.sparkContext.getPersistentRDDs.size)
    } catch { case _: Throwable => (-1L, -1) }
    def dropQueryState(): Unit = {
      try spark.catalog.clearCache() catch { case _: Throwable => () }
      try spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      catch { case _: Throwable => () }
    }
    val details = scala.collection.mutable.LinkedHashMap[String, (Seq[Double], Seq[Long])]()
    // (storage MB resident, persistent-RDD count) the query LEFT BEHIND
    // (sampled before hygiene) + driver heap after — the round-15
    // attribution instrumentation for the suite-accumulation mechanism.
    val sessionStats = scala.collection.mutable.LinkedHashMap[String, (Long, Int, Long)]()
    val results = selected.map { case (name, fn) =>
      val ts = scala.collection.mutable.ArrayBuffer[Double]()
      val gs = scala.collection.mutable.ArrayBuffer[Long]()
      var failed = false
      def one(): Unit =
        try { val (t, g) = timeOnce(fn); ts += t; gs += g }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          if (!errors.contains(name)) errors += name
          failed = true }
      var i = 0
      while (i < runs && !failed) { one(); i += 1 }
      // Adaptive tail: runs that disagree on a non-trivial query mean the
      // host was contended during some of them — buy up to 2 more samples
      // so the min is a real floor, not the least-bad of three noisy runs.
      // An extra run that THROWS must not demote a query that already has
      // valid timings: the tail adds evidence, it never subtracts — keep
      // the collected samples and just stop extending.
      var extend = !failed
      while (extend && ts.size < runs + 2 && ts.min >= 0.5 &&
        ts.max / ts.min > 1.5)
        try { val (t, g) = timeOnce(fn); ts += t; gs += g }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name adaptive extra run failed " +
            s"(keeping ${ts.size} valid samples): ${e.getMessage}")
          extend = false }
      if (!failed) details(name) = (ts.toSeq, gs.toSeq)
      val (storMb, rddN) = storageState()
      dropQueryState()
      val heapMb = (Runtime.getRuntime.totalMemory - Runtime.getRuntime.freeMemory) /
        (1024L * 1024L)
      sessionStats(name) = (storMb, rddN, heapMb)
      name -> (if (failed) -1.0 else ts.min)
    }
    // Key order matters: the harness capturing stdout keeps only a bounded
    // TAIL of the output (~2000 chars, with sbt's "[success]" trailer inside
    // it), and with 100 queries a full-name JSON line outgrows that buffer.
    // Three defenses: per-query timings go first (front-truncatable) and the
    // headline total/errors go LAST so they always survive; per-query keys
    // of a full run are the unique qNN id prefix (full names live in the
    // CORRECTNESS output, which shares the numbering); 2-decimal rounding.
    // Locale.ROOT: the default-locale formatter would
    // emit decimal COMMAS on comma-decimal locales and break the JSON.
    // Failed queries live ONLY in "errors": a -1.0 sentinel inside the
    // timing map made sum-of-queries diverge from "value" for any consumer
    // that aggregates the map.
    val timed = results.filter(_._2 >= 0)
    // Short keys are also the reference ledger's keys. A filtered run keys
    // its queries object by FULL name instead: the short-key mapping is
    // computed over each run's own surviving set, so matching a filtered
    // run by short key (the parent parsing its fork child, the two legs of
    // an A/B or of tools/nb_ab.sh) could silently pair different queries;
    // a filtered run writes no snapshot and its line is short.
    val refKey = shortKeys(timed.map(_._1))
    val keyOf = if (only.isEmpty) refKey else timed.map(t => t._1 -> t._1).toMap
    val errs = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Slow-query guard: a monster timing must be impossible to commit
    // unremarked (round 10's q193 sat at 658 s inside a 747 s suite with
    // zero documentation). The guard EVALUATES on every run — a filtered
    // (SPARK_GRAFT_BENCH_ONLY) family run reports offenders in its
    // slow_unremarked field so scale artifacts carry a non-vacuous guard
    // (round-12 BENCH_sf10_family had q128 at 460 s behind an empty
    // field) — but only FULL runs refuse/quarantine: filtered iteration
    // runs are exactly where a deliberately slow work-in-progress query
    // lives, so they warn and exit 0.
    //
    // Per-sf default limit (SPARK_GRAFT_SLOW_SEC overrides): 5 s is sized
    // for sf0.1 and below; sf1-class runs use the documented 30 s
    // convention; above sf1 the limit scales linearly (30·sf → 300 s at
    // sf10 — a budget the round-12 k ∝ n quadratics at 460/109 s would
    // have tripped). The sf factor parses from the data dir's basename
    // (GenScale convention: target/sf1, target/sf10); non-sf-named dirs
    // (e.g. /root/testdata/sf0.1 parses; an opaque path does not) fall
    // back to the 5 s default.
    val slowLimit = sys.env.get("SPARK_GRAFT_SLOW_SEC")
      .flatMap(v => scala.util.Try(v.toDouble).toOption)
      .getOrElse(defaultSlowLimit(sfName))
    val plansText =
      try {
        val src = scala.io.Source.fromFile("PLANS.md", "UTF-8")
        try src.mkString finally src.close()
      } catch { case _: Throwable => "" }
    val firstPassSlow = slowUnremarked(timed, slowLimit, plansText)
    // Reference mins for the relative check and the snapshot commit gate:
    // the all-time downward-only ledger (BENCH_ref_<sf>.json) when present,
    // else the last committed snapshot. Round 15: r14 committed a
    // pressure-inflated snapshot and the relative check — then pointed at
    // the last snapshot — became permissive exactly where it should have
    // been tight; the ledger can only ever move down, so no single bad run
    // relaxes it again.
    def readMins(path: String): Map[String, Double] =
      try {
        val src = scala.io.Source.fromFile(path, "UTF-8")
        try parseCommittedMins(src.mkString) finally src.close()
      } catch { case _: Throwable => Map.empty[String, Double] }
    val refLedger = readMins(s"BENCH_ref_$sfName.json")
    val refMins = if (refLedger.nonEmpty) refLedger
                  else readMins(s"BENCH_local_$sfName.json")
    // Fork-isolated confirmation, the one path ([[forkAdjudicate]]). On a
    // full run, two offender classes share ONE forked child (min-of-2
    // each, cold session, same shape as the sf100 anchor methodology):
    //  - absolute offenders of the main pass — refusal REQUIRES the
    //    fresh-JVM min over the limit, or no fresh sample at all;
    //  - the snapshot commit gate: any query > 2x its reference min
    //    (>= 0.5 s) is re-taken isolated before its value may enter the
    //    canonical snapshot, so a pressured band can no longer contaminate
    //    the committed evidence chain (r14's q64-q77/q170-q176 at 2-3x).
    // The commit gate compares against the BROADCAST-regime ledger, so a
    // no-broadcast certification run — where join-heavy queries are
    // deliberately slower than that reference — must not burn fork time
    // re-timing a regime difference (its evidence never enters the
    // canonical snapshot or the ledger anyway); its absolute offenders
    // still fork, because NB runs do refuse on them. Filtered runs never
    // refuse and never fork: their offenders go straight to the
    // report-only slow_unremarked field.
    val inflated =
      if (only.isEmpty && !noBroadcast) slowRelative(timed, refKey, refMins, factor = 2.0)
      else Nil
    val forkNames = (firstPassSlow ++ inflated).map(_._1).distinct
    val freshMins: Map[String, Double] =
      if (only.isEmpty && forkNames.nonEmpty) {
        // Shrink the parent before the child starts: the parent sits idle
        // through the fork, but a fat resident heap is exactly the co-tenant
        // load the child's measurements must not share a host with.
        dropQueryState()
        System.gc()
        forkRetime(forkNames, sfDir, cpus, 2)
      } else Map.empty
    val (forkUpdates, slow) = forkAdjudicate(firstPassSlow, inflated, freshMins.get)
    val timedFinal = timed.map { case (n, v) => n -> forkUpdates.getOrElse(n, v) }
    val slowRel = slowRelative(timedFinal, refKey, refMins).sortBy(_._1)
    val qsFinal = timedFinal.map { case (k, v) =>
      "\"" + keyOf(k) + "\":" + fmt(v, 2)
    }.mkString("{", ",", "}")
    val totalFinal = timedFinal.map(_._2).sum
    val suffix = snapshotSuffix(slow)
    def offendersJson(o: Seq[(String, Double, Double)]): String =
      o.map { case (n, t, lim) =>
        "{\"q\":\"" + n + "\",\"sec\":" + fmt(t, 2) + ",\"limit\":" + fmt(lim, 2) + "}"
      }.mkString("[", ",", "]")
    val slowJson = offendersJson(slow)
    val slowRelJson = offendersJson(slowRel)
    val nbMark = if (noBroadcast) "\"no_broadcast\":true," else ""
    val json = s"""{"queries":$qsFinal,"sf":"$sfDir",$nbMark"errors":$errs,"slow_unremarked":$slowJson,"slow_relative":$slowRelJson,"metric":"total","unit":"sec","value":${fmt(totalFinal, 3)}}"""
    // Whole-file copies for consumers that can't rely on a stdout tail —
    // full runs only: a SPARK_GRAFT_BENCH_ONLY-filtered iteration run must
    // not clobber the committed full-suite snapshots. BENCH_detail carries
    // the attribution evidence: every run, every run's GC delta, the min's
    // index, and the median — stdout keeps the compact driver contract.
    //
    // A red slow-query guard REFUSES the snapshot (round 12, after round
    // 11 closed with slow_unremarked non-empty in the committed artifact):
    // the run's evidence goes to BENCH_*_<sf>.rejected.json instead, so the
    // canonical snapshot names can only ever hold guard-clean runs and
    // "commit the red artifact anyway" stops being possible.
    // noBroadcast runs measure a deliberately different regime: their
    // evidence goes to BENCH_nobroadcast_* so a certification run can never
    // masquerade as (or clobber) the canonical broadcast-regime snapshot.
    if (only.isEmpty && noBroadcast) {
      writeFile(s"BENCH_nobroadcast_$sfName.json", json)
    } else if (only.isEmpty) {
      writeFile(s"BENCH_local_$sfName$suffix", json)
      val det = details.map { case (name, (ts, gs)) =>
        val sorted = ts.sorted
        val med = sorted((sorted.size - 1) / 2)
        "\"" + keyOf(name) + "\":{\"min\":" + fmt(ts.min, 2) +
          ",\"med\":" + fmt(med, 2) +
          ",\"min_run\":" + ts.indexOf(ts.min) +
          freshMins.get(name).fold("")(v => s""",\"fork_min\":${fmt(v, 2)}""") +
          sessionStats.get(name).fold("") { case (st, rd, hp) =>
            s""",\"stor_mb\":$st,\"rdds\":$rd,\"heap_mb\":$hp""" } +
          ",\"t\":[" + ts.map(fmt(_, 2)).mkString(",") + "]" +
          ",\"gc_ms\":[" + gs.mkString(",") + "]}"
      }.mkString("{", ",", "}")
      writeFile(s"BENCH_detail_$sfName$suffix",
        s"""{"sf":"$sfDir","base_runs":$runs,"detail":$det}""")
      // All-time reference ledger: merge this run's mins DOWNWARD-only —
      // written on every full normal-regime run (a red run's mins are
      // still honest lower-bound evidence; the merge direction makes
      // pollution impossible), never by filtered or no-broadcast runs.
      val ledger = mergeRefMins(refMins,
        timedFinal.map { case (n, v) => refKey(n) -> v }.toMap)
      val ledgerBody = ledger.toSeq.sortBy(_._1)
        .map { case (k, v) => "\"" + k + "\":" + fmt(v, 2) }
        .mkString("{", ",", "}")
      writeFile(s"BENCH_ref_$sfName.json",
        """{"note":"all-time per-query committed mins, merged only DOWNWARD """ +
          """across runs - the reference for the relative-inflation check and """ +
          """the 2x snapshot commit gate (Bench.mergeRefMins)","queries":""" +
          ledgerBody + "}")
      // A green canonical write supersedes any quarantined evidence from an
      // earlier red run at this sf — leaving the stale .rejected.json around
      // lets mixed-vintage artifacts reach a commit (round-12 tree did).
      if (suffix == ".json")
        for (p <- Seq(s"BENCH_local_$sfName.rejected.json",
                      s"BENCH_detail_$sfName.rejected.json"))
          try new java.io.File(p).delete() catch { case _: Throwable => () }
    }
    println(json)
    // Short machine-readable trailer LAST on stdout: the driver captures a
    // bounded TAIL, and the full per-query line above outgrew it four
    // rounds running (r10-r13 — the official artifact was rc=0 yet
    // parsed:null because the one-line 196-query summary truncated
    // mid-object). Everything needed to grade the run fits in this one
    // short line, which always survives a bounded tail window; per-query
    // detail lives in the full line above and the committed BENCH_* files.
    println(s"""{"metric":"total","value":${fmt(totalFinal, 3)},"unit":"sec","n_queries":${timedFinal.size},"errors":$errs,"slow_unremarked":$slowJson,"slow_relative":$slowRelJson,${nbMark}"sf":"$sfDir"}""")
    slowRel.foreach { case (n, t, lim) =>
      System.err.println(s"[bench] relative-inflation (report-only): $n ran " +
        s"${fmt(t, 2)} s vs reference-ledger limit ${fmt(lim, 2)} s (4x all-time min).")
    }
    spark.stop()
    if (slow.nonEmpty && only.isEmpty) {
      slow.foreach { case (n, t, lim) =>
        // State the evidence class that actually ran for THIS offender — a
        // refusal must never claim isolation it didn't perform (the r14
        // failure mode, inverted).
        val how =
          if (freshMins.contains(n)) "confirmed by fresh-JVM re-time"
          else "main-pass evidence only; the fork produced no sample"
        System.err.println(s"[bench] SLOW-QUERY GUARD ($how): $n ran ${fmt(t, 2)} s " +
          s"(limit ${fmt(lim, 2)} s) with no committed PLANS.md slow-budget " +
          s"line — add `slow-budget: $n <sec>` with a justification section " +
          s"or fix the query.")
      }
      System.err.println(s"[bench] snapshot REFUSED: evidence quarantined " +
        s"to BENCH_*_$sfName.rejected.json; the canonical snapshots were " +
        s"not touched.")
      sys.exit(2)
    } else if (slow.nonEmpty) {
      // filtered run: report-only — the offenders are in slow_unremarked
      // for the family artifact, but iteration runs must not fail.
      slow.foreach { case (n, t, lim) =>
        System.err.println(s"[bench] slow-query guard (report-only, " +
          s"filtered run): $n ran ${fmt(t, 2)} s, limit ${fmt(lim, 2)} s.")
      }
    }
  }

  private def writeFile(path: String, content: String): Unit =
    try {
      val w = new java.io.PrintWriter(path, "UTF-8")
      try w.println(content) finally w.close()
    } catch { case _: Throwable => () } // read-only cwd must not kill the run
}
