package graft.operators

import org.apache.spark.sql.{Column, DataFrame}

/** Cross-cutting execution-regime switches.
  *
  * [[noBroadcast]] disables every EXPLICIT broadcast hint the library's
  * join-family operators place (joinBabe's dimension hint, the
  * range/interval equi-join right sides), so the shuffle/SMJ fallback
  * paths the 100 TB story assumes can be exercised and MEASURED on the
  * same queries — at production scale some build sides exceed any
  * broadcast threshold, and a path that has never run is not a fallback.
  * Pair it with `spark.sql.autoBroadcastJoinThreshold=-1` (Bench does
  * this automatically when the env var is set) so Catalyst doesn't
  * re-promote the hint-less joins back to broadcast.
  *
  * Read from the `graft.noBroadcast` system property (tests) or the
  * `SPARK_GRAFT_NO_BROADCAST` environment variable (bench runs); truthy
  * values are "1"/"true". Deliberately a def, not a val: specs flip the
  * property around individual plan assertions.
  */
object Tuning {
  def noBroadcast: Boolean =
    sys.props.get("graft.noBroadcast")
      .orElse(sys.env.get("SPARK_GRAFT_NO_BROADCAST"))
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  /** Opt-in stage-attribution metrics on the HOT candidate stream
    * (minhashPairs' verify-stage candidate count). A `CollectMetrics`
    * node is a pushdown BARRIER: Catalyst must not move a filter through
    * it (the count would change), so an always-on observe between
    * candidate generation and a caller's selective filter disables the
    * pushdown that makes recall-gate-shaped queries cheap — measured at
    * sf10, the observe cost q61 a 2.5× inflation (8 → 22 s) because its
    * `id_b = id_a + offset` filter stopped reaching the band self-join
    * and all 27.3M candidates flowed through the shingle verify. Default
    * OFF; graft.Probe flips it on for attribution runs. Side-channel
    * observes (dropped-bucket/shingle/fingerprint volumes) stay
    * unconditional: they hang off count-only aggregate branches, or, for
    * the LSH dropped buckets, off the (band, bk) / (t, sig) / (qi, qv)
    * window-count cap, never the candidate stream. No filter on the pair
    * output can cross that window anyway: a filter on ids stops right
    * above the pair generation (the ids are generated there), and a window
    * only passes filters on its partition keys.
    */
  def observeMetrics: Boolean =
    sys.props.get("graft.observeMetrics")
      .orElse(sys.env.get("SPARK_GRAFT_OBSERVE"))
      .exists(v => v == "1" || v.equalsIgnoreCase("true"))

  /** Spread a DEGENERATE input layout across the cluster before a CPU-heavy
    * per-row kernel (gram/shingle explodes, md5/regex scoring, vector math).
    *
    * The problem this fixes is input skew in the §2.5 sense: a table that
    * arrives as one unsplittable unit — one small file, or one parquet ROW
    * GROUP, which the reader never splits across tasks — scans as a single
    * partition, so every narrow map stacked on the scan (exactly where the
    * per-row kernels live) serializes on one core while the rest of the
    * cluster idles. The fix is the guide's: repartition immediately after
    * the read, paying one exchange of the NARROW input rows before any
    * explode multiplies them.
    *
    * Scale-adaptive by construction, not by configuration: the repartition
    * fires only when the plan's existing partitioning supplies less than a
    * QUARTER of `defaultParallelism`. A production-scale table arrives as
    * thousands of splits, so this is a verbatim no-op there — no shuffle is
    * ever added where the scan is already parallel. The quarter threshold
    * is measured, not aesthetic: a 1-split scan on 32 cores is the
    * degenerate case this exists for (31 cores idle), while widening a
    * 10-split scan to 32 cost more in exchange than the extra cores repaid
    * (same-JVM A/B at sf10: q93 ratio 1.07 with a half threshold) — a scan
    * already within 4x of the cores is left alone.
    *
    * Keyed when the caller passes `key` columns (pre-satisfying any
    * downstream per-key window/aggregation partitioning); round-robin
    * otherwise. Results are unaffected either way: every caller's output is
    * keyed, never positional.
    */
  def spread(df: DataFrame, key: Column*): DataFrame = {
    val target = spreadTarget(df.sparkSession)
    // getNumPartitions plans the (narrow) lineage but runs no job; at scale
    // the answer is the split count and the branch below never fires.
    val cur = df.rdd.getNumPartitions
    if (cur * 4 >= target) df
    else if (key.isEmpty) df.repartition(target)
    else df.repartition(target, key: _*)
  }

  /** Spread width: the larger of `defaultParallelism` and the session's
    * shuffle-partition setting. On a static cluster (and the bench's
    * local[N], which pins both to N) the two agree and plans are
    * unchanged; under DYNAMIC allocation `defaultParallelism` at plan
    * time reflects only the executors currently up — which can be far
    * below the width the job will actually get — while
    * `spark.sql.shuffle.partitions` is sized for the full cluster, so
    * taking the max prevents silent under-spreading (round-15 advice).
    */
  private[graft] def spreadTarget(spark: org.apache.spark.sql.SparkSession): Int = {
    val dp = spark.sparkContext.defaultParallelism
    val sp = try spark.conf.get("spark.sql.shuffle.partitions").toInt
             catch { case _: Throwable => dp } // e.g. "auto" under some AQE setups
    math.max(dp, sp)
  }
}
