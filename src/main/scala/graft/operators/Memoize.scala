package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.storage.StorageLevel

/** `memoize` / `tee` (/root/reference/pybabe/base.py:177-253, 196-202).
  *
  * In-session reuse is `persist` (the reference's `tee(n)` ≈ cache + reuse).
  * Cross-session memoize — the reference pickles the stream to disk keyed by
  * (args, docstring) hash and replays it (base.py:204-242) — becomes a
  * Parquet cache keyed by the LOGICAL PLAN fingerprint: same plan ⇒ same
  * data ⇒ replay the parquet; plan changed ⇒ recompute and overwrite.
  * Parquet replaces the 1000-row pickle chunks (base.py:237) with columnar,
  * pruned, distributed reads.
  */
object Memoize {

  /** In-session memoize: disk-backed persist (spill-safe at scale). */
  def tee(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)

  /** Fingerprint of the analyzed logical plan (normalized text — stable for
    * identical pipelines within a Spark version) PLUS the input file set:
    * the analyzed plan string does NOT print file-source paths, so two runs
    * of the same pipeline over different directories would otherwise collide
    * and replay the wrong cache. The plan text is rendered with no field
    * limit, for the plan's own lists and for each expression's argument
    * list: the default rendering cuts both after
    * `spark.sql.debug.maxToStringFields` entries, so two wide projections
    * or arrays differing only past the cut would share a fingerprint. The
    * session's own setting is left as it is.
    */
  def planFingerprint(df: DataFrame): String = {
    // checkpointed/RDD-backed subtrees print as a bare `LogicalRDD [cols]`
    // and report NO input files, so two pipelines over DIFFERENT corpora
    // collide on the same fingerprint (round 15: a localCheckpoint inside
    // an index build made the stored-index serve replay another scale
    // factor's cache). Salt each LogicalRDD with its session-unique RDD id:
    // such plans memoize per-session at worst, never wrongly across inputs.
    val rddIds = df.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }
    val conf = df.queryExecution.sparkSession.sessionState.conf.clone()
    conf.setConf(SQLConf.MAX_TO_STRING_FIELDS, Int.MaxValue)
    val canon = SQLConf.withExistingConf(conf)(df.queryExecution.analyzed
      .treeString(verbose = true, maxFields = Int.MaxValue))
      .replaceAll("#\\d+", "#") + // strip per-session expression ids
      "\n" + df.inputFiles.sorted.mkString("\n") +
      (if (rddIds.isEmpty) "" else "\nrdds:" + rddIds.mkString(","))
    java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Cross-session memoize: replay `cacheDir/<fingerprint>` if present, else
    * compute, write, and read back.
    *
    * GUARANTEE SCOPE: a plan containing a checkpoint (bare LogicalRDD)
    * fingerprints with a session-unique salt (see [[planFingerprint]]), so
    * such a plan memoizes within one session at best and its entries can
    * never be hit by a later session. Keep checkpoint-free lineage upstream
    * of memoize() when cross-session reuse matters. Stale entries — the
    * salted kind, or any fingerprint orphaned by a plan change — are swept
    * by age below so the cache dir cannot grow without bound.
    */
  def memoize(df: DataFrame, cacheDir: String, maxAgeDays: Int = 14): DataFrame = {
    val spark = df.sparkSession
    val path = s"$cacheDir/${planFingerprint(df)}"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new org.apache.hadoop.fs.Path(path)
    // Best-effort age sweep of SIBLING entries: anything in this cache dir
    // other than the entry being served that hasn't been (re)written in
    // maxAgeDays is orphaned — no live caller can produce its fingerprint.
    try {
      val dir = new org.apache.hadoop.fs.Path(cacheDir)
      if (fs.exists(dir)) {
        val cutoff = System.currentTimeMillis - maxAgeDays * 86400000L
        fs.listStatus(dir).foreach { st =>
          if (st.isDirectory && st.getPath.getName != p.getName &&
              st.getModificationTime < cutoff)
            fs.delete(st.getPath, true)
        }
      }
    } catch { case _: Throwable => () }
    if (!fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS")))
      df.write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}
