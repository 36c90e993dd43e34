package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Connected components over a candidate-pair relation — the clustering step
  * of a near-dup pipeline. The greedy "drop the larger id of every pair"
  * survivor rule (NearDedup.minhashDedup) is not transitive: for a chain
  * a–b, b–c with no a–c pair it keeps a and c even though all three are one
  * duplicate cluster. Component labeling closes that gap: every doc gets the
  * min id reachable through any chain of qualifying pairs, and dedup keeps
  * exactly one representative per component.
  *
  * Algorithm: iterative min-label propagation with pointer doubling. Each
  * round every node takes the min of its own label, its neighbors' labels,
  * and its label's label — the halving shortcut turns chain collapse from
  * O(length) rounds into O(log length), so even pathological long chains
  * converge well inside the default `maxIter`. Near-dup clusters are tight
  * (diameter a few hops) and finish in 2–4 rounds. Every round `localCheckpoint`s its result: iterative
  * Spark without lineage truncation re-executes the whole history each
  * round and blows the planner up — checkpointing keeps each round O(edges).
  * At 100 TB the edge list (id pairs only, from the LSH candidate stage) is
  * orders of magnitude smaller than the corpus, so the loop runs on a
  * skinny two-column relation.
  *
  * Reference: the dedup surface this extends is the engine's north-star
  * extension area; label propagation is the standard MapReduce CC shape
  * (cf. Kiveris et al., "Connected Components in MapReduce and Beyond").
  */
object Clustering {

  import Checkpoints.dropCheckpoint

  /** Label every node of the (aCol, bCol) edge relation with the minimum id
    * reachable from it. Returns (id, comp); `comp == id` marks the
    * component representative. Nodes not present in any edge are absent —
    * callers treat them as singleton components.
    */
  /** Edge budget for the one-box CC fast path (see below): a bounded
    * `limit(budget + 1).collect()` probe, the same contract family as
    * VectorFunctions' `MaxCollectedCodebook` — 1M edges is ≤ 16 MB of
    * longs on the driver, well under any result-size limit. Over budget,
    * the distributed label loop runs unchanged, so the 100 TB path never
    * depends on the driver. 0 disables the fast path (specs exercise the
    * loop through this).
    */
  val MaxLocalEdges: Int = 1000000

  /** Union-find with path halving over a collected edge array; labels are
    * canonicalized to the MIN member id of each component — exactly the
    * fixed point the distributed loop converges to, so the two paths are
    * value-identical (a spec law pins it).
    */
  private[graft] def localComponents(edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = new java.util.HashMap[Long, Long](edges.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.get(x)
      while (p != x) { val gp = parent.get(p); parent.put(x, gp); x = gp; p = parent.get(x) }
      x
    }
    edges.foreach { case (a, b) =>
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    // Roots are unioned min-first, so find() already yields the component's
    // min id for every member.
    val out = new Array[(Long, Long)](parent.size())
    val it = parent.keySet().iterator()
    var i = 0
    while (it.hasNext) { val id = it.next(); out(i) = (id, find(id)); i += 1 }
    out
  }

  /** Both orientations of every edge as distinct (src, dst) rows, from ONE
    * pass over `edges`: each pair explodes into (a, b) and (b, a). A
    * two-branch `union` shares the upstream pair pipeline's exchanges
    * (ReusedExchange), but every stage after them runs once per branch; for
    * a minhash pair relation that is the candidate read, both shingle
    * rejoins and the Jaccard verify, twice.
    *
    * Null-endpoint edges are dropped HERE, before the budget count and
    * before either path's seed, so the one-box path and the distributed
    * loop see the SAME edge relation (round 15 shipped the filter on the
    * fast path's collect alone, so the two paths — selected silently by
    * data size — diverged on null-id edges, and nulls inflated the budget
    * count). A null endpoint carries no linkage: callers treat absent
    * nodes as singleton components either way.
    */
  private[graft] def symmetricEdges(edges: DataFrame, aCol: String,
                                    bCol: String): DataFrame =
    edges.select(explode(array(
        struct(col(aCol).as("src"), col(bCol).as("dst")),
        struct(col(bCol).as("src"), col(aCol).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()

  def connectedComponents(edges: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 20,
                          maxLocalEdges: Int = MaxLocalEdges): DataFrame = {
    // Symmetrize once and materialize: this relation is needed by EITHER
    // path below (the loop re-reads it every round; the one-box path
    // collects it), and every fast-vs-loop decision afterwards reads these
    // BLOCKS, never the pipeline. Earlier round-15 formulations that probed
    // the lazy edge relation directly paid a whole extra pipeline execution
    // at scale (q154 at sf10: 97 s committed → 140 s measured) — the probe
    // must be block-backed.
    val e = symmetricEdges(edges, aCol, bCol).localCheckpoint()
    // ONE-BOX FAST PATH: the edge relation of a near-dup pipeline is
    // pair-bounded (docs that HAVE a duplicate), orders of magnitude
    // smaller than the corpus — at bench scale it is dozens of rows, and
    // the distributed loop's ~8 jobs per round are pure orchestration
    // overhead on it. Mechanically: one count job over the materialized
    // blocks, then (under budget) a collect of ≤ 2×maxLocalEdges
    // symmetrized (src, dst) rows — boxed Rows on the driver, ~100 MB
    // transient at the 2M-row ceiling — union-find, and the labels return
    // as a LocalRelation, which downstream joins broadcast. Over budget
    // the loop runs unchanged, so the 100 TB path never depends on the
    // driver. Longs only — any other id type takes the loop.
    if (maxLocalEdges > 0 &&
        edges.schema(aCol).dataType == org.apache.spark.sql.types.LongType &&
        edges.schema(bCol).dataType == org.apache.spark.sql.types.LongType &&
        e.count() <= 2L * maxLocalEdges) {
      val probe = e.collect()
      val labels = localComponents(probe.map(r => (r.getLong(0), r.getLong(1))))
      dropCheckpoint(e)
      val spark = edges.sparkSession
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = true),
        org.apache.spark.sql.types.StructField("comp",
          org.apache.spark.sql.types.LongType, nullable = true)))
      return spark.createDataFrame(
        java.util.Arrays.asList(labels.map(p =>
          org.apache.spark.sql.Row(p._1, p._2)): _*), schema)
    }
    var labels = e.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborMin = e.join(labels.select(col("id").as("dst"), col("comp")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("comp")).as("ncomp"))
      // Pointer doubling: also adopt the label OF my current label —
      // comp(comp(id)). comp(id) is always a node of the same component
      // (labels only ever take ids seen through edges), so the shortcut is
      // safe, and it collapses chains in O(log length) rounds where plain
      // neighbor propagation needs O(length) (Kiveris et al.'s halving idea).
      val labelMin = labels.join(
          labels.select(col("id").as("comp"), col("comp").as("lcomp")), Seq("comp"))
        .select(col("id"), col("lcomp"))
      // The convergence test rides the new relation as a flag column
      // (newComp < comp compares against the SAME row's old label), so
      // counting "changed" is one scan of the just-materialized checkpoint
      // blocks — the previous formulation joined next back to labels by id,
      // a whole extra shuffle stage per round that existed only to compare
      // a row with itself.
      val newComp = least(col("comp"),
        coalesce(col("ncomp"), col("comp")),
        coalesce(col("lcomp"), col("comp")))
      val next = labels.join(neighborMin, Seq("id"), "left")
        .join(labelMin, Seq("id"), "left")
        .select(col("id"), newComp.as("comp"), (newComp < col("comp")).as("__chg"))
        .localCheckpoint()
      changed = next.filter(col("__chg")).count()
      // `next` is already materialized, so the previous round's blocks are
      // dead — free them now rather than waiting for a driver GC.
      dropCheckpoint(labels)
      labels = next
      iter += 1
    }
    if (changed > 0)
      System.err.println(s"[connectedComponents] labels still changing after " +
        s"maxIter=$maxIter rounds ($changed updates in the last round) — " +
        "components spanning longer chains are split; raise maxIter")
    // The final labels relation is a materialized checkpoint independent of
    // the edge blocks; only `labels` itself stays persisted for the caller.
    // The flag column is loop plumbing — callers get the (id, comp) contract
    // as a projection over the persisted blocks.
    dropCheckpoint(e)
    if (labels.columns.contains("__chg")) labels.select(col("id"), col("comp"))
    else labels
  }

  /** Keep one representative (the component's min id) per duplicate cluster:
    * transitive closure of the pair relation, unlike the greedy pairwise
    * survivor rule. Docs that appear in no pair survive untouched.
    */
  def dedupByComponents(df: DataFrame, idCol: String, pairs: DataFrame,
                        aCol: String = "id_a", bCol: String = "id_b",
                        maxIter: Int = 20): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol, maxIter)
      .filter(col("comp") =!= col("id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware cluster dedup: keep the BEST member of every near-dup
    * cluster instead of the arbitrary min-id one. Production pipelines
    * keep the longest / highest-quality-scored copy of a duplicated page
    * (the other members are truncations, boilerplate-wrapped mirrors, or
    * lower-quality scrapes); min-id survivor selection silently prefers
    * whichever copy was crawled first. Ties break on the lower id, so
    * selection stays deterministic and replayable. Rows outside any
    * cluster survive untouched.
    *
    * Scale shape: the CC label relation is pair-bounded (docs that HAVE a
    * duplicate); quality rides a doc-keyed join onto it and the argmax is
    * one aggregation on the component key — the corpus itself joins once,
    * id-keyed, to learn survivor status.
    */
  def dedupByComponentsBest(df: DataFrame, idCol: String, qualityCol: Column,
                            pairs: DataFrame, aCol: String = "id_a",
                            bCol: String = "id_b", maxIter: Int = 20): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol, maxIter)
    val q = df.select(col(idCol).as("id"), qualityCol.as("__q"))
    val winners = labels.join(q, Seq("id"))
      .groupBy(col("comp"))
      .agg(max_by(col("id"), struct(col("__q"), -col("id"))).as("id"))
      .select(col("id").as(idCol))
    val losers = labels.select(col("id").as(idCol))
      .join(winners, Seq(idCol), "left_anti")
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Contrastive (anchor, positive) training pairs from duplicate
    * clusters — the supervision signal embedding models mine from corpus
    * structure when no labels exist (near-duplicate = semantically
    * equivalent; the Spider/SimCSE-style recipe of treating paraphrase
    * clusters as positives). Input is the (id, comp) labeling from
    * [[connectedComponents]]; output is one row per non-representative
    * member: (anchor_id = component representative, positive_id = member,
    * cluster_size).
    *
    * The pair set is the STAR rooted at the representative, not the
    * clique: a c-member cluster yields c−1 pairs, not c·(c−1)/2 — the
    * difference between linear and quadratic output when a boilerplate
    * cluster has 10⁶ members. Training loops that want more pairs per
    * cluster should re-run with a rotated representative, not ask for the
    * clique. `cluster_size` rides along as the downsampling weight (cap
    * pairs per oversized cluster with `Sampling.capPerGroup` on
    * anchor_id).
    *
    * Scale shape: one aggregation on comp for sizes, one comp-keyed join
    * back — both bounded by the labeling relation, which holds only nodes
    * that appear in a duplicate pair.
    */
  def contrastivePairs(components: DataFrame): DataFrame = {
    val sizes = components.groupBy(col("comp"))
      .agg(count(lit(1)).as("cluster_size"))
    components.filter(col("id") =!= col("comp"))
      .join(sizes, Seq("comp"))
      .select(col("comp").as("anchor_id"), col("id").as("positive_id"),
        col("cluster_size"))
  }

  /** Fixed-point integer PageRank over a directed edge relation — domain
    * authority for crawl curation (prioritize/weight sources by link
    * centrality, the CommonCrawl-ranking companion to the dedup graph ops
    * above). Un-normalized formulation with damping d = dampNum/dampDen:
    *
    *   r⁰(n) = scale
    *   rᵗ⁺¹(n) = (scale·(dampDen−dampNum)) div dampDen
    *           + (dampNum · Σ_{(m,n)∈E} (rᵗ(m) div outdeg(m))) div dampDen
    *
    * ALL arithmetic is integer (floor division, exact addition), so the
    * result is bit-identical on any engine and independent of aggregation
    * order — the property IEEE-double PageRank cannot give, and the same
    * exact-replay contract as the quantile/SemDeDup/DSIR kernels. Mass lost
    * to floor rounding and dangling nodes (no outlinks) is NOT
    * redistributed — ranking order, the thing curation consumes, is
    * unaffected (the standard simplification).
    *
    * Scale shape: each iteration is one equi-join of the (src, dst) edge
    * list against the rank relation plus a sum aggregation on dst — linear
    * in edges, nothing corpus-sized, `localCheckpoint` per round keeps
    * lineage O(1) like [[connectedComponents]]. Ranks overflow only past
    * Σr ≈ 2⁶³/dampNum ≈ 10¹⁷ total mass units — at scale=10⁶ that is 10¹¹
    * nodes; lower `scale` if your graph is bigger than the web.
    */
  def pageRankInt(edges: DataFrame, srcCol: String, dstCol: String,
                  iters: Int = 3, scale: Long = 1000000L,
                  dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 1 && dampDen > 0 && dampNum >= 0 && dampNum <= dampDen,
      s"pageRankInt: need iters >= 1 and 0 <= dampNum <= dampDen, " +
        s"got iters=$iters, damp=$dampNum/$dampDen")
    // degree rides ON the edge list via a src-partitioned count window (no
    // deg self-join, no second materialization), checkpointed ONCE — the
    // loop then joins only the rank relation per iteration.
    //
    // ONE pinned exchange for the whole prologue (§2.4): an explicit
    // repartition by src at defaultParallelism width. HashPartitioning(src)
    // satisfies both the distinct's ClusteredDistribution(src, dst) and the
    // degree window's partitionBy(src), so neither adds its own exchange —
    // the previous shape paid an AQE exchange for the distinct AND one for
    // the window, and byte-based coalescing ran the CPU-dense
    // distinct+window+checkpoint stage on 3-4 tasks of 32 (the suite's
    // slowest stage at sf0.1). REPARTITION_BY_NUM pins the width against
    // that coalescing; the target scales with the cluster, not a config.
    val ew = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .repartition(Tuning.spreadTarget(edges.sparkSession), col("src"))
      .distinct()
      .withColumn("deg", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("src"))))
      .localCheckpoint()
    val nodes = ew.select(col("src").as("n"))
      .union(ew.select(col("dst").as("n"))).distinct().localCheckpoint()
    val base = (scale * (dampDen - dampNum)) / dampDen
    var ranks = nodes.withColumn("r", lit(scale))
    // Rounds CHAIN LAZILY: unlike connectedComponents, no per-round action
    // exists (the convergence count is what forces CC to materialize every
    // round), so materializing each round here bought nothing and cost one
    // job + a node-sized block write per iteration — the final action runs
    // all rounds as one pipelined multi-stage job. A mid-loop checkpoint
    // every `ckptEvery` rounds bounds plan depth for deep loops; at the
    // default 3 iterations none fires.
    val ckptEvery = 8
    // Mid-loop checkpoints supersede each other: once a new one (or the
    // final `out`) is materialized, the previous one's blocks are dead —
    // free them eagerly instead of waiting for the ContextCleaner.
    var prevMid: Option[DataFrame] = None
    for (i <- 1 to iters) {
      val contrib = ew
        .join(ranks.select(col("n").as("src"), col("r")), Seq("src"))
        .select(col("dst").as("n"), expr("r div deg").as("c"))
        .groupBy("n").agg(sum(col("c")).as("s"))
      val next = nodes.join(contrib, Seq("n"), "left")
        .select(col("n"),
          (lit(base) + expr(s"($dampNum * coalesce(s, CAST(0 AS BIGINT))) div $dampDen")).as("r"))
      ranks = if (i % ckptEvery == 0 && i < iters) {
        val ck = next.localCheckpoint()
        prevMid.foreach(dropCheckpoint)
        prevMid = Some(ck)
        ck
      } else next
    }
    // Materialize the result before freeing the edge/node blocks the lazy
    // chain still references (the eager-return contract callers rely on).
    val out = ranks.localCheckpoint()
    dropCheckpoint(ew)
    dropCheckpoint(nodes)
    prevMid.foreach(dropCheckpoint)
    out
  }
}
