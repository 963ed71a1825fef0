package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Integer fixed-point PageRank — link-graph centrality for corpus
  * curation (domain authority as a quality prior, the CommonCrawl
  * harmonic-centrality practice) and entity graphs. No counterpart in
  * ssi-dk/diseasystore; the iterative-join formulation follows the
  * classic Page et al. 1999 power iteration re-expressed as DataFrame
  * joins (the [[ConnectedComponents]] pattern: driver loop over
  * checkpointed node frames, O(1) lineage per round).
  *
  * EXACT-INTEGER variant: ranks are fixed-point mass units summing to
  * `scale` at iteration 0; every integer division drops its remainder
  * and dangling-node mass is NOT redistributed (the "mass-leaking"
  * formulation). Total mass therefore shrinks deterministically —
  * orderings track textbook PageRank, and every intermediate is a
  * 64-bit integer computed identically by any engine, so the whole
  * iteration hash-checks against a DuckDB recursive CTE.
  *
  * Scale: edges are repartitioned by src ONCE and checkpointed; each
  * iteration is one src-keyed join (co-located with the edge
  * partitioning) plus one dst-keyed partial aggregate — the canonical
  * two-shuffle PageRank round. Rank frames are node-sized;
  * per-iteration localCheckpoint keeps lineage O(1). No driver-side
  * data beyond the node count.
  *
  * Overflow: rank ≤ scale ≤ 10^12 and dampBp ≤ 10^4, so
  * rank·dampBp ≤ 10^16 < Long.MaxValue; contribution sums are bounded
  * by total mass. */
object PageRank {

  /** Shared driver replay of the power-iteration recurrences — the
    * graph-family driver finish for [[iterate]] / [[resume]] /
    * [[iterateWeighted]] / [[personalized]]: identical integer
    * arithmetic (every product bounded exactly as the distributed
    * REQUIREs bound it, every division non-negative so `/` ≡ `div`),
    * so the rank sequence is bit-equal. `e` must carry __src/__dst
    * (and __w for the weighted variant); `warm` = resume's published
    * ranks; `seeded` = personalized's (node, __seed) flag frame
    * (node-sized — never the raw seed table). */
  private def iterateDriver(e: DataFrame, warm: Option[DataFrame],
                            seeded: Option[DataFrame], iters: Int,
                            dampBp: Long, scale: Long): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val es =
      if (e.columns.contains("__w"))
        e.select(col("__src"), col("__dst"), col("__w"))
          .as[(Long, Long, Long)].collect()
      else e.select(col("__src"), col("__dst"))
        .as[(Long, Long)].collect().map(t => (t._1, t._2, 1L))
    require(es.nonEmpty, "empty edge set")
    val nodeSet = new java.util.LinkedHashSet[Long]()
    es.foreach { case (s, d, _) => nodeSet.add(s); nodeSet.add(d) }
    val nodes = nodeSet.asScala.toArray
    val outw = new java.util.HashMap[Long, Long]()
    es.foreach { case (s, _, w) => outw.merge(s, w, _ + _) }
    val flags = new java.util.HashMap[Long, Long]()
    seeded.foreach(_.select(col("node"), col("__seed"))
      .as[(Long, Long)].collect()
      .foreach { case (k, f) => flags.put(k, f) })
    val warmRanks = new java.util.HashMap[Long, Long]()
    warm.foreach(_.select(col("node"), col("rank"))
      .as[(Long, Long)].collect()
      .foreach { case (k, r) => warmRanks.put(k, r) })
    val personalizedMode = seeded.isDefined
    var denom = nodes.length.toLong
    if (personalizedMode) {
      denom = 0L
      nodes.foreach(n => denom += flags.getOrDefault(n, 0L))
      require(denom > 0, "no seed id appears in the edge set")
    }
    val base = scale * (10000L - dampBp) / 10000L / denom
    val uniform = scale / denom
    var ranks = new java.util.HashMap[Long, Long]()
    nodes.foreach { n =>
      val r =
        if (personalizedMode) flags.getOrDefault(n, 0L) * uniform
        else if (warmRanks.containsKey(n)) warmRanks.get(n)
        else uniform
      ranks.put(n, r)
    }
    for (_ <- 0 until iters) {
      val sums = new java.util.HashMap[Long, Long]()
      es.foreach { case (s, d, w) =>
        sums.merge(d,
          (ranks.get(s) * dampBp / 10000L) * w / outw.get(s), _ + _)
      }
      val next = new java.util.HashMap[Long, Long]()
      nodes.foreach { n =>
        val b =
          if (personalizedMode) flags.getOrDefault(n, 0L) * base
          else base
        next.put(n, b + sums.getOrDefault(n, 0L))
      }
      ranks = next
    }
    nodes.toSeq.map(n => (n, ranks.get(n): Long)).toDF("node", "rank")
  }

  /** Run `iters` damped power-iteration rounds over `edges` (one row
    * per directed edge; parallel rows act as weighted multi-edges via
    * out-degree counting). Output: (node, rank). Below
    * `driverFinishMaxEdges` the whole iteration replays on the driver
    * (the graph-family driver finish — identical integer recurrence,
    * bit-equal output; the per-round two-shuffle floor dominates
    * small graphs at ~8 jobs/round). */
  def iterate(edges: DataFrame, srcCol: String, dstCol: String,
              iters: Int, dampBp: Long = 8500L,
              scale: Long = 1000000000000L,
              driverFinishMaxEdges: Long = Graph.IterDriverFinishMaxEdges)
      : DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(dampBp >= 0 && dampBp <= 10000, "dampBp in [0, 10000]")
    require(scale > 0 && scale <= 1000000000000L,
      "scale in (0, 10^12] keeps damped products within a long")
    // projection -> co-locate by __src -> ONE checkpoint, bound count
    // observed on the materialization job (r18, guide §2.4; r17 wrote
    // and read the edge list twice above the bound + a count job)
    val (e, nEdges) = Materialize.ckRepartitionCount(
      edges.select(col(srcCol).cast("long").as("__src"),
        col(dstCol).cast("long").as("__dst")),
      col("__src"))
    if (driverFinishMaxEdges > 0 && nEdges <= driverFinishMaxEdges)
      return iterateDriver(e, None, None, iters, dampBp, scale)
    val (nodes, n) = Materialize.ckCount(e.select(col("__src").as("node"))
      .union(e.select(col("__dst")))
      .distinct())
    require(n > 0, "empty edge set")
    val outdeg = e.groupBy(col("__src")).agg(count(lit(1)).as("__od"))
      .transform(Materialize(_))
    val base = scale * (10000L - dampBp) / 10000L / n
    var ranks = nodes.withColumn("rank", lit(scale / n))
    for (_ <- 0 until iters) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "__src"), Seq("__src"))
        .join(outdeg, Seq("__src"))
        .select(col("__dst").as("node"),
          expr(s"(rank * ${dampBp}L div 10000L) div __od").as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__s"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("__s"), lit(0L))).as("rank"))
        .transform(Materialize.replacing(ranks))
    }
    ranks
  }

  /** Warm-start continuation: run `iters` more rounds starting from
    * an existing rank frame (node, rank) instead of the uniform
    * vector — the incremental-maintenance path: after edge appends,
    * resume from the last published ranks for a few rounds instead of
    * recomputing from scratch (power iteration converges from any
    * non-negative start). Exactly equals [[iterate]] when resumed
    * from its own output: `resume(iterate(e, k), e, j) ≡
    * iterate(e, k + j)` — PageRankSpec pins the law. */
  def resume(ranks: DataFrame, edges: DataFrame, srcCol: String,
             dstCol: String, iters: Int, dampBp: Long = 8500L,
             scale: Long = 1000000000000L,
             driverFinishMaxEdges: Long = Graph.IterDriverFinishMaxEdges)
      : DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(dampBp >= 0 && dampBp <= 10000, "dampBp in [0, 10000]")
    require(scale > 0 && scale <= 1000000000000L,
      "scale in (0, 10^12] keeps damped products within a long")
    val (e, nEdges) = Materialize.ckRepartitionCount(
      edges.select(col(srcCol).cast("long").as("__src"),
        col(dstCol).cast("long").as("__dst")),
      col("__src"))
    if (driverFinishMaxEdges > 0 && nEdges <= driverFinishMaxEdges)
      return iterateDriver(e, Some(ranks), None, iters, dampBp, scale)
    val (nodes, n) = Materialize.ckCount(e.select(col("__src").as("node"))
      .union(e.select(col("__dst")))
      .distinct())
    require(n > 0, "empty edge set")
    val outdeg = e.groupBy(col("__src")).agg(count(lit(1)).as("__od"))
      .transform(Materialize(_))
    val base = scale * (10000L - dampBp) / 10000L / n
    // nodes new since the published ranks start at the uniform share
    var r = nodes.join(
        ranks.select(col("node"), col("rank")), Seq("node"), "left")
      .select(col("node"),
        coalesce(col("rank"), lit(scale / n)).as("rank"))
      .transform(Materialize(_))
    for (_ <- 0 until iters) {
      val contribs = e
        .join(r.withColumnRenamed("node", "__src"), Seq("__src"))
        .join(outdeg, Seq("__src"))
        .select(col("__dst").as("node"),
          expr(s"(rank * ${dampBp}L div 10000L) div __od").as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__s"))
      r = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("__s"), lit(0L))).as("rank"))
        .transform(Materialize.replacing(r))
    }
    r
  }

  /** WEIGHTED PageRank: transition mass from `src` splits over its
    * out-edges proportionally to the integral edge weight —
    * `contrib = ((rank·dampBp div 10⁴) · w) div W_src` with
    * `W_src = Σ out-weights` — the trade-intensity / click-count
    * variant of [[iterate]] (same Page et al. formulation, weighted
    * transition matrix). Identical mass-leaking exact-integer
    * discipline: remainders and dangling mass drop, every
    * intermediate is a 64-bit integer, the whole iteration
    * hash-checks against a recursive CTE.
    *
    * Weights must be integral ≥ 1 with max ≤ Long.Max/scale (both
    * REQUIREd driver-side from one aggregate) so the damped product
    * cannot overflow. Scale posture identical to [[iterate]]. */
  def iterateWeighted(edges: DataFrame, srcCol: String, dstCol: String,
                      weightCol: String, iters: Int,
                      dampBp: Long = 8500L,
                      scale: Long = 1000000000000L,
                      driverFinishMaxEdges: Long =
                        Graph.IterDriverFinishMaxEdges): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(dampBp >= 0 && dampBp <= 10000, "dampBp in [0, 10000]")
    require(scale > 0 && scale <= 1000000000000L,
      "scale in (0, 10^12] keeps damped products within a long")
    // projection -> co-locate -> ONE checkpoint; the bound count AND
    // both weight-sanity extremes ride the materialization job (r18 —
    // previously a checkpoint + an extremes job + a count job + a
    // second checkpoint)
    val (e, met) = Materialize.ckRepartitionObserve(
      edges.select(col(srcCol).cast("long").as("__src"),
        col(dstCol).cast("long").as("__dst"),
        col(weightCol).cast("long").as("__w")),
      col("__src"),
      Seq(count(lit(1)).as("__n"), min(col("__w")).as("__mnw"),
        max(col("__w")).as("__mxw")))
    require(met("__mnw") != null, "empty edge set")
    require(met("__mnw").asInstanceOf[Long] >= 1L,
      s"edge weights must be >= 1 (saw ${met("__mnw")})")
    require(met("__mxw").asInstanceOf[Long] <= Long.MaxValue / scale,
      s"max edge weight ${met("__mxw")} overflows rank*w at scale " +
        scale)
    if (driverFinishMaxEdges > 0 &&
        met("__n").asInstanceOf[Long] <= driverFinishMaxEdges)
      return iterateDriver(e, None, None, iters, dampBp, scale)
    val (nodes, n) = Materialize.ckCount(e.select(col("__src").as("node"))
      .union(e.select(col("__dst")))
      .distinct())
    // NOTE: __W would collide with __w under case-insensitive
    // resolution — keep the name fully distinct
    val outw = e.groupBy(col("__src")).agg(sum(col("__w")).as("__wsum"))
      .transform(Materialize(_))
    val base = scale * (10000L - dampBp) / 10000L / n
    var ranks = nodes.withColumn("rank", lit(scale / n))
    for (_ <- 0 until iters) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "__src"), Seq("__src"))
        .join(outw, Seq("__src"))
        .select(col("__dst").as("node"),
          expr(s"((rank * ${dampBp}L div 10000L) * __w) div __wsum")
            .as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__s"))
      ranks = nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (lit(base) + coalesce(col("__s"), lit(0L))).as("rank"))
        .transform(Materialize.replacing(ranks))
    }
    ranks
  }

  /** Personalized (seeded-teleport) PageRank — the TrustRank shape
    * (Gyöngyi et al. VLDB 2004): teleport mass lands ONLY on `seeds`
    * (a trusted slice — curated domains, verified entities), so rank
    * measures proximity to the trusted set and decays through the
    * link graph; spam neighborhoods score ≈ 0. Same exact-integer
    * mass-leaking arithmetic as [[iterate]] (remainders and dangling
    * mass drop), so every round hash-checks against a recursive CTE.
    *
    * `seeds` is one node id per row; ids outside the edge set are
    * ignored. Initial mass `scale div |seeds|` on each seed, 0
    * elsewhere; per round each node gets its damped in-contributions
    * plus, if a seed, the undamped teleport share.
    *
    * Scale posture identical to [[iterate]]; the seed set stays a
    * distributed frame (it can be millions of rows) joined by node id
    * — never collected, never broadcast by assumption. */
  def personalized(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String, iters: Int,
                   dampBp: Long = 8500L,
                   scale: Long = 1000000000000L,
                   driverFinishMaxEdges: Long =
                     Graph.IterDriverFinishMaxEdges): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    require(dampBp >= 0 && dampBp <= 10000, "dampBp in [0, 10000]")
    require(scale > 0 && scale <= 1000000000000L,
      "scale in (0, 10^12] keeps damped products within a long")
    // projection -> co-locate -> ONE checkpoint (r18, guide §2.4);
    // nodes/seeded and both branches all read it, and the out-degree
    // aggregate stays below the branch (the driver finish never read
    // it)
    val (e, nEdges) = Materialize.ckRepartitionCount(
      edges.select(col(srcCol).cast("long").as("__src"),
        col(dstCol).cast("long").as("__dst")),
      col("__src"))
    val nodes = e.select(col("__src").as("node"))
      .union(e.select(col("__dst")))
      .distinct()
      .transform(Materialize(_))
    // seed markers ride the node frame for the whole loop: one flag
    // column instead of a per-round join against the seed table
    val (seeded, seedMet) = Materialize.ckObserve(nodes.join(
        seeds.select(col(seedCol).cast("long").as("node")).distinct()
          .withColumn("__seed", lit(1L)),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("__seed"), lit(0L)).as("__seed")),
      Seq(coalesce(sum(col("__seed")), lit(0L)).as("__ns")))
    // the driver finish collects the EDGES and the node-sized flag
    // frame — never the raw seed table (it can be huge; the flags are
    // bounded by the node count)
    if (driverFinishMaxEdges > 0 && nEdges <= driverFinishMaxEdges)
      return iterateDriver(e, None, Some(seeded), iters, dampBp, scale)
    val outdeg = e.groupBy(col("__src")).agg(count(lit(1)).as("__od"))
      .transform(Materialize(_))
    val ns = seedMet("__ns").asInstanceOf[Long]
    require(ns > 0, "no seed id appears in the edge set")
    val base = scale * (10000L - dampBp) / 10000L / ns
    var ranks = seeded.select(col("node"),
      (col("__seed") * lit(scale / ns)).as("rank"))
    for (_ <- 0 until iters) {
      val contribs = e
        .join(ranks.withColumnRenamed("node", "__src"), Seq("__src"))
        .join(outdeg, Seq("__src"))
        .select(col("__dst").as("node"),
          expr(s"(rank * ${dampBp}L div 10000L) div __od").as("__c"))
        .groupBy(col("node")).agg(sum(col("__c")).as("__s"))
      ranks = seeded.join(contribs, Seq("node"), "left")
        .select(col("node"),
          (col("__seed") * lit(base) +
            coalesce(col("__s"), lit(0L))).as("rank"))
        .transform(Materialize.replacing(ranks))
    }
    ranks
  }
}
