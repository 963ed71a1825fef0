package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Scale design:
  *  - `topK` is the exact baseline: the (small) query set is broadcast
  *    against a full scan of the corpus — one pass, no shuffle of the
  *    corpus, embarrassingly parallel. Per-pair math is a single
  *    codegen'd `aggregate(zip_with(...))` fold (deterministic order —
  *    reproducible doubles).
  *  - `lshTopK` is the approximate scale path: random-hyperplane signs
  *    bucket the corpus; only bucket-colliding (multi-probe over bands)
  *    candidates are scored.
  *  - `nearDupPairs` blocks on a caller-provided key to keep the
  *    quadratic term bounded.
  */
object Similarity {

  /** Cast a float array column to double (deterministic math downstream). */
  def toDouble(emb: Column): Column = transform(emb, _.cast("double"))

  /** Native codegen kernels (graft.functions.VecKernel): same
    * left-to-right fold order as the HOF twins below, bit-identical
    * results (NativeExprSpec), but they stay inside whole-stage codegen
    * and evaluate once per call instead of re-expanding per lambda. */
  def dot(a: Column, b: Column): Column =
    graft.functions.NativeExprs.dotProduct(
      a.cast("array<double>"), b.cast("array<double>"))

  def norm(a: Column): Column =
    graft.functions.NativeExprs.l2Norm(a.cast("array<double>"))

  /** HOF twins, kept for bit-parity specs against the native kernels. */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)

  private[graft] def normHof(a: Column): Column =
    sqrt(aggregate(a, lit(0.0), (acc, x) => acc + x * x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact cosine top-k: for each query row (selected by `queryPred`),
    * the k nearest corpus rows (self excluded), ranked by
    * (similarity DESC, id ASC). Output: (query_id, rank, neighbor_id).
    * Norms are computed once per row, not per pair. */
  def topK(df: DataFrame, idCol: String, embCol: String,
           queryPred: Column, k: Int): DataFrame = {
    val corpus = df.select(col(idCol).as("neighbor_id"),
      toDouble(col(embCol)).as("__e"))
      .withColumn("__n", norm(col("__e")))
    val queries = df.filter(queryPred)
      .select(col(idCol).as("query_id"), toDouble(col(embCol)).as("__qe"))
      .withColumn("__qn", norm(col("__qe")))
    val scored = corpus.join(broadcast(queries),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("__sim",
        when(col("__qn") > 0 && col("__n") > 0,
          dot(col("__qe"), col("__e")) / (col("__qn") * col("__n")))
          .otherwise(lit(Double.NegativeInfinity)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Exact cosine near-duplicate pairs with sim ≥ threshold, blocked by
    * `blockCol` (only same-block pairs compared). Output: (id_a, id_b).
    * Norms are computed once per row, not per pair. */
  def nearDupPairs(df: DataFrame, idCol: String, embCol: String,
                   blockCol: String, threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(blockCol).as("__blk"),
      toDouble(col(embCol)).as("__ea"))
      .withColumn("__na", norm(col("__ea")))
    val b = df.select(col(idCol).as("id_b"), col(blockCol).as("__blk"),
      toDouble(col(embCol)).as("__eb"))
      .withColumn("__nb", norm(col("__eb")))
    a.join(b, Seq("__blk")).filter(col("id_a") < col("id_b"))
      .filter(dot(col("__ea"), col("__eb")) / (col("__na") * col("__nb"))
        >= threshold)
      .select("id_a", "id_b")
  }

  private def planesFor(dim: Int, nBits: Int): Array[Array[Double]] = {
    val rng = new scala.util.Random(7)
    Array.fill(nBits)(Array.fill(dim)(rng.nextGaussian()))
  }

  /** Johnson–Lindenstrauss random projection (Achlioptas, JCSS 2003
    * sign matrix): map `embCol` (dim d) to `k` dims through a seeded
    * ±1/√k matrix — pairwise distances/inner products are preserved
    * within 1±ε for k = O(log n / ε²), so downstream ANN (IVF/PQ/LSH)
    * runs on a fraction of the bytes. The matrix is derived from md5
    * of (seed, j, i) — deterministic and append-stable, like every
    * seeded draw in this repo; the projection itself is the
    * [[graft.functions.MatVecProject]] codegen kernel, per-row work
    * with NO shuffle. Output replaces nothing: the projected vector
    * rides in `outCol`. */
  def randomProject(df: DataFrame, embCol: String, k: Int, dim: Int,
                    seed: String = "jl",
                    outCol: String = "projected"): DataFrame = {
    require(k > 0 && dim > 0, "k and dim must be positive")
    val md = java.security.MessageDigest.getInstance("MD5")
    val scale = 1.0 / math.sqrt(k.toDouble)
    val mat = Array.tabulate(k, dim) { (j, i) =>
      val h = md.digest(s"$seed|$j|$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) scale else -scale
    }
    df.withColumn(outCol, graft.functions.NativeExprs.matVecProject(
      toDouble(col(embCol)), mat))
  }

  /** Random-hyperplane LSH signature: `nBits` sign bits of projections
    * onto pseudo-random (deterministic seed) hyperplanes. Native codegen
    * kernel; one pass over the embedding. */
  def lshSignature(emb: Column, dim: Int, nBits: Int): Column =
    graft.functions.NativeExprs.lshSignBits(
      emb.cast("array<double>"), planesFor(dim, nBits))

  /** HOF twin of `lshSignature` (same fold order), kept for bit-parity
    * specs: one fold over the embedding positions accumulating all nBits
    * projections against the transposed plane matrix (nBits independent
    * aggregates would re-evaluate the embedding cast per plane — HOFs get
    * no codegen CSE). */
  private[graft] def lshSignatureHof(emb: Column, dim: Int, nBits: Int): Column = {
    val planes = planesFor(dim, nBits)
    val wt = array((0 until dim).map(i =>
      array((0 until nBits).map(j => lit(planes(j)(i))): _*)): _*)
    val indexed = zip_with(toDouble(emb), sequence(lit(0), lit(dim - 1)),
      (x, i) => struct(x.as("x"), i.as("i")))
    val projs = aggregate(indexed, array_repeat(lit(0.0), nBits),
      (acc, p) => zip_with(acc, element_at(wt, p.getField("i") + 1),
        (a, w) => a + p.getField("x") * w))
    transform(projs, pj => when(pj >= 0, 1).otherwise(0))
  }

  /** Approximate top-k: candidates share at least one LSH band bucket
    * with the query, then exact cosine ranking among candidates.
    * Recall < 1 by construction; bands/rowsPerBand trade recall for cost. */
  def lshTopK(df: DataFrame, idCol: String, embCol: String,
              queryPred: Column, k: Int, dim: Int,
              bands: Int = 8, rowsPerBand: Int = 4): DataFrame = {
    val nBits = bands * rowsPerBand
    val sig = df.select(col(idCol), toDouble(col(embCol)).as("__e"),
      lshSignature(col(embCol), dim, nBits).as("__sig"))
    // `banded` feeds both the query side and the candidate side, and
    // the signature fold is the dominant per-row cost.
    val banded = sig.select(col(idCol), col("__e"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        bi => concat_ws("", transform(
          slice(col("__sig"), bi * lit(rowsPerBand) + 1, lit(rowsPerBand)),
          _.cast("string"))))))
      .withColumnRenamed("pos", "__band").withColumnRenamed("col", "__bucket")
      .transform(Materialize(_))
    val queries = banded.join(
      df.filter(queryPred).select(col(idCol)), Seq(idCol), "left_semi")
      .select(col(idCol).as("query_id"), col("__e").as("__qe"),
        col("__band"), col("__bucket"))
    val cands = banded.select(col(idCol).as("neighbor_id"), col("__e"),
      col("__band"), col("__bucket"))
      .join(broadcast(queries), Seq("__band", "__bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id", "__qe", "__e").distinct()
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("neighbor_id"))
    val rawSim = cosine(col("__qe"), col("__e"))
    cands.withColumn("__sim",
        when(rawSim.isNaN, lit(Double.NegativeInfinity)).otherwise(rawSim))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Maximal Marginal Relevance rerank (Carbonell & Goldstein,
    * SIGIR'98) of per-query candidate lists: greedily pick
    * `argmax λ·rel(d) − (1−λ)·max_{s∈picked} cos(d, s)` — trades
    * relevance against redundancy so a query's top-k isn't k copies of
    * the same document.
    *
    * Runs AFTER a distributed candidate stage (ANN top-N): each
    * query's candidate set is small by construction, so the greedy
    * loop is a per-group `mapGroups` over ≤N rows — the legitimate
    * per-group imperative case, distributed across queries, never a
    * driver loop. Embeddings re-attach to candidates by one id join.
    *
    * Input: candidates (query_id, neighbor_id, score) + the vector
    * table. Output: (query_id, rank, neighbor_id, mmr_score). */
  def mmrRerank(candidates: DataFrame, vectors: DataFrame,
                idCol: String, embCol: String, k: Int,
                lambda: Double): DataFrame = {
    require(lambda >= 0.0 && lambda <= 1.0, "lambda must be in [0,1]")
    val spark = candidates.sparkSession
    import spark.implicits._
    val withVecs = candidates
      .join(vectors.select(col(idCol).cast("long").as("neighbor_id"),
        toDouble(col(embCol)).as("__e")), "neighbor_id")
      .select(col("query_id").cast("long"), col("neighbor_id"),
        col("score").cast("double"), col("__e"))
      .as[(Long, Long, Double, Array[Double])]
    withVecs.groupByKey(_._1).mapGroups { (qid, it) =>
      val cands = it.toArray.sortBy(c => (-c._3, c._2))
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
        }
        if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
      }
      val pickedIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
      val pickedOut = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Double)]
      val used = scala.collection.mutable.BitSet.empty
      var exhausted = false
      while (!exhausted && pickedOut.length < math.min(k, cands.length)) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var i = 0
        while (i < cands.length) {
          if (!used(i)) {
            val maxSim =
              if (pickedIdx.isEmpty) 0.0
              else pickedIdx.map(j => cos(cands(i)._4, cands(j)._4)).max
            val s = lambda * cands(i)._3 - (1 - lambda) * maxSim
            // cands is sorted (relevance DESC, id ASC), so strictly-
            // greater keeps the first (most relevant, lowest id) on
            // ties — deterministic regardless of partitioning. A NaN
            // score (corrupt vector / NaN relevance) compares false
            // here, so poisoned candidates are simply never picked.
            if (s > bestScore) { best = i; bestScore = s }
          }
          i += 1
        }
        if (best < 0) exhausted = true // only NaN-scored candidates left
        else {
          used += best
          pickedIdx += best
          pickedOut += ((cands(best)._2, bestScore))
        }
      }
      (qid, pickedOut.toSeq)
    }.flatMap { case (qid, picked) =>
      picked.zipWithIndex.map { case ((nid, s), r) =>
        (qid, r + 1, nid, s)
      }
    }.toDF("query_id", "rank", "neighbor_id", "mmr_score")
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): a coarse k-means quantizer partitions the
    * corpus; within each cluster, a doc is dropped when a LOWER-id
    * clustermate sits within `threshold` cosine of it. Embedding
    * near-dups land in the same cluster with high probability, so the
    * quadratic pair scan is bounded by cluster size — the whole point
    * of clustering first (recall vs the global pair set is < 1 by
    * construction; the spec measures it).
    *
    * The drop rule is "similar to ANY lower id", not "to any KEPT
    * lower id": one within-cluster join instead of a sequential
    * greedy pass, deterministic and order-independent. Slightly more
    * aggressive on chains (a~b, b~c drops both b and c) — for corpus
    * pruning that is the safe direction.
    *
    * Plan: one broadcast-centroid assignment pass (codegen kernel, no
    * shuffle), one hash shuffle on `cluster_id` for the self-join,
    * norms computed once per side. Output: (id, cluster_id, keep,
    * n_dups_below) — no floats, so re-runs agree bit-for-bit.
    */
  def semanticDedup(df: DataFrame, idCol: String, embCol: String,
                    model: Ivf.Model, threshold: Double): DataFrame = {
    // materialized: the pair join's two legs and the final verdict join
    // all read it, and Catalyst won't CSE the branches — without this
    // the corpus is scanned and centroid-assigned three times
    val assigned = Ivf.assign(df, idCol, embCol, model)
      .select(col(idCol), col("cluster_id"),
        toDouble(col(embCol)).as("__e"))
      .withColumn("__n", norm(col("__e")))
      .transform(Materialize(_))
    // rename every column on the low-id leg: both legs derive from the
    // same plan, and distinct names keep the equi-join out of Spark's
    // dataset-id self-join disambiguation (same hazard as the funnel)
    val lo = assigned.select(col(idCol).as("__lo_id"),
      col("cluster_id").as("__lo_cluster"), col("__e").as("__le"),
      col("__n").as("__ln"))
    val dups = assigned.join(lo,
        col("cluster_id") === col("__lo_cluster") &&
          col("__lo_id") < col(idCol))
      .filter(col("__n") > 0 && col("__ln") > 0 &&
        dot(col("__e"), col("__le")) >= lit(threshold) * col("__n") *
          col("__ln"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_dups_below"))
    // the output is NARROW (id, cluster, flag, count): materialize it
    // so the fat (embedding, norm) checkpoint can be released here
    val out = assigned.select(col(idCol), col("cluster_id"))
      .join(dups, Seq(idCol), "left")
      .select(col(idCol), col("cluster_id"),
        col("n_dups_below").isNull.as("keep"),
        coalesce(col("n_dups_below"), lit(0L)).as("n_dups_below"))
      .transform(Materialize(_))
    Materialize.free(assigned)
    out
  }
}
