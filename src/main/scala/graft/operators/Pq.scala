package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for embedding compression and fast
  * approximate inner-product scoring — the compression step beyond
  * [[Quantize]]'s int8 (4×): a D-dim float vector becomes `m` small
  * integer codes, one per contiguous subspace, each the id of the
  * nearest centroid in that subspace's private codebook (Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011).
  * At D=64, m=8, ksub=256 that is 256 B → 8 B per vector.
  *
  * Search is ADC (asymmetric distance computation): the query stays
  * exact; per query one m × ksub table of partial dot products is
  * precomputed, and a candidate's score is `m` table lookups — no float
  * vector is ever read from the candidate rows, so the scan side is
  * pure integer/array traffic.
  *
  * Scale posture: codebooks are tiny driver-side models (exactly like
  * [[Ivf.Model]]); training is `m` independent runs of the existing
  * k-means (each a few small distributed passes); encoding is one
  * DataFrame pass through the `nearestCentroid` codegen kernel per
  * subspace; ADC tables exist only for the (bounded, broadcast) query
  * set. The full-scale search path is [[ivfTopKAdc]]: IVF coarse
  * pruning picks ~nprobe/k of the corpus, PQ scores the survivors.
  */
object Pq {

  /** `codebooks(mi)(j)` = centroid j of subspace mi. */
  final case class Model(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def ksub: Int = codebooks.head.length
    def subDim: Int = codebooks.head.head.length
    /** Decode one code vector back to its reconstruction. */
    def decode(codes: Seq[Int]): Array[Double] =
      codes.zipWithIndex.flatMap { case (c, mi) => codebooks(mi)(c) }.toArray
  }

  /** Persist trained codebooks as a tiny parquet table
    * (subspace, code, centroid). Round-trips through [[load]]. */
  def save(spark: org.apache.spark.sql.SparkSession, m: Model,
           path: String): Unit = {
    import spark.implicits._
    (for {
      (book, mi) <- m.codebooks.zipWithIndex
      (c, j) <- book.zipWithIndex
    } yield (mi, j, c.toSeq)).toSeq
      .toDF("subspace", "code", "centroid")
      .repartition(1).write.mode("overwrite").parquet(path)
  }

  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): Model = {
    import spark.implicits._
    val rows = spark.read.parquet(path)
      .select("subspace", "code", "centroid")
      .as[(Int, Int, Seq[Double])].collect()
    require(rows.nonEmpty, s"no codebooks at $path")
    val byM = rows.groupBy(_._1)
    require(byM.keys.toSeq.sorted == (0 until byM.size),
      s"non-contiguous subspaces at $path")
    Model((0 until byM.size).map { mi =>
      val book = byM(mi).sortBy(_._2)
      require(book.map(_._2).toSeq == book.indices.toSeq,
        s"non-contiguous codes in subspace $mi at $path")
      book.map(_._3.toArray)
    }.toArray)
  }

  /** Train one codebook per subspace with [[Ivf.train]]'s deterministic
    * seeding (min id per id-hash bucket) and Lloyd updates — but ALL
    * subspaces jointly: one seed collect plus ONE distributed pass per
    * iteration, regardless of m (the per-subspace formulation paid
    * m × (iters + 1) full-scan jobs; at m = 8 the job-scheduling floor
    * dominated the actual math). Each pass assigns every subvector
    * through the codegen `nearestCentroid` kernel and folds the
    * per-(subspace, code, position) means in a single partial-agg
    * shuffle of exactly `dim` doubles per row — the same bytes the
    * per-subspace loop moved, in 1/m the jobs. */
  def train(df: DataFrame, idCol: String, embCol: String,
            m: Int, ksub: Int, iters: Int = 3): Model = {
    require(m > 0 && ksub > 0, "m and ksub must be positive")
    val v = df.select(col(idCol).as("__id"),
      Similarity.toDouble(col(embCol)).as("__e"))
      .transform(Materialize(_))
    try {
      val seedIds = v.groupBy(
          pmod(xxhash64(col("__id")), lit(ksub)).as("__b"))
        .agg(min(col("__id")).as("__id")).select("__id")
      val seedRows = v.join(seedIds, "__id").orderBy("__id").collect()
        .map(_.getAs[scala.collection.Seq[Double]]("__e").toArray)
      require(seedRows.nonEmpty, "cannot train PQ on an empty corpus")
      val dim = seedRows.head.length
      require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
      val subDim = dim / m
      var books: Array[Array[Array[Double]]] = (0 until m).map(mi =>
        seedRows.map(r => r.slice(mi * subDim, (mi + 1) * subDim))).toArray
      var it = 0
      while (it < iters) {
        val codes = array((0 until m).map(mi =>
          graft.functions.NativeExprs.nearestCentroid(
            slice(col("__e"), mi * subDim + 1, subDim), books(mi))): _*)
        val means = v.select(posexplode(codes).as(Seq("__mi", "__c")),
            col("__e"))
          .select(col("__mi"), col("__c"),
            posexplode(slice(col("__e"),
              col("__mi") * lit(subDim) + lit(1), lit(subDim))))
          .groupBy("__mi", "__c", "pos").agg(avg("col").as("m"))
          .collect()
        val next = books.map(_.map(_.clone()))
        means.foreach { r =>
          next(r.getAs[Int]("__mi"))(r.getAs[Int]("__c"))(
            r.getAs[Int]("pos")) = r.getAs[Double]("m")
        }
        books = next
        it += 1
      }
      Model(books)
    } finally Materialize.free(v)
  }

  /** Append `pq_codes: array<int>` (length m, each in [0, ksub)). */
  def encode(df: DataFrame, idCol: String, embCol: String,
             model: Model): DataFrame = {
    val e = Similarity.toDouble(col(embCol))
    df.withColumn("pq_codes",
      array((0 until model.m).map(mi =>
        graft.functions.NativeExprs.nearestCentroid(
          slice(e, mi * model.subDim + 1, model.subDim),
          model.codebooks(mi))): _*))
  }

  /** Per-query ADC lookup tables as a small local DataFrame:
    * (query_id, __t) with `__t(mi)(j)` = ⟨q_sub_mi, codebook(mi)(j)⟩.
    * The query set is bounded and broadcast (same contract as
    * [[Similarity.topK]] / [[Quantize.topKQuantized]]), so the exact
    * query embeddings may reach the driver like IVF's centroids do. */
  private def adcTables(df: DataFrame, idCol: String, embCol: String,
                        queryPred: Column, model: Model): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qs = df.filter(queryPred)
      .select(col(idCol).cast("long").as("q"),
        Similarity.toDouble(col(embCol)).as("e"))
      .as[(Long, Array[Double])].collect()
    qs.toSeq.map { case (qid, qe) =>
      val table = model.codebooks.zipWithIndex.map { case (book, mi) =>
        book.map { c =>
          var s = 0.0; var i = 0
          while (i < c.length) { s += c(i) * qe(mi * model.subDim + i); i += 1 }
          s
        }.toSeq
      }.toSeq
      (qid, table)
    }.toDF("query_id", "__t")
  }

  /** ADC score: m table lookups per candidate. SQL bracket indexing is
    * 0-based, matching the 0-based codes and subspace ids. */
  private def adcScore(m: Int): Column = expr(
    s"aggregate(sequence(0, ${m - 1}), cast(0 as double), " +
      "(acc, mi) -> acc + __t[mi][pq_codes[mi]])")

  /** Exhaustive PQ top-k by approximate inner product: every candidate
    * scored from its codes alone (the 100 TB path is [[ivfTopKAdc]]).
    * Output (query_id, rank, neighbor_id, score); float scores →
    * rows-only + recall spec. */
  def topKAdc(df: DataFrame, idCol: String, embCol: String,
              queryPred: Column, k: Int, model: Model): DataFrame = {
    val corpus = encode(df, idCol, embCol, model)
      .select(col(idCol).as("neighbor_id"), col("pq_codes"))
    val scored = corpus.join(
        broadcast(adcTables(df, idCol, embCol, queryPred, model)),
        col("neighbor_id") =!= col("query_id"))
      .withColumn("score", adcScore(model.m))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** Centroid matrix as a literal column (indexed by cluster_id + 1). */
  private def centsLit(coarse: Ivf.Model): Column =
    array(coarse.centroids.map(c => array(c.map(lit): _*)): _*)

  /** Residual column against a coarse model: `x − centroid(cluster(x))`
    * — what IVF-PQ actually quantizes (Jégou et al. §IV-A: residuals
    * are far more concentrated than raw vectors, so the same codebook
    * budget buys a much smaller quantization error). Pure Column ops:
    * the centroid matrix rides as a literal, one zip_with per row. */
  private def residualCol(emb: Column, clusterId: Column,
                          coarse: Ivf.Model): Column =
    zip_with(emb, element_at(centsLit(coarse), clusterId + 1),
      (x, c) => x - c)

  /** Shared IVF probe + ADC scoring + per-query top-k tail: picks each
    * query's `nprobe` nearest clusters, attaches the ADC tables (and,
    * for the residual variant, the ⟨q, centroid⟩ scalar offset), joins
    * the bounded broadcast probe table against the cluster-partitioned
    * encoded corpus, and ranks. Both public variants differ ONLY in
    * what the corpus codes encode and whether the offset applies. */
  private def ivfAdcTail(df: DataFrame, idCol: String, embCol: String,
                         queryPred: Column, k: Int, coarse: Ivf.Model,
                         model: Model, nprobe: Int, corpus: DataFrame,
                         centroidOffset: Boolean): DataFrame = {
    val centDists = graft.functions.NativeExprs.centroidSqDists(
      Similarity.toDouble(col(embCol)), coarse.centroids)
    val probes = df.filter(queryPred)
      .select(col(idCol).cast("long").as("query_id"),
        Similarity.toDouble(col(embCol)).as("__qe"),
        posexplode(centDists))
      .withColumnRenamed("pos", "cluster_id")
      .withColumnRenamed("col", "__d")
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("__d"))
    val probed = probes
      .withColumn("__pr", row_number().over(wProbe))
      .filter(col("__pr") <= nprobe)
      .withColumn("__off",
        if (centroidOffset)
          Similarity.dot(col("__qe"),
            element_at(centsLit(coarse), col("cluster_id") + 1))
        else lit(0.0))
      .select("query_id", "cluster_id", "__off")
      .join(adcTables(df, idCol, embCol, queryPred, model), "query_id")
    val scored = corpus.join(broadcast(probed), Seq("cluster_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("score", col("__off") + adcScore(model.m))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), col("score"))
  }

  /** Train PQ codebooks on coarse-quantizer RESIDUALS. */
  def trainResidual(df: DataFrame, idCol: String, embCol: String,
                    coarse: Ivf.Model, m: Int, ksub: Int,
                    iters: Int = 3): Model = {
    val assigned = Ivf.assign(df, idCol, embCol, coarse)
      .withColumn("__res", residualCol(
        Similarity.toDouble(col(embCol)), col("cluster_id"), coarse))
    train(assigned, idCol, "__res", m, ksub, iters)
  }

  /** IVF-PQ over residuals: the corpus stores (cluster_id, codes of
    * x − centroid); a candidate's score decomposes exactly as
    * ⟨q, x⟩ ≈ ⟨q, centroid_c⟩ + ⟨q, residual⟩ — the first term is one
    * scalar per (query, probed cluster), computed on the bounded
    * broadcast probe table; the second is the usual m-lookup ADC sum.
    * Same shuffle shape as [[ivfTopKAdc]], strictly tighter
    * quantization error for the same (m, ksub) budget. */
  def ivfTopKAdcResidual(df: DataFrame, idCol: String, embCol: String,
                         queryPred: Column, k: Int, coarse: Ivf.Model,
                         model: Model, nprobe: Int): DataFrame = {
    val assigned = Ivf.assign(df, idCol, embCol, coarse)
      .withColumn("__res", residualCol(
        Similarity.toDouble(col(embCol)), col("cluster_id"), coarse))
    val corpus = encode(assigned, idCol, "__res", model)
      .select(col(idCol).as("neighbor_id"), col("cluster_id"),
        col("pq_codes"))
    ivfAdcTail(df, idCol, embCol, queryPred, k, coarse, model, nprobe,
      corpus, centroidOffset = true)
  }

  /** IVF-PQ: coarse quantizer prunes to each query's `nprobe` nearest
    * cluster lists, PQ-ADC scores only the survivors — candidate volume
    * ~nprobe/k of the corpus and every candidate costs m integer
    * lookups. Partition/bucket the encoded corpus by `cluster_id` for
    * co-located joins at scale. */
  def ivfTopKAdc(df: DataFrame, idCol: String, embCol: String,
                 queryPred: Column, k: Int, coarse: Ivf.Model,
                 model: Model, nprobe: Int): DataFrame = {
    val corpus = Ivf.assign(encode(df, idCol, embCol, model),
        idCol, embCol, coarse)
      .select(col(idCol).as("neighbor_id"), col("cluster_id"),
        col("pq_codes"))
    ivfAdcTail(df, idCol, embCol, queryPred, k, coarse, model, nprobe,
      corpus, centroidOffset = false)
  }

  /** OPQ: an orthonormal rotation learned jointly with the codebooks
    * (Ge et al., "Optimized Product Quantization", CVPR 2013,
    * non-parametric variant) — the standard recall uplift at the same
    * (m, ksub) budget when informative variance straddles the
    * contiguous subspace boundaries plain PQ is stuck with. Because the
    * rotation is orthonormal, inner products are preserved
    * (⟨q, x⟩ = ⟨Rq, Rx⟩), so ADC in the rotated space approximates the
    * original scores and every existing search tail applies unchanged. */
  final case class OpqModel(rotation: Array[Array[Double]], pq: Model) {
    def dim: Int = rotation.length
  }

  /** `R · x` as a Column: one literal-row dot per output position. The
    * rotation is a tiny driver-side model (d², like a codebook); the
    * d² multiply-adds per row are embarrassingly parallel scan work. */
  def rotateCol(emb: Column, r: Array[Array[Double]]): Column =
    array(r.map(row =>
      Similarity.dot(array(row.map(lit): _*), emb)): _*)

  /** Alternating OPQ training: with R fixed, train codebooks on the
    * rotated vectors (the joint single-pass-per-iteration [[train]]);
    * with codebooks fixed, R is the orthogonal Procrustes solution
    * min_R ‖R·X − Y‖_F (Y = the codebook reconstructions of the
    * current rotation's codes): R = V·Uᵀ from SVD(X·Yᵀ) = U·Σ·Vᵀ.
    * The d×d correlation matrix is one distributed partial-agg sum of
    * per-row outer products; the SVD is a d×d driver-side solve —
    * model-sized, same class as the codebook means. Ends on a codebook
    * pass so the published codebooks match the published rotation.
    *
    * R is INITIALIZED with the paper's parametric solution —
    * eigenvalue allocation (Ge et al. §3.2): project onto the
    * second-moment eigenbasis and deal the eigen-directions to the m
    * subspaces greedily so each subspace carries a balanced share of
    * the spectrum. Starting the alternation from identity leaves it in
    * the identity's local optimum exactly when the data most needs a
    * rotation (variance concentrated in few non-axis directions). */
  def trainOpq(df: DataFrame, idCol: String, embCol: String,
               m: Int, ksub: Int, iters: Int = 3,
               opqIters: Int = 3): OpqModel = {
    require(opqIters >= 1, "opqIters must be positive")
    val v = df.select(col(idCol).as("__id"),
        Similarity.toDouble(col(embCol)).as("__x"))
      .transform(Materialize(_))
    try {
      val dim = v.select(size(col("__x"))).head.getInt(0)
      require(dim % m == 0, s"embedding dim $dim not divisible by m=$m")
      val subDim = dim / m
      // second-moment matrix C[i][j] = Σ x_i x_j (one partial-agg pass)
      val cCells = v
        .select(posexplode(col("__x")).as(Seq("__i", "__xi")), col("__x"))
        .select(col("__i"), col("__xi"),
          posexplode(col("__x")).as(Seq("__j", "__xj")))
        .groupBy("__i", "__j").agg(sum(col("__xi") * col("__xj")).as("__s"))
        .collect()
      val cMat = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
      cCells.foreach { row =>
        cMat(row.getAs[Int]("__i"), row.getAs[Int]("__j")) =
          row.getAs[Double]("__s")
      }
      val eig = breeze.linalg.eigSym(cMat)
      val byVar = eig.eigenvalues.toArray.zipWithIndex.sortBy(-_._1)
      // greedy allocation: next-largest eigenvalue to the non-full
      // subspace with the smallest variance product so far
      val logSum = Array.fill(m)(0.0)
      val buckets = Array.fill(m)(scala.collection.mutable.ArrayBuffer
        .empty[Int])
      byVar.foreach { case (ev, idx) =>
        val b = (0 until m).filter(buckets(_).size < subDim)
          .minBy(logSum)
        buckets(b) += idx
        logSum(b) += math.log(math.max(ev, 1e-12))
      }
      var r: Array[Array[Double]] = buckets.flatMap(_.map(e =>
        Array.tabulate(dim)(j => eig.eigenvectors(j, e))))
      var pq: Model = null
      var t = 0
      while (t < opqIters) {
        val rotated = v.withColumn("__rx", rotateCol(col("__x"), r))
        pq = train(rotated, "__id", "__rx", m, ksub, iters)
        if (t < opqIters - 1) {
          // Y: decode this rotation's codes back to reconstructions
          val books = pq.codebooks
          val yCol = flatten(array((0 until pq.m).map(mi =>
            element_at(
              array(books(mi).map(c => array(c.map(lit): _*)): _*),
              element_at(col("pq_codes"), mi + 1) + 1)): _*))
          // M[i][j] = Σ_rows x_i · y_j — double posexplode to (i, j)
          // cells; the groupBy is d² cells, partial-agg collapsed
          val cells = encode(rotated, "__id", "__rx", pq)
            .withColumn("__y", yCol)
            .select(posexplode(col("__x")).as(Seq("__i", "__xi")),
              col("__y"))
            .select(col("__i"), col("__xi"),
              posexplode(col("__y")).as(Seq("__j", "__yj")))
            .groupBy("__i", "__j")
            .agg(sum(col("__xi") * col("__yj")).as("__s"))
            .collect()
          val mMat = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
          cells.foreach { row =>
            mMat(row.getAs[Int]("__i"), row.getAs[Int]("__j")) =
              row.getAs[Double]("__s")
          }
          val breeze.linalg.svd.SVD(u, _, vt) = breeze.linalg.svd(mMat)
          val rm = vt.t * u.t
          r = Array.tabulate(dim, dim)((i, j) => rm(i, j))
        }
        t += 1
      }
      OpqModel(r, pq)
    } finally Materialize.free(v)
  }

  /** Exhaustive OPQ top-k: rotate once in the scan, then the plain ADC
    * tail — scores approximate the ORIGINAL inner products. */
  def topKAdcOpq(df: DataFrame, idCol: String, embCol: String,
                 queryPred: Column, k: Int, opq: OpqModel): DataFrame =
    topKAdc(
      df.withColumn("__rx",
        rotateCol(Similarity.toDouble(col(embCol)), opq.rotation)),
      idCol, "__rx", queryPred, k, opq.pq)
}
