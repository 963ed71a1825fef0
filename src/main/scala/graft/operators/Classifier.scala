package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Linear quality classifier over hashed features — the
  * fasttext-style corpus filter of the GPT-3/Pile lineage (reference
  * corpus-curation practice; no counterpart in ssi-dk/diseasystore):
  * logistic regression trained to distinguish a curated/target slice
  * (label 1) from the raw corpus (label 0), then scored over every
  * document as a keep/drop signal. Distinct from both neighbors in
  * the curation stack: [[graft.ml.Quality]] learns from five DENSE
  * engineered signals through MLlib's dense-vector pipeline, and
  * [[LangModel.importanceSelect]] ranks by a generative LM ratio —
  * this one trains a discriminative margin over the LEXICAL sparse
  * space (what words the doc uses), the signal the other two cannot
  * see.
  *
  * Features are [[TextAnalysis.hashFeatures]] buckets (the hashing
  * trick) — NO trained vocabulary, so the model is a `dim`-sized
  * weight vector that broadcasts anywhere, and feature extraction is
  * one word-count-shaped shuffle.
  *
  * Training is full-batch gradient descent in the k-means-trainer
  * split this repo uses for all driver-side loops: the driver holds
  * the dim-sized weights (model-sized, like a PQ codebook); each
  * iteration re-reads the checkpointed feature table TWICE — a
  * broadcast weight join + per-doc margin aggregate, then the per-doc
  * error joined back and aggregated per bucket. Both shuffles key on
  * doc id / bucket (never text), and the gradient collect is `dim`
  * rows. At 100 TB the per-iteration cost is two aggregate-shaped
  * passes over (doc, bucket, weight) triples — the same posture as
  * one extra dedup pass, times `iters`.
  *
  * Floating margins mean training is deterministic only up to shuffle
  * summation order (~1e-16 relative); the spec pins separation
  * quality and loss descent, not bit equality.
  */
object Classifier {

  /** Driver-side model: `weights(b)` is the coefficient of hash
    * bucket `b`; `dim`/`seed` must match the featurizer call. */
  final case class LrModel(dim: Int, seed: String, bias: Double,
                           weights: Array[Double]) {
    require(weights.length == dim, "weight vector must have dim entries")
  }

  private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** Train on `labelPred` (curated slice = positive class) vs the
    * rest. Every doc participates; empty docs contribute only to the
    * bias. Returns the model plus the per-iteration mean log-loss
    * trace (driver-side, for monitoring/specs).
    *
    * One Spark ACTION per iteration: the loss and bias-gradient sums
    * ride the same groupBy(bucket) collect as the weight gradient,
    * as a tagged-union row under the sentinel bucket −1 (a real
    * feature bucket is always ≥ 0). The per-doc error subtree feeds
    * both union branches without a checkpoint — the margin shuffle is
    * plan-identical on both sides, so ReuseExchange computes it once.
    * Training stops early once the mean-loss improvement over an
    * iteration falls below `tol` (relative); pass `tol = 0` to force
    * all `iters` iterations. */
  def train(df: DataFrame, idCol: String, textCol: String,
            labelPred: org.apache.spark.sql.Column,
            dim: Int = 4096, iters: Int = 30, lr: Double = 1.0,
            seed: String = "lr", tol: Double = 1e-4): (LrModel, Seq[Double]) = {
    require(dim > 0 && iters > 0 && lr > 0, "dim/iters/lr must be positive")
    require(tol >= 0, "tol must be non-negative")
    val spark = df.sparkSession
    import spark.implicits._

    val feats = TextAnalysis.hashFeatures(df, idCol, textCol, dim, seed)
      .select(col(idCol).as("__d"), col("bucket"),
        col("weight").cast("double").as("__x"))
      .transform(Materialize(_)) // re-read 2×iters times; never re-derive
    val (labeled, n) = Materialize.ckCount(df.select(col(idCol).as("__d"),
        when(labelPred, 1.0).otherwise(0.0).as("__y")))
    require(n > 0, "empty training frame")

    val w = new Array[Double](dim)
    var b = 0.0
    val losses = Seq.newBuilder[Double]
    var prevLoss = Double.NaN
    var iter = 0
    var stopped = false

    while (iter < iters && !stopped) {
      val wDf = w.toIndexedSeq.zipWithIndex
        .map { case (wv, i) => (i.toLong, wv) }
        .toDF("bucket", "__w")
      val margins = feats.join(broadcast(wDf), Seq("bucket"))
        .groupBy(col("__d"))
        .agg(sum(col("__x") * col("__w")).as("__m"))
      // err = sigmoid(b + margin) − y, per doc; docs with no features
      // (empty text) carry margin 0 and still train the bias
      val errDf = labeled.join(margins, Seq("__d"), "left")
        .select(col("__d"), col("__y"),
          coalesce(col("__m"), lit(0.0)).as("__m"))
        .withColumn("__p", lit(1.0) / (lit(1.0) + exp(-(lit(b) + col("__m")))))
        .withColumn("__err", col("__p") - col("__y"))
      val docStats = errDf.select(
        lit(-1L).as("bucket"),
        col("__err").as("__g"),
        (-(col("__y") * log(greatest(col("__p"), lit(1e-12))) +
          (lit(1.0) - col("__y")) *
            log(greatest(lit(1.0) - col("__p"), lit(1e-12))))).as("__l"))
      val wGrad = feats.join(errDf.select(col("__d"), col("__err")), Seq("__d"))
        .select(col("bucket"), (col("__x") * col("__err")).as("__g"),
          lit(0.0).as("__l"))
      val rows = wGrad.unionByName(docStats)
        .groupBy(col("bucket"))
        .agg(sum(col("__g")).as("g"), sum(col("__l")).as("l"))
        .as[(Long, Double, Double)].collect()

      var lossSum = 0.0
      var errSum = 0.0
      rows.foreach { case (bucket, g, l) =>
        if (bucket < 0) { errSum = g; lossSum = l }
        else w(bucket.toInt) -= lr * g / n
      }
      b -= lr * errSum / n
      val loss = lossSum / n
      losses += loss
      if (!prevLoss.isNaN &&
          prevLoss - loss < tol * math.max(1.0, math.abs(prevLoss)))
        stopped = true
      prevLoss = loss
      iter += 1
    }
    (LrModel(dim, seed, b, w), losses.result())
  }

  /** Score every document: probability of the positive (curated)
    * class, plus the raw margin. One broadcast join + one per-doc
    * aggregate — map-side work at any scale. `prob_bp` is the
    * basis-point rounding consumers threshold on. */
  def score(model: LrModel, df: DataFrame, idCol: String,
            textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val wDf = model.weights.toIndexedSeq.zipWithIndex
      .map { case (wv, i) => (i.toLong, wv) }
      .toDF("bucket", "__w")
    val margins = TextAnalysis.hashFeatures(df, idCol, textCol,
        model.dim, model.seed)
      .join(broadcast(wDf), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(sum(col("weight").cast("double") * col("__w")).as("__m"))
    df.select(col(idCol))
      .join(margins, Seq(idCol), "left")
      .select(col(idCol),
        (lit(model.bias) + coalesce(col("__m"), lit(0.0))).as("margin"))
      .withColumn("prob",
        lit(1.0) / (lit(1.0) + exp(-col("margin"))))
      .withColumn("prob_bp", round(col("prob") * 10000).cast("long"))
  }

  /** Train-and-keep convenience: keep the top `keepFrac` (in basis
    * points) of documents by classifier probability, boundary ties
    * broken by id-hash rank. The cut resolves through
    * [[Selection.valueAtRanks]] on the integer `prob_bp` key and the
    * tie slots through [[Selection.hashRankFilter]] — no global sort
    * and no unpartitioned window anywhere: `prob_bp` has only 10001
    * distinct values, so the boundary tie set is ~n/10⁴ rows and a
    * single-task row_number over it would serialize at corpus scale. */
  def filterByQuality(df: DataFrame, idCol: String, textCol: String,
                      labelPred: org.apache.spark.sql.Column,
                      keepBp: Int, dim: Int = 4096, iters: Int = 30,
                      lr: Double = 1.0, seed: String = "lr"): DataFrame = {
    require(keepBp > 0 && keepBp <= 10000, "keepBp in (0, 10000]")
    val (model, _) = train(df, idCol, textCol, labelPred, dim, iters,
      lr, seed)
    // cut resolve + filter share one result; the total rides its job
    val (scored, total) = Materialize.ckCount(score(model, df, idCol,
      textCol).withColumn("__negp", -col("prob_bp")))
    val cutRows = Selection.valueAtRanks(
      scored.withColumn("__one", lit(1)), "__one", "__negp",
      Seq("cut" -> s"greatest(1L, (__n * ${keepBp}L) div 10000L)"))
      .select(col("value")).collect()
    val cut = cutRows(0).getLong(0)
    val nAbove = scored.filter(col("__negp") < cut).count()
    val nKeep = math.max(1L, total * keepBp / 10000L)
    val tieSlots = nKeep - nAbove
    val tieIds = Selection.hashRankFilter(
        scored.filter(col("__negp") === cut)
          .withColumn("__tg", lit(1))
          .withColumn("__ts", lit(tieSlots)),
        "__tg", idCol, Splits.bucket(col(idCol), 1000000), "__ts")
      .select(col(idCol), lit(true).as("__tie"))
    scored.join(tieIds, Seq(idCol), "left")
      .withColumn("selected",
        (col("__negp") < cut) || coalesce(col("__tie"), lit(false)))
      .drop("__negp", "__tie")
  }
}
