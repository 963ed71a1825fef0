package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Market-basket association mining (Agrawal & Srikant 1994 lineage,
  * pairwise): item pairs that co-occur in baskets more than their
  * individual popularities predict, ranked by lift =
  * P(ab) / (P(a)·P(b)) — emitted as exact floored basis points, so
  * the whole report is integer and engine-reproducible.
  *
  * Scale: baskets dedupe to DISTINCT (basket, item) first; the pair
  * join is per-basket (bounded by basket size, like the triangle
  * pair generation), pair counts partial-aggregate on the (a, b)
  * key, and item supports attach by two joins on the item key. The
  * lift product rides decimal(38,0) (support · nBaskets · 10⁴
  * overflows a long at warehouse scale) with an integral `div` back
  * to a long. Top-k resolves through TakeOrderedAndProject on a
  * total (lift, pair) order, never a global sort. */
object Association {

  /** Shared co-occurrence core: distinct-basket pair counts with both
    * items' supports attached, plus the basket count. Columns:
    * (item_a, item_b, c_a, c_b, c_ab), item_a < item_b. */
  private def cooc(df: DataFrame, basketCol: String, itemCol: String,
                   minSupport: Long): (DataFrame, Long) = {
    require(minSupport >= 1, "minSupport must be >= 1")
    val items = df.select(col(basketCol).as("__b"), col(itemCol).as("__i"))
      .filter(col("__i").isNotNull)
      .distinct()
      .transform(Materialize(_)) // basket count + supports + pair join
    val nB = items.select(col("__b")).distinct().count()
    require(nB > 0, "no baskets")
    val support = items.groupBy(col("__i")).agg(count(lit(1)).as("__c"))
      .transform(Materialize(_)) // joined twice
    // apriori prune BEFORE pairing: c_ab <= min(c_a, c_b), so a pair
    // reaching minSupport needs both items frequent — dropping rare
    // items first cannot change the output but collapses the
    // quadratic per-basket pair generation for long-tailed baskets
    // (doc->term baskets are mostly rare terms; order baskets aren't)
    val freqItems = items.join(
      support.filter(col("__c") >= minSupport).select(col("__i")),
      Seq("__i"), "left_semi")
    val pairs = freqItems
      .join(freqItems.select(col("__b"), col("__i").as("__j")), Seq("__b"))
      .filter(col("__i") < col("__j"))
      .groupBy(col("__i"), col("__j"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minSupport)
    val out = pairs
      .join(support.select(col("__i"), col("__c").as("c_a")), Seq("__i"))
      .join(support.select(col("__i").as("__j"), col("__c").as("c_b")),
        Seq("__j"))
      .select(col("__i").as("item_a"), col("__j").as("item_b"),
        col("c_a"), col("c_b"), col("c_ab"))
    (out, nB)
  }

  /** Top-`k` item pairs by lift among pairs with co-occurrence
    * support ≥ `minSupport`. Output: (item_a, item_b, c_a, c_b,
    * c_ab, lift_bp), item_a < item_b. */
  def pairLift(df: DataFrame, basketCol: String, itemCol: String,
               minSupport: Long, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val (pairs, nB) = cooc(df, basketCol, itemCol, minSupport)
    pairs
      .withColumn("lift_bp", expr(
        s"cast(c_ab as decimal(38,0)) * ${nB}L * 10000L" +
          s" div (cast(c_a as decimal(38,0)) * c_b)"))
      .orderBy(col("lift_bp").desc, col("item_a"), col("item_b"))
      .limit(k)
  }

  /** Item-item Jaccard similarity (the co-occurrence recommender's
    * "customers who bought A also bought B" core): top-`k` item pairs
    * by exact `|A∩B| / |A∪B|` over their basket sets, in floored basis
    * points — pure long arithmetic (no product with the basket count,
    * unlike lift, so no decimal widening is needed). Popularity-
    * normalized where raw co-counts just rank the bestsellers. Output:
    * (item_a, item_b, c_a, c_b, c_ab, jaccard_bp), item_a < item_b;
    * deterministic (jaccard, pair) tie order via
    * TakeOrderedAndProject, never a global sort. */
  def itemJaccard(df: DataFrame, basketCol: String, itemCol: String,
                  minSupport: Long, k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val (pairs, _) = cooc(df, basketCol, itemCol, minSupport)
    pairs
      .withColumn("jaccard_bp",
        expr("(c_ab * 10000L) div (c_a + c_b - c_ab)"))
      .orderBy(col("jaccard_bp").desc, col("item_a"), col("item_b"))
      .limit(k)
  }
}
