package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy record linkage: candidate pairs via an equi-join on a
  * cheap blocking key, verified with exact edit distance — the classic
  * two-phase design that keeps the quadratic comparison inside blocks
  * (an unblocked fuzzy join is a cross product; at 100 TB the blocking
  * key IS the operator).
  *
  * Edit distance is Spark's codegen'd `levenshtein` (same classic DP
  * any engine implements, so thresholds are engine-exact).
  */
object Linkage {

  /** Self-linkage: pairs (id_a < id_b) sharing `block` whose `nameCol`
    * values are within `maxDist` edits. Output
    * (id_a, id_b, name_a, name_b, dist). */
  def fuzzyPairs(df: DataFrame, idCol: String, nameCol: String,
                 block: Column, maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val a = df.select(col(idCol).as("id_a"), col(nameCol).as("name_a"),
      block.as("__blk"))
    val b = df.select(col(idCol).as("id_b"), col(nameCol).as("name_b"),
      block.as("__blk"))
    a.join(b, Seq("__blk"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .drop("__blk")
      .select(col("id_a"), col("id_b"), col("name_a"), col("name_b"),
        col("dist").cast("int").as("dist"))
  }

  /** Mutual best-match (reciprocal top-1) linkage across two record
    * sets: a pair survives only if b is a's closest match AND a is b's
    * — the standard high-precision rule that kills the asymmetric
    * junk matches a one-sided nearest join keeps. Ties break on
    * (dist, id), so the result is deterministic and engine-exact.
    * Output: (id_a, id_b, dist).
    *
    * Scale: the quadratic stays inside blocks (as in [[fuzzyPairs]]);
    * each side's best is an `argmin` via `min(struct(dist, id))` —
    * partial-agg shaped, NO per-key window, so a hot block never
    * serializes — and mutuality is one equi-join of the two aggregate
    * frames. Candidates are locally checkpointed (both aggregates
    * read them). */
  def mutualBest(left: DataFrame, right: DataFrame, idCol: String,
                 nameCol: String, block: Column, maxDist: Int): DataFrame = {
    require(maxDist >= 0, "maxDist must be non-negative")
    val a = left.select(col(idCol).as("id_a"), col(nameCol).as("name_a"),
      block.as("__blk"))
    val b = right.select(col(idCol).as("id_b"), col(nameCol).as("name_b"),
      block.as("__blk"))
    val cand = a.join(b, Seq("__blk"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
      .transform(Materialize(_)) // two argmin consumers
    val bestA = cand.groupBy(col("id_a"))
      .agg(min(struct(col("dist"), col("id_b"))).as("__m"))
      .select(col("id_a"), col("__m.dist").as("dist"),
        col("__m.id_b").as("id_b"))
    val bestB = cand.groupBy(col("id_b"))
      .agg(min(struct(col("dist"), col("id_a"))).as("__m"))
      .select(col("id_b"), col("__m.dist").as("dist"),
        col("__m.id_a").as("id_a"))
    bestA.join(bestB, Seq("id_a", "id_b", "dist"))
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
  }

  /** Golden-record consolidation (survivorship): collapse each entity
    * cluster to one canonical row — per attribute the most frequent
    * non-null value wins, ties break to the lexicographically smallest
    * (values compared as strings, so the rule is engine-portable). The
    * step after clustering in every MDM / entity-resolution pipeline
    * ([[fuzzyPairs]] → connected components → THIS).
    *
    * Scale: attributes melt via ONE `stack` projection (one scan, no
    * per-attr passes), mode-election is two partial-agg shuffles —
    * (cluster, attr, value) counts, then an argmin over
    * (−count, value) structs, NO per-cluster windows — and the pivot
    * back is over the declared attr list. Output: (clusterCol,
    * n_members, attrs... as strings, NULL when a cluster has no
    * non-null value for an attr). */
  def goldenRecords(records: DataFrame, clusterCol: String,
                    attrs: Seq[String]): DataFrame = {
    require(attrs.nonEmpty, "attrs must be non-empty")
    require(attrs.forall(a => a != clusterCol),
      "clusterCol cannot be an attr")
    val stackExpr = s"stack(${attrs.size}, " +
      attrs.map(a => s"'$a', cast(`$a` as string)").mkString(", ") +
      ") as (attr, value)"
    val best = records.select(col(clusterCol).as("__cl"), expr(stackExpr))
      .filter(col("value").isNotNull)
      .groupBy(col("__cl"), col("attr"), col("value"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col("__cl"), col("attr"))
      .agg(min(struct((-col("__n")).as("nn"), col("value").as("v")))
        .as("__m"))
      .select(col("__cl"), col("attr"), col("__m.v").as("value"))
    records.groupBy(col(clusterCol).as("__cl"))
      .agg(count(lit(1)).as("n_members"))
      .join(best.groupBy("__cl").pivot("attr", attrs).agg(first("value")),
        Seq("__cl"), "left")
      .withColumnRenamed("__cl", clusterCol)
  }

  /** ε-band numeric self-join: all pairs with |v_a − v_b| <= eps
    * (within optional blocking columns), id_a < id_b — the numeric-
    * field twin of [[fuzzyPairs]] (near-identical amounts, timestamps,
    * coordinates) without an O(n²) cross join.
    *
    * Scale: values bucket by `v div eps`; a within-eps pair can only
    * sit in the same or adjacent buckets, so candidates come from ONE
    * equi-join of the table against itself shifted {0, +1} buckets —
    * candidate volume is bounded by per-bucket collisions, never n².
    * Dedup is exact: same-bucket pairs keep id order, adjacent-bucket
    * pairs match exactly once (higher bucket probes lower) and then
    * canonicalize to (min id, max id). Output: (blockCols..., id_a,
    * id_b, value_a, value_b, diff = value_b − value_a). */
  def bandJoin(df: DataFrame, idCol: String, valueCol: String, eps: Long,
               blockCols: Seq[String] = Seq.empty): DataFrame = {
    require(eps > 0, "eps must be positive")
    val base = df.select(col(idCol).cast("long").as("__id") +:
        col(valueCol).cast("long").as("__v") +: blockCols.map(col): _*)
      .withColumn("__b", expr(s"__v div ${eps}L"))
    val probe = Seq(0L, 1L).map { d =>
      base.select(col("__id").as("__pid") +: col("__v").as("__pv") +:
        col("__b").as("__ob") +: (col("__b") + lit(d)).as("__b") +:
        blockCols.map(col): _*)
    }.reduce(_ unionByName _)
    base.join(probe, Seq("__b") ++ blockCols)
      .filter(((col("__ob") === col("__b") && col("__pid") > col("__id")) ||
        col("__ob") === col("__b") - 1) &&
        abs(col("__pv") - col("__v")) <= eps)
      .select(blockCols.map(col) ++ Seq(
        least(col("__id"), col("__pid")).as("id_a"),
        greatest(col("__id"), col("__pid")).as("id_b"),
        when(col("__id") <= col("__pid"), col("__v")).otherwise(col("__pv"))
          .as("value_a"),
        when(col("__id") <= col("__pid"), col("__pv")).otherwise(col("__v"))
          .as("value_b")): _*)
      .withColumn("diff", col("value_b") - col("value_a"))
  }
}
