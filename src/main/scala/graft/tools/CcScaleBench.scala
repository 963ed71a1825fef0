package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** Isolated scale benchmark for the r17 connected-components DRIVER
  * FINISH (union-find with min-id roots) vs the distributed
  * large/small-star loop — the measurement behind
  * `ConnectedComponents.CcDriverFinishMaxEdges` (the CLAUDE.md rule:
  * driver-finish bounds are MEASURED, never guessed). Synthesizes a
  * pair graph with long chains plus random unions (so the star loop
  * runs real rounds and union-find does real path compression) and
  * runs the SAME labeling with the driver finish ON (bound = 2M
  * default) vs OFF (0 — the distributed loop) in fresh JVMs.
  *
  * Output: ONE JSON line with wall time, label count and an
  * order-insensitive digest — equal digests across modes prove both
  * paths produced identical labels. Env knobs: CC_SCALE_MODE
  * (on|off), CC_SCALE_NEDGES, CC_SCALE_NNODES, SPARK_GRAFT_CPUS. */
object CcScaleBench {
  def main(args: Array[String]): Unit = {
    val mode = sys.env.getOrElse("CC_SCALE_MODE", "on")
    val nEdges = sys.env.getOrElse("CC_SCALE_NEDGES", "2000000").toLong
    val nNodes = sys.env.getOrElse("CC_SCALE_NNODES",
      (nEdges / 2).toString).toLong
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // half the edges chain consecutive ids (deep components — the
    // star loop's hard case), half union random pairs within a hashed
    // bucket (so components merge across chains); deterministic
    // expr("id div 2"), not col("id") / 2: Spark int `/` is DOUBLE
    // division (CLAUDE.md invariant — r17 ADVICE), which silently made
    // the synthesized ids DoubleType and would corrupt them above 2^53
    val edges = spark.range(nEdges)
      .select(
        when(col("id") % 2 === 0,
          pmod(expr("id div 2"), lit(nNodes)) + 1L)
          .otherwise(pmod(xxhash64(lit(1L), col("id")), lit(nNodes)) + 1L)
          .as("a"),
        when(col("id") % 2 === 0,
          pmod(expr("id div 2") + 1L, lit(nNodes)) + 1L)
          .otherwise(pmod(xxhash64(lit(2L), col("id")), lit(nNodes)) + 1L)
          .as("b"))
      .transform(Materialize(_)) // materialize BEFORE the timed region

    val bound = mode match {
      case "off" => 0L
      case _ => graft.operators.ConnectedComponents.CcDriverFinishMaxEdges
    }
    val t0 = System.nanoTime()
    val labels = graft.operators.ConnectedComponents.run(
      edges, "a", "b", driverFinishMaxEdges = bound)
    val row = labels.agg(count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(col("id"), col("cluster_id")),
        lit(1000000007L))), lit(0L)).as("digest")).head
    val secs = (System.nanoTime() - t0) / 1e9
    spark.stop()
    println(s"""{"metric":"cc_scale","mode":"$mode","sec":${
      math.round(secs * 1000) / 1000.0},"labels":${row.getLong(0)},"digest":${
      row.getLong(1)},"n_edges":$nEdges,"n_nodes":$nNodes}""")
  }
}
