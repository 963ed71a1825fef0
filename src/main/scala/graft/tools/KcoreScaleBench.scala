package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Materialize

/** Isolated scale benchmark for the kCore ROUND FUSION (r16:
  * broadcast-hinted survivor semi-joins skipping the per-round
  * checkpoint job) — the measurement the shipped datasets cannot
  * provide: sf0.1's q133 graph (~800k edges) measured NEUTRAL
  * isolated (job-floor dominated), so the fusion shipped on an
  * at-scale job/shuffle ACCOUNTING argument, the repo's only
  * unmeasured scale assertion (r16 verdict, What's wrong #2). This
  * bench synthesizes graphs at 1M/4M/16M edges and runs the SAME
  * peel with fusion ON (broadcastMaxAliveNodes = default 4M) vs OFF
  * (0 — the checkpointed semi-join path) in FRESH JVMs.
  *
  * Graph: `nEdges` edges over `nNodes` nodes with a skewed degree
  * profile — endpoint = xxhash64 mod (nNodes / (1 + hash % 4)) —
  * so successive k-core rounds peel real layers (a uniform random
  * graph collapses in one round). Fully deterministic: no wall
  * clock, no RNG.
  *
  * Output: ONE JSON line with the peel wall time, surviving-node
  * count and an order-insensitive digest — equal digests across
  * modes prove both paths computed the same answer while the wall
  * times measure the fusion. Env knobs: KCORE_SCALE_MODE (on|off),
  * KCORE_SCALE_NEDGES, KCORE_SCALE_NNODES, KCORE_SCALE_K,
  * KCORE_SCALE_ROUNDS, SPARK_GRAFT_CPUS. driverFinishMaxEdges is
  * pinned to 0 so the whole peel stays distributed — the driver
  * finish would otherwise absorb the small legs. */
object KcoreScaleBench {
  def main(args: Array[String]): Unit = {
    val mode = sys.env.getOrElse("KCORE_SCALE_MODE", "on")
    val nEdges = sys.env.getOrElse("KCORE_SCALE_NEDGES", "4000000").toLong
    val nNodes = sys.env.getOrElse("KCORE_SCALE_NNODES",
      (nEdges / 4).toString).toLong
    val k = sys.env.getOrElse("KCORE_SCALE_K", "6").toInt
    val rounds = sys.env.getOrElse("KCORE_SCALE_ROUNDS", "8").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // skewed endpoints: ~1/4 of edges draw from each of the full,
    // 1/2, 1/3 and 1/4 node ranges, layering degrees so the peel
    // runs several real rounds
    def endp(salt: Long) = {
      val h = xxhash64(lit(salt), col("id"))
      // nNodes / (1..4) via exact double floor (nNodes << 2^53)
      val rng = floor(lit(nNodes).cast("double") /
        (lit(1.0) + pmod(h, lit(4L)).cast("double"))).cast("long")
      pmod(xxhash64(lit(salt + 7), col("id")), rng) + lit(1L)
    }
    val edges = spark.range(nEdges)
      .select(endp(1L).as("src"), endp(2L).as("dst"))
      .filter(col("src") =!= col("dst"))
      .transform(Materialize(_)) // materialize BEFORE the timed region

    val bcastBound = mode match {
      case "off" => 0L
      case _     => graft.operators.Graph.BroadcastMaxAliveNodes
    }
    // mode=driver (r18, verdict item 7): force the DRIVER finish at
    // any size to measure the driver-vs-distributed crossover around
    // the 128k DriverFinishMaxEdges bound (512k–1M legs)
    val driverBound = mode match {
      case "driver" => Long.MaxValue
      case _        => 0L
    }
    val t0 = System.nanoTime()
    val core = graft.operators.Graph.kCore(edges, "src", "dst", k,
      maxRounds = rounds, driverFinishMaxEdges = driverBound,
      broadcastMaxAliveNodes = bcastBound)
    val row = core.agg(count(lit(1)).as("n"),
      coalesce(sum(pmod(xxhash64(col("node"), col("core_degree")),
        lit(1000000007L))), lit(0L)).as("digest")).head
    val secs = (System.nanoTime() - t0) / 1e9
    spark.stop()
    println(s"""{"metric":"kcore_scale","mode":"$mode","sec":${
      math.round(secs * 1000) / 1000.0},"nodes":${row.getLong(0)},"digest":${
      row.getLong(1)},"n_edges":$nEdges,"n_nodes":$nNodes,"k":$k,"rounds":$rounds}""")
  }
}
