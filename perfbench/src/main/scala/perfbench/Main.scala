package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One benchmark run: set up, measure whole blocks for `--seconds`,
  * check, and print one JSON result line on stdout (diagnostics go to
  * stderr). With `--trace 1` a listener attributes Spark work to
  * harness spans and the result carries the per-layer metrics instead
  * of the end-to-end ones. */
object Main {
  private val MB = 1024.0 * 1024.0

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    Files.createDirectories(Paths.get(cfg.work))
    val spark = session(cfg.work)
    val tracer = if (cfg.trace) Some(new Tracer(spark.sparkContext)) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val h = new Harness(spark, cfg, tracer)
    val w: Workload = cfg.workload match {
      case "store_read" => new StoreRead(h)
      case "store_ingest" => new StoreIngest(h)
      case "train_mix" => new Train(h)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other'")
    }
    try run(h, w)
    finally {
      val t0 = System.nanoTime()
      spark.stop()
      h.note(f"session stopped in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
  }

  /** Untimed warm-up of the fresh JVM and session on the workload's own
    * tables (a scan, a shuffle aggregate, a join, a window and a parquet
    * write), so the first timed unit does not absorb that cost. */
  private def warmUp(h: Harness): Unit = {
    val dir =
      if (h.cfg.workload == "train_mix") h.cfg.trainData else h.cfg.storeData
    val orders = h.spark.read.parquet(s"$dir/orders.parquet")
    val customers = h.spark.read.parquet(s"$dir/customer.parquet")
    val perCustomer = orders.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), max("o_orderdate").as("last"))
    customers.join(perCustomer, col("c_custkey") === col("o_custkey"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("c_mktsegment").orderBy("c_custkey")))
      .write.mode("overwrite").parquet(h.path("warmup"))
    Digest.of(h.spark.read.parquet(h.path("warmup")))
  }

  /** Driver heap in use after full collections, repeated until it stops
    * shrinking: Spark's cleaner frees unreferenced blocks only after a
    * collection has found them, so one GC can leave them counted. */
  private def settledHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    def used(): Double = {
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / MB
    }
    var prev = used()
    var cur = used()
    var rounds = 2
    while (cur < prev * 0.99 && rounds < 8) {
      prev = cur
      cur = used()
      rounds += 1
    }
    cur
  }

  private def run(h: Harness, w: Workload): Unit = {
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean
    def phase(name: String): Unit =
      h.note(f"$name done at ${uptime.getUptime / 1e3}%.1f s")
    phase("session start")
    warmUp(h)
    phase("warm-up")
    w.setup()
    phase("set-up")
    val warm = h.ops.size
    val t0 = System.nanoTime()
    val window = h.cfg.seconds * 1e9
    h.tracer.foreach(_.recording = true)
    do w.block() while (System.nanoTime() - t0 < window)
    h.tracer.foreach(_.recording = false)
    val measured = h.ops.drop(warm).toSeq
    phase("measured window")

    // end-of-run state, before any check adds work of its own. A trivial
    // query first, so whatever the session keeps of its latest query is
    // that query's, not the last measured one's (which the seed picks)
    Digest.noop(h.spark.range(1).toDF())
    val sc = h.spark.sparkContext
    val cachedRdds = sc.getPersistentRDDs.values.count(!_.isCheckpointed)
    val storeMb = Harness.du(h.path("store")) / MB
    val heapMb = settledHeapMb()

    w.finish()
    phase("checks")
    require(h.ops.forall(_.checked), "an operation was never checked")
    val failed = h.ops.count(_.failed)
    val setupS = Stats.median(h.setupS.toSeq)
    val opMs = Stats.mean(measured.map(_.ms))

    measured.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
      val ms = os.map(_.ms)
      val tail = Stats.highestSupported(ms)
        .map { case (p, v) => f", p$p%.1f $v%.1f ms" }.getOrElse("")
      h.note(f"$k: n=${ms.size}, mean ${Stats.mean(ms)}%.1f ms, " +
        f"median ${Stats.median(ms)}%.1f ms$tail")
    }
    h.note(f"set-up units ${h.setupS.map(s => f"$s%.2f").mkString(", ")} s;" +
      f" cached RDDs $cachedRdds, heap $heapMb%.1f MB, store $storeMb%.2f MB;" +
      s" failed $failed of ${h.ops.size}")

    val metrics: Seq[(String, Double, String)] = h.tracer match {
      case None => Seq(
        ("setup_s", setupS, "s"),
        ("op_ms", opMs, "ms"),
        ("heap_mb_end", heapMb, "MB"))
      case Some(t) =>
        val rows = t.attributed()
        val file = Paths.get(h.cfg.work, "trace.json")
        Files.write(file, Layers.detail(rows).getBytes("UTF-8"))
        h.note(s"span detail written to $file")
        Layers.metrics(rows) ++ Seq(
          ("harness.run.setup_s", setupS, "s"),
          ("harness.run.op_ms", opMs, "ms"),
          ("harness.run.ops", measured.size.toDouble, "count"),
          ("harness.run.error_rate", failed.toDouble / h.ops.size, "ratio"),
          ("harness.run.heap_mb_end", heapMb, "MB"),
          ("harness.run.cached_rdds_end", cachedRdds.toDouble, "count"),
          ("harness.run.store_mb_end", storeMb, "MB"))
    }
    println(Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> h.ops.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
  }
}
