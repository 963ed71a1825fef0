package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-refined ANN: per-shard HNSW (Malkov & Yashunin, TPAMI 2018 —
  * public formulation) layered ON TOP of the IVF router, exactly the
  * distributed shape SURVEY §4 prescribes: a monolithic HNSW build is
  * a sequential, mutation-heavy graph walk with no faithful Catalyst
  * expression, but per-IVF-cluster graphs build independently INSIDE
  * `mapPartitions` — no driver loop, no cross-partition mutation — and
  * a query only searches the graphs of its `nprobe` closest clusters.
  *
  * Layout: the corpus repartitions by `cluster_id` (the same co-located
  * layout Ivf.topK wants at warehouse scale); each task builds one
  * in-core graph per cluster it holds, inserting in ascending-id order
  * so the build is DETERMINISTIC for a given assignment. Node levels
  * come from an md5-derived uniform (not Random), so they are stable
  * across runs and appends. Queries are panel-sized: the (query,
  * probed-cluster) routing table is collected (REQUIRE-bounded) and
  * broadcast; per-cluster top-k candidates meet in one per-query rank
  * window bounded by nprobe·k rows.
  *
  * Float cosine scores → rows-only by the ANN-recall family contract
  * (like IVF/PQ/LSH): the spec pins recall ≥ 0.9 against the exact
  * ranking plus build determinism and the routing bound. */
object Hnsw {

  /** One in-core HNSW graph (lives inside a single task). Similarity =
    * dot of L2-normalized vectors ≡ cosine; zero-norm vectors stay at
    * the origin and rank last, matching Similarity.topK's -inf. */
  final class Index(m: Int, efConstruction: Int) {
    require(m >= 2 && efConstruction >= m,
      "HNSW needs m >= 2 and efConstruction >= m")
    private val mL = 1.0 / math.log(m.toDouble)
    private val ids = mutable.ArrayBuffer.empty[Long]
    private val vecs = mutable.ArrayBuffer.empty[Array[Double]]
    private val levels = mutable.ArrayBuffer.empty[Int]
    // neighbors(node)(level) = adjacency list
    private val nbrs = mutable.ArrayBuffer.empty[Array[mutable.ArrayBuffer[Int]]]
    private var entry = -1
    private var maxLevel = -1

    def size: Int = ids.length

    private def sim(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }

    /** Deterministic level from the node id: u = md5-derived uniform,
      * level = floor(-ln(u)·mL) — the paper's draw, seeded by data. */
    private def levelOf(id: Long): Int = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      var h = 0L
      var i = 0
      while (i < 8) { h = (h << 8) | (md(i) & 0xffL); i += 1 }
      val u = ((h >>> 11) + 1).toDouble / (1L << 53).toDouble // (0, 1]
      math.min(32, (-math.log(u) * mL).toInt)
    }

    /** Best-first search of one layer; returns up to ef (sim, node)
      * pairs, best first. */
    private def searchLayer(q: Array[Double], eps: Seq[Int], ef: Int,
                            level: Int): mutable.ArrayBuffer[(Double, Int)] = {
      val visited = mutable.HashSet.empty[Int]
      // candidates: best first; results: worst first (bounded ef)
      val cand = mutable.PriorityQueue.empty[(Double, Int)](
        Ordering.by(_._1))
      val res = mutable.PriorityQueue.empty[(Double, Int)](
        Ordering.by(t => -t._1))
      eps.foreach { e =>
        if (visited.add(e)) {
          val s = sim(q, vecs(e)); cand.enqueue((s, e)); res.enqueue((s, e))
        }
      }
      while (res.size > ef) res.dequeue()
      while (cand.nonEmpty) {
        val (cs, c) = cand.dequeue()
        if (res.size >= ef && cs < res.head._1) {
          cand.clear() // best remaining candidate can't improve results
        } else {
          nbrs(c)(level).foreach { n =>
            if (visited.add(n)) {
              val s = sim(q, vecs(n))
              if (res.size < ef || s > res.head._1) {
                cand.enqueue((s, n)); res.enqueue((s, n))
                if (res.size > ef) res.dequeue()
              }
            }
          }
        }
      }
      val out = mutable.ArrayBuffer.empty[(Double, Int)]
      while (res.nonEmpty) out += res.dequeue()
      // dequeued worst-first — reverse to best-first
      val n2 = out.length
      var i2 = 0
      while (i2 < n2 / 2) {
        val t = out(i2); out(i2) = out(n2 - 1 - i2); out(n2 - 1 - i2) = t
        i2 += 1
      }
      out
    }

    def insert(id: Long, rawVec: Array[Double]): Unit = {
      val n = {
        var s = 0.0; var i = 0
        while (i < rawVec.length) { s += rawVec(i) * rawVec(i); i += 1 }
        math.sqrt(s)
      }
      val v = if (n > 0) rawVec.map(_ / n) else rawVec.clone()
      val lvl = levelOf(id)
      val node = ids.length
      ids += id; vecs += v; levels += lvl
      nbrs += Array.fill(lvl + 1)(mutable.ArrayBuffer.empty[Int])
      if (entry < 0) { entry = node; maxLevel = lvl; return }
      var ep = entry
      var lc = maxLevel
      while (lc > lvl) { // greedy descend above the node's level
        ep = searchLayer(v, Seq(ep), 1, lc).head._2
        lc -= 1
      }
      while (lc >= 0) {
        val mMax = if (lc == 0) 2 * m else m
        val found = searchLayer(v, Seq(ep), efConstruction, lc)
        val chosen = found.take(m) // simple closest-M selection
        chosen.foreach { case (_, nb) =>
          nbrs(node)(lc) += nb
          val back = nbrs(nb)(lc)
          back += node
          if (back.length > mMax) {
            // shrink to the mMax closest of nb
            val kept = back.map(x => (sim(vecs(nb), vecs(x)), x))
              .sortBy(-_._1).take(mMax).map(_._2)
            back.clear(); back ++= kept
          }
        }
        ep = found.head._2
        lc -= 1
      }
      if (lvl > maxLevel) { maxLevel = lvl; entry = node }
    }

    /** Serialized node state, insertion order (`ord` = node index):
      * (ord, id, level, normalized vector, per-level adjacency). */
    def dumpNodes(): Iterator[(Int, Long, Int, Array[Double], Array[Array[Int]])] =
      ids.indices.iterator.map { n =>
        (n, ids(n), levels(n), vecs(n), nbrs(n).map(_.toArray)) }
    def entryNode: Int = entry
    def maxLvl: Int = maxLevel

    /** Re-attach one dumped node (vector already normalized; adjacency
      * verbatim). Caller feeds nodes in ascending `ord` and finishes
      * with [[setEntry]] — the restored graph is bit-identical to the
      * dumped one. */
    private[operators] def restoreNode(id: Long, normVec: Array[Double],
                                       level: Int,
                                       adj: Array[Array[Int]]): Unit = {
      ids += id; vecs += normVec; levels += level
      nbrs += adj.map(a => mutable.ArrayBuffer.from(a))
    }
    private[operators] def setEntry(e: Int, ml: Int): Unit = {
      entry = e; maxLevel = ml
    }

    /** Top-k (similarity, id), best first, excluding `exclude`. */
    def search(q: Array[Double], k: Int, efSearch: Int,
               exclude: Long): Seq[(Double, Long)] = {
      if (entry < 0) return Nil
      val qn = {
        var s = 0.0; var i = 0
        while (i < q.length) { s += q(i) * q(i); i += 1 }
        math.sqrt(s)
      }
      val qv = if (qn > 0) q.map(_ / qn) else q
      var ep = entry
      var lc = maxLevel
      while (lc > 0) { ep = searchLayer(qv, Seq(ep), 1, lc).head._2; lc -= 1 }
      searchLayer(qv, Seq(ep), math.max(efSearch, k + 1), 0)
        .iterator.map { case (s, node) => (s, ids(node)) }
        .filter(_._2 != exclude)
        .take(k).toSeq
    }
  }

  /** Distributed HNSW top-k over the IVF-routed corpus. Output:
    * (query_id, rank, neighbor_id) — the Ivf.topK contract, so recall
    * specs and downstream fusion compose unchanged. */
  def topK(df: DataFrame, idCol: String, embCol: String,
           queryPred: Column, k: Int, model: Ivf.Model, nprobe: Int,
           m: Int = 8, efConstruction: Int = 64, efSearch: Int = 48,
           maxQueries: Int = 4096): DataFrame = {
    require(k >= 1 && nprobe >= 1, "k and nprobe must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._

    val byCluster =
      routeQueries(df, idCol, embCol, queryPred, model, nprobe, maxQueries)
    val bc = spark.sparkContext.broadcast(byCluster)
    val (mC, efC, efS, kC) = (m, efConstruction, efSearch, k)

    // cluster-partitioned corpus; ONE graph per cluster per task,
    // ascending-id insertion for a deterministic build
    val assigned = Ivf.assign(df, idCol, embCol, model)
      .select(col(idCol).as("__id"),
        Similarity.toDouble(col(embCol)).as("__e"), col("cluster_id"))
      .repartition(math.max(1, model.k / 2), col("cluster_id"))
    val cands = assigned
      .as[(Long, Seq[Double], Int)]
      .mapPartitions { it =>
        val byC = mutable.HashMap
          .empty[Int, mutable.ArrayBuffer[(Long, Array[Double])]]
        it.foreach { case (id, e, c) =>
          if (bc.value.contains(c))
            byC.getOrElseUpdate(c,
              mutable.ArrayBuffer.empty) += ((id, e.toArray))
        }
        byC.iterator.flatMap { case (c, rows) =>
          val idx = new Index(mC, efC)
          rows.sortInPlaceBy(_._1)
          rows.foreach { case (id, v) => idx.insert(id, v) }
          bc.value(c).iterator.flatMap { case (qid, qv) =>
            idx.search(qv, kC, efS, exclude = qid)
              .map { case (s, nid) => (qid, nid, s) }
          }
        }
      }.toDF("query_id", "neighbor_id", "__sim")
    mergeCandidates(cands, k)
  }

  /** nprobe closest centroids per query (the Ivf.topK probe logic),
    * panel-sized and REQUIRE-bounded; shared by the fresh-build and
    * loaded-index search paths. */
  private def routeQueries(df: DataFrame, idCol: String, embCol: String,
                           queryPred: Column, model: Ivf.Model,
                           nprobe: Int, maxQueries: Int)
      : Map[Int, Array[(Long, Array[Double])]] = {
    val spark = df.sparkSession
    import spark.implicits._
    val centDists = graft.functions.NativeExprs.centroidSqDists(
      col(embCol).cast("array<double>"), model.centroids)
    val wProbe = Window.partitionBy(col("query_id")).orderBy(col("__d"))
    val probedRows = df.filter(queryPred)
      .select(col(idCol).as("query_id"),
        Similarity.toDouble(col(embCol)).as("__qe"),
        posexplode(centDists))
      .withColumnRenamed("pos", "cluster_id")
      .withColumnRenamed("col", "__d")
      .withColumn("__pr", row_number().over(wProbe))
      .filter(col("__pr") <= nprobe)
      .select(col("query_id"), col("__qe"), col("cluster_id"))
      .as[(Long, Seq[Double], Int)].collect()
    require(probedRows.length <= maxQueries.toLong * nprobe,
      s"query panel ${probedRows.length / math.max(1, nprobe)} exceeds " +
        s"the $maxQueries broadcast budget — shrink the panel")
    probedRows.groupBy(_._3).view
      .mapValues(_.map(r => (r._1, r._2.toArray))).toMap
  }

  /** Per-query merge of the <= nprobe per-cluster candidate lists
    * (each <= k) into the (query_id, rank, neighbor_id) contract. */
  private def mergeCandidates(cands: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("__sim").desc, col("neighbor_id"))
    cands
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("__sim")).as("__sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"))
  }

  // ---------------------------------------------------------------
  // Index persistence: build once, search many (the Ivf.save/Pq.save
  // posture — at corpus scale the graph build dominates the query, so
  // rebuilding per call is the wrong trade; see VERDICT r12 missing #2)
  // ---------------------------------------------------------------

  /** One dumped node row. `entry`/`max_level` repeat per cluster (they
    * compress away) so a cluster's graph restores without a meta join. */
  private type NodeRow =
    (Int, Int, Long, Int, Seq[Double], Seq[Seq[Int]], Int, Int)

  /** Build per-cluster HNSW graphs over the WHOLE corpus and persist
    * them as one parquet artifact, partitioned by `cluster_id` so a
    * loaded search reads ONLY its probed clusters (partition pruning).
    * One row per node: (cluster_id, ord, doc_id, level, vec, nbrs,
    * entry, max_level); `vec` is stored L2-normalized, `ord` is the
    * ascending-id insertion position. */
  def saveIndex(df: DataFrame, idCol: String, embCol: String,
                model: Ivf.Model, path: String,
                m: Int = 8, efConstruction: Int = 64): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val (mC, efC) = (m, efConstruction)
    val assigned = Ivf.assign(df, idCol, embCol, model)
      .select(col(idCol).as("__id"),
        Similarity.toDouble(col(embCol)).as("__e"), col("cluster_id"))
      .repartition(math.max(1, model.k / 2), col("cluster_id"))
    assigned.as[(Long, Seq[Double], Int)]
      .mapPartitions { it =>
        val byC = mutable.HashMap
          .empty[Int, mutable.ArrayBuffer[(Long, Array[Double])]]
        it.foreach { case (id, e, c) =>
          byC.getOrElseUpdate(c,
            mutable.ArrayBuffer.empty) += ((id, e.toArray))
        }
        byC.iterator.flatMap { case (c, rows) =>
          val idx = new Index(mC, efC)
          rows.sortInPlaceBy(_._1)
          rows.foreach { case (id, v) => idx.insert(id, v) }
          idx.dumpNodes().map { case (ord, id, lvl, vec, adj) =>
            (c, ord, id, lvl, vec.toSeq, adj.map(_.toSeq).toSeq,
              idx.entryNode, idx.maxLvl): NodeRow
          }
        }
      }
      .toDF("cluster_id", "ord", "doc_id", "level", "vec", "nbrs",
        "entry", "max_level")
      .write.mode("overwrite").partitionBy("cluster_id").parquet(path)
  }

  /** Restore the graphs of exactly one cluster group (rows sorted by
    * ord) and run the broadcast query panel against them. */
  private def searchRestored(
      rows: mutable.ArrayBuffer[(Int, Long, Int, Array[Double], Array[Array[Int]])],
      entry: Int, maxLevel: Int, m: Int, efConstruction: Int,
      queries: Array[(Long, Array[Double])], k: Int, efSearch: Int)
      : Iterator[(Long, Long, Double)] = {
    val idx = new Index(m, efConstruction)
    rows.sortInPlaceBy(_._1)
    rows.foreach { case (_, id, lvl, vec, adj) =>
      idx.restoreNode(id, vec, lvl, adj) }
    idx.setEntry(entry, maxLevel)
    queries.iterator.flatMap { case (qid, qv) =>
      idx.search(qv, k, efSearch, exclude = qid)
        .map { case (s, nid) => (qid, nid, s) }
    }
  }

  /** Search a persisted index: same output contract as [[topK]], but
    * the per-cluster graphs are LOADED (only the probed clusters are
    * read — partition-pruned scan), not rebuilt. `m`/`efConstruction`
    * must match the values the index was saved with (they only gate
    * the Index constructor's validity check). */
  def loadTopK(queriesDf: DataFrame, idCol: String, embCol: String,
               queryPred: Column, k: Int, model: Ivf.Model, nprobe: Int,
               indexPath: String, m: Int = 8, efConstruction: Int = 64,
               efSearch: Int = 48, maxQueries: Int = 4096): DataFrame = {
    require(k >= 1 && nprobe >= 1, "k and nprobe must be >= 1")
    val spark = queriesDf.sparkSession
    import spark.implicits._
    recoverParked(new org.apache.hadoop.fs.Path(indexPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), indexPath,
      restoreOnly = true)
    val byCluster = routeQueries(
      queriesDf, idCol, embCol, queryPred, model, nprobe, maxQueries)
    val bc = spark.sparkContext.broadcast(byCluster)
    val (mC, efC, efS, kC) = (m, efConstruction, efSearch, k)
    val probedIds = byCluster.keys.toSeq.sorted
    if (probedIds.isEmpty)
      return spark.emptyDataset[(Long, Int, Long)]
        .toDF("query_id", "rank", "neighbor_id")
    val nodes = spark.read.parquet(indexPath)
      .filter(col("cluster_id").isin(probedIds: _*)) // partition-pruned
      .select(col("cluster_id"), col("ord"), col("doc_id"), col("level"),
        col("vec"), col("nbrs"), col("entry"), col("max_level"))
      .repartition(math.max(1, probedIds.size), col("cluster_id"))
    val cands = nodes
      .as[NodeRow]
      .mapPartitions { it =>
        val byC = mutable.HashMap.empty[Int,
          (mutable.ArrayBuffer[(Int, Long, Int, Array[Double], Array[Array[Int]])], Int, Int)]
        it.foreach { case (c, ord, id, lvl, vec, adj, entry, maxLvl) =>
          val slot = byC.getOrElseUpdate(c,
            (mutable.ArrayBuffer.empty, entry, maxLvl))
          slot._1 += ((ord, id, lvl, vec.toArray,
            adj.map(_.toArray).toArray))
        }
        byC.iterator.flatMap { case (c, (rows, entry, maxLvl)) =>
          bc.value.get(c).iterator.flatMap { qs =>
            searchRestored(rows, entry, maxLvl, mC, efC, qs, kC, efS)
          }
        }
      }.toDF("query_id", "neighbor_id", "__sim")
    mergeCandidates(cands, k)
  }

  /** Restore any cluster directory a crashed [[appendIndex]] left
    * parked (the Rename-committer park/restore pattern, per partition
    * dir): a parked dir whose live dir is MISSING is a predecessor
    * that died between parking the old version and renaming the new
    * one in — put it back; a parked dir alongside a live dir is
    * superseded — drop it (writer path only, see below). Runs at the
    * top of every append and load, so a crash never strands the index.
    *
    * Concurrency contract: appends are SINGLE-WRITER (one appendIndex
    * per index path at a time — the caller serializes writers the way
    * it serializes any table write). Readers MAY overlap a writer:
    * the read path therefore runs RESTORE-ONLY recovery — it re-renames
    * a parked dir whose live dir is missing (best-effort: a rename
    * lost to the writer's own staged→live swap just means the live dir
    * exists, which is the goal) and NEVER deletes a parked dir or the
    * park root. Deleting from the read path could race an in-flight
    * append: listStatus + delete(park) between the writer's park and
    * its staged rename would destroy the only surviving copy of a
    * cluster if the writer then crashed (r14 advice). Only the writer
    * — which by contract has no concurrent writer — drops superseded
    * parks and the park root. */
  private def recoverParked(fs: org.apache.hadoop.fs.FileSystem,
                            path: String,
                            restoreOnly: Boolean = false): Unit = {
    val park = new org.apache.hadoop.fs.Path(path + "__park")
    if (!fs.exists(park)) return
    fs.listStatus(park).foreach { st =>
      val live = new org.apache.hadoop.fs.Path(path, st.getPath.getName)
      if (!fs.exists(live)) {
        if (!fs.rename(st.getPath, live) && !restoreOnly)
          throw new java.io.IOException(
            s"appendIndex recovery: could not restore ${st.getPath}")
      } else if (!restoreOnly) fs.delete(st.getPath, true)
    }
    if (!restoreOnly) fs.delete(park, true)
  }

  /** Append a batch of new vectors to a persisted index. Only the
    * TOUCHED clusters (those the batch routes to) are read —
    * partition-pruned — and only their `cluster_id=` directories are
    * rewritten; the rest of the artifact's files are never opened.
    * Each touched cluster's graph is restored, the new nodes insert in
    * ascending-id order (ids already present are SKIPPED, making a
    * retry after a crash idempotent), and the swap goes per cluster
    * dir through the Rename-committer park/restore pattern: old dir
    * parks at `<path>__park/`, the staged dir renames in, the park is
    * dropped — a crash at any point either leaves the old version
    * live or leaves it parked, and [[recoverParked]] (run on entry by
    * both append and [[loadTopK]]) restores it; no interleaving loses
    * a cluster. When every appended id sorts after the existing ids of
    * its cluster, the result is BIT-IDENTICAL to a fresh build over
    * the union (insertion order matches), which is the determinism
    * contract HnswSpec pins. */
  def appendIndex(newDf: DataFrame, idCol: String, embCol: String,
                  model: Ivf.Model, path: String,
                  m: Int = 8, efConstruction: Int = 64): Unit = {
    val spark = newDf.sparkSession
    import spark.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    recoverParked(fs, path)
    val (mC, efC) = (m, efConstruction)
    // the clusters this batch routes to (a model.k-bounded driver
    // list) ride the checkpoint job that feeds the merge
    val (fresh, met) = Materialize.ckObserve(
      Ivf.assign(newDf, idCol, embCol, model)
        .select(col(idCol).as("doc_id"),
          Similarity.toDouble(col(embCol)).as("vec"), col("cluster_id")),
      Seq(collect_set(col("cluster_id")).as("__touched")))
    val touched = met("__touched").asInstanceOf[scala.collection.Seq[Int]]
      .toArray.sorted
    if (touched.isEmpty) return
    val old = spark.read.parquet(path)
      .filter(col("cluster_id").isin(touched.map(Int.box): _*)) // pruned
      .select(col("cluster_id"), col("ord"), col("doc_id"), col("level"),
        col("vec"), col("nbrs"), col("entry"), col("max_level"))
    // tag old graph rows vs fresh inserts in one union, co-located by
    // cluster: (ord = -1, level/entry/max_level = -1) marks an insert
    val freshRows = fresh.select(col("cluster_id"), lit(-1).as("ord"),
      col("doc_id"), lit(-1).as("level"), col("vec"),
      lit(null).cast(old.schema("nbrs").dataType).as("nbrs"),
      lit(-1).as("entry"), lit(-1).as("max_level"))
    val merged = old.unionByName(freshRows)
      .repartition(math.max(1, model.k / 2), col("cluster_id"))
      .as[NodeRow]
      .mapPartitions { it =>
        val graphs = mutable.HashMap.empty[Int,
          (mutable.ArrayBuffer[(Int, Long, Int, Array[Double], Array[Array[Int]])], Int, Int)]
        val inserts = mutable.HashMap
          .empty[Int, mutable.ArrayBuffer[(Long, Array[Double])]]
        it.foreach { case (c, ord, id, lvl, vec, adj, entry, maxLvl) =>
          if (ord >= 0) {
            val slot = graphs.getOrElseUpdate(c,
              (mutable.ArrayBuffer.empty, entry, maxLvl))
            slot._1 += ((ord, id, lvl, vec.toArray,
              adj.map(_.toArray).toArray))
          } else inserts.getOrElseUpdate(c,
            mutable.ArrayBuffer.empty) += ((id, vec.toArray))
        }
        (graphs.keySet ++ inserts.keySet).iterator.flatMap { c =>
          val idx = new Index(mC, efC)
          graphs.get(c).foreach { case (rows, entry, maxLvl) =>
            rows.sortInPlaceBy(_._1)
            rows.foreach { case (_, id, lvl, vec, adj) =>
              idx.restoreNode(id, vec, lvl, adj) }
            idx.setEntry(entry, maxLvl)
          }
          inserts.get(c).foreach { rows =>
            // skip ids already in the graph: a retried append after a
            // crash re-offers ids that landed in already-swapped
            // clusters; skipping keeps the retry idempotent (and a
            // skipped id changes nothing, so determinism holds)
            val existing = graphs.get(c)
              .map(_._1.iterator.map(_._2).toSet)
              .getOrElse(Set.empty[Long])
            rows.sortInPlaceBy(_._1)
            rows.foreach { case (id, v) =>
              if (!existing.contains(id)) idx.insert(id, v) }
          }
          idx.dumpNodes().map { case (ord, id, lvl, vec, adj) =>
            (c, ord, id, lvl, vec.toSeq, adj.map(_.toSeq).toSeq,
              idx.entryNode, idx.maxLvl): NodeRow
          }
        }
      }
      .toDF("cluster_id", "ord", "doc_id", "level", "vec", "nbrs",
        "entry", "max_level")
    // stage the touched clusters beside the live index, then swap ONE
    // CLUSTER DIR AT A TIME through park/restore — untouched cluster
    // files are never rewritten
    val stage = new org.apache.hadoop.fs.Path(path + "__stage")
    if (fs.exists(stage)) fs.delete(stage, true) // crashed staging
    merged.write.mode("overwrite").partitionBy("cluster_id")
      .parquet(stage.toString)
    val park = new org.apache.hadoop.fs.Path(path + "__park")
    fs.mkdirs(park)
    touched.foreach { c =>
      val dirName = s"cluster_id=$c"
      val live = new org.apache.hadoop.fs.Path(root, dirName)
      val staged = new org.apache.hadoop.fs.Path(stage, dirName)
      val parked = new org.apache.hadoop.fs.Path(park, dirName)
      if (!fs.exists(staged))
        throw new java.io.IOException(
          s"appendIndex: staged output missing for $dirName")
      if (fs.exists(parked)) fs.delete(parked, true) // superseded
      if (fs.exists(live) && !fs.rename(live, parked))
        throw new java.io.IOException(
          s"appendIndex: could not park $live")
      if (!fs.rename(staged, live)) {
        if (fs.exists(parked) && !fs.rename(parked, live))
          throw new java.io.IOException(
            s"appendIndex: swap failed for $live AND the rollback " +
              s"failed — the previous version is parked at $parked")
        throw new java.io.IOException(
          s"appendIndex: swap failed for $live (previous version " +
            "rolled back)")
      }
      fs.delete(parked, true)
    }
    fs.delete(stage, true)
    fs.delete(park, true)
  }
}
