package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.{Aggregators, FeatureStore, Intervals, KeyJoinFeatures, Scd2}
import graft.operators.Interlace
import graft.stores.TpchFeatureStore

/** What the two store workloads share: the store, how a request is
  * issued (whole, or as its public parts when traced) and the
  * cache-free reference read its result is checked against. */
abstract class StoreWorkload(h: Harness) extends Workload {
  val storeDir: String = h.path("store")
  lazy val store: FeatureStore = open(storeDir)

  def open(dir: String): FeatureStore =
    TpchFeatureStore(h.spark, h.cfg.storeData, dir)

  private val loaderOf = store.dsMap.toMap

  def tableBytes(feature: String): Long =
    Harness.du(s"$storeDir/${loaderOf(feature)}")

  /** Features a stratification kind reads. */
  def strataFeatures(strata: String): Seq[String] = strata match {
    case "none" => Seq.empty
    case "seg1" => Seq("mktsegment")
    case s => s.split('+').toSeq
  }

  def strataExprs(strata: String): Seq[(String, Column)] = strata match {
    case "seg1" => Seq("seg1" -> substring(col("mktsegment"), 1, 1))
    case s => strataFeatures(s).map(f => f -> col(f))
  }

  /** Issue `r` against `st` and write its series in full. Untraced, this
    * is the one public call `keyJoinFeaturesExpr`. Traced, the call runs
    * on other threads (its `getFeature`s are futures), so the request
    * is issued as its public parts on this thread instead: `getFeature`
    * per feature, `truncateInterlace` over the same frames (materialized
    * on its own), then `KeyJoinFeatures.withExprs`. */
  def serve(st: FeatureStore, r: Request): Digest =
    if (!h.traced)
      Digest.write(st.keyJoinFeaturesExpr(r.observable,
        strataExprs(r.strata), r.start, r.end))
    else {
      val frames = (r.observable +: strataFeatures(r.strata)).map { f =>
        h.span("core.Store.getFeature.covered")(
          st.getFeature(f, r.start, r.end))
      }
      h.span("operators.Interlace.truncateInterlace") {
        Digest.noop(Interlace.truncateInterlace(frames.head, frames.tail))
      }
      val handler = st.handlerOf(r.observable)
      val feature =
        if (handler.keyJoin == Aggregators.Count)
          Intervals.keyCols(frames.head).head
        else handler.feature
      h.span("core.KeyJoinFeatures.withExprs") {
        Digest.write(KeyJoinFeatures.withExprs(frames.head, r.observable,
          feature, handler.keyJoin, frames.tail, strataExprs(r.strata),
          r.start, r.end))
      }
    }

  /** Run `body` against a second store over the same directory, reached
    * through a fresh link so no plan cached by the measured store can
    * answer it; afterwards drop whatever the reference cached. */
  def reference[A](body: FeatureStore => A): A = {
    val link = h.refLink(storeDir)
    try body(open(link.toString))
    finally {
      loaderOf.values.toSeq.distinct
        .filter(l => Files.exists(link.resolve(l)))
        .foreach(l => org.apache.spark.perfbench.Bus.uncachePath(h.spark,
          link.resolve(l).toString))
      Files.delete(link)
    }
  }

  /** The cache-free digest of request `r`. */
  def expected(r: Request): Digest =
    reference(ref => Digest.of(ref.keyJoinFeaturesExpr(r.observable,
      strataExprs(r.strata), r.start, r.end)))

  /** Three set-up units, each restoring the seeded store (built once
    * per build by [[StoreRead.seed]]) into a fresh directory and
    * reading every feature over the whole coverage, which proves it
    * covered. The third copy is the one measured. */
  def setup(): Unit = {
    val (a, b) =
      (s"${Gen.ReadYears.head}-01-01", s"${Gen.ReadYears.last}-12-31")
    Seq(h.path("store_1"), h.path("store_2"), storeDir).foreach { dir =>
      h.setupUnit {
        Harness.copyTree(Paths.get(h.cfg.fixture), Paths.get(dir))
        val st = open(dir)
        st.availableFeatures.foreach(f =>
          h.span("core.Store.getFeature.covered")(st.getFeature(f, a, b)))
      }
    }
  }

  /** Compute-if-missing of `feature` over [start, end]. */
  def fill(feature: String, start: String, end: String): Unit =
    h.span("core.Store.getFeature.compute", tableBytes(feature)) {
      store.getFeature(feature, start, end)
    }
}

object StoreRead {
  /** Seed the coverage both store workloads start from (1994–1996, all
    * features) into a new store: one compute per feature and calendar
    * year. A year at a time because the age-group loader emits only a
    * few birthdays from the start of each compute range, so a single
    * multi-year compute would silently drop later age intervals. */
  def seed(st: FeatureStore): Unit =
    for (y <- Gen.ReadYears; f <- st.availableFeatures)
      st.getFeature(f, s"$y-01-01", s"$y-12-31")

  /** `StoreRead <store_data_dir> <fixture_dir>` builds the seeded store
    * every store run restores. */
  def main(args: Array[String]): Unit = {
    val Array(data, dir) = args
    val spark = Main.session(s"$dir.work")
    try seed(TpchFeatureStore(spark, data, dir)) finally spark.stop()
  }
}

/** `store_read`: a seeded stream of `keyJoinFeatures` requests inside
  * the restored store's coverage, so no read turns into a commit. One
  * request in four repeats an earlier one. */
final class StoreRead(h: Harness) extends StoreWorkload(h) {
  private val blocks = Gen.readBlocks(h.cfg.seed)
  private val served = mutable.ArrayBuffer.empty[(Request, Digest, Op)]

  /** Restore the store, then serve one 13-month request (the generator
    * never asks for more than 12 months, so the measured stream cannot
    * repeat it): the first measured reads then find the read path as
    * warm as the later ones do. */
  override def setup(): Unit = {
    super.setup()
    val (a, b) =
      Request.period(java.time.LocalDate.of(Gen.ReadYears.head, 1, 1), 13)
    read("warm", Request("n_orders", "mktsegment+age_group", a, b))
  }

  private def read(kind: String, r: Request): Unit = {
    h.note(s"$kind: $r")
    val (o, d) = h.op(kind)(serve(store, r))
    d.foreach(dg => served += ((r, dg, o)))
  }

  def block(): Unit = blocks.next().foreach(read("read", _))

  /** Nothing writes during this workload, so each distinct request is
    * recomputed once, cache-free, after the measured window (several at
    * a time: none of it is timed). */
  def finish(): Unit = {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val distinct = served.map(_._1).distinct.toSeq
    val want = reference { ref =>
      distinct.map(r => Future(r -> Digest.of(ref.keyJoinFeaturesExpr(
        r.observable, strataExprs(r.strata), r.start, r.end))))
        .map(Await.result(_, Duration.Inf))
    }.toMap
    served.foreach { case (r, got, o) =>
      h.check(o, s"$r digest $got, cache-free ${want(r)}")(got == want(r))
    }
  }
}

/** `store_ingest`: a seeded stream of extend / erase / redeliver
  * transactions, with synthetic increasing transaction times, against
  * the restored store. An erase reads back the open rows of the loader
  * it purged, not a series served earlier: such a re-issue is stale at
  * the commit that added this benchmark ([[staleReadProbe]]). */
final class StoreIngest(h: Harness) extends StoreWorkload(h) {
  private val blocks = Gen.ingestBlocks(h.cfg.seed)
  private var commits = 0
  private val Features = Seq("n_orders", "mktsegment")
  /** The loader erases purge and redeliveries re-commit. */
  private val Loader = "order_episodes"
  /** Far enough ahead that every open version is visible. */
  private val Latest = "9999-12-31 23:59:59"

  private def openRows(loader: String) =
    Scd2.sliceAt(store.versionedTable(loader), Latest)

  private def monthRequest(m: java.time.LocalDate): Request = {
    val (a, b) = Request.period(m, 1)
    Request("n_orders", "mktsegment", a, b)
  }

  /** Serve the series of month `m`: its compute-if-missing commits, then
    * the read of the new series. */
  private def extend(m: java.time.LocalDate,
                     kind: String = "extend"): Unit = {
    val r = monthRequest(m)
    val (o, d) = h.op(kind) {
      if (h.traced) Features.foreach(fill(_, r.start, r.end))
      serve(store, r)
    }
    d.foreach(dg => h.check(o, s"extend $r")(dg == expected(r)))
  }

  /** Restore the store, then extend it by [[Gen.IngestStart]] (untimed,
    * checked), so the first measured extend finds the compute and read
    * paths as warm as the later ones do. */
  override def setup(): Unit = {
    super.setup()
    extend(Gen.IngestStart, "warm")
  }

  /** The stale read after a purge, outside the measured workloads: set
    * up, serve the last covered month, purge the seed's first erase
    * batch, re-issue the same request and compare it with a cache-free
    * recompute. Returns a one-line verdict. */
  def staleReadProbe(): String = {
    setup()
    val spark = h.spark
    import spark.implicits._
    val keys = blocks.next().collectFirst { case Erase(k) => k }.get
    val lastCovered = monthRequest(Gen.IngestStart.minusMonths(1))
    val before = serve(store, lastCovered)
    val removed = store.purgeKeys(Loader, "key_cust", keys.toDF("key_cust"))
    val got = serve(store, lastCovered)
    val want = expected(lastCovered)
    s"purged ${keys.size} keys ($removed version rows), then re-issued " +
      s"$lastCovered: $got (before the purge $before, cache-free $want): " +
      (if (got == want) "fresh" else "STALE")
  }

  def block(): Unit = blocks.next().foreach {
    case Extend(m) => extend(m)

    case Erase(keys) =>
      val spark = h.spark
      import spark.implicits._
      val keyDf = keys.toDF("key_cust")
      val want =
        Digest.of(openRows(Loader).join(keyDf, Seq("key_cust"), "left_anti"))
      val (o, res) = h.op("erase") {
        val removed = h.span("core.Store.purgeKeys",
            Harness.du(s"$storeDir/$Loader")) {
          store.purgeKeys(Loader, "key_cust", keyDf)
        }
        (removed, Digest.write(openRows(Loader)))
      }
      res.foreach { case (removed, got) =>
        h.check(o, s"purge of ${keys.size} keys removed $removed rows")(
          removed > 0 && store.versionedTable(Loader)
            .join(keyDf, "key_cust").isEmpty)
        h.check(o, s"open rows of $Loader after the purge: $got, " +
          s"before less the purged keys: $want")(got == want)
      }

    case Redeliver(salt) =>
      val before = Digest.of(openRows(Loader))
      val rows = openRows(Loader).drop(Scd2.Checksum, Scd2.FromTs, Scd2.UntilTs)
      val batch = h.spark.createDataFrame(
        java.util.Arrays.asList(rows
          .filter(pmod(xxhash64(col("key_cust"), lit(salt)), lit(20)) === 0)
          .collect(): _*),
        rows.schema)
      commits += 1
      val ts = Gen.txnTs(commits)
      val (o, after) = h.op("redeliver") {
        h.span("core.Store.appendCommit",
            Harness.du(s"$storeDir/$Loader")) {
          store.appendCommit(Loader, batch, ts)
        }
        Digest.write(openRows(Loader))
      }
      after.foreach(a => h.check(o,
        s"open rows of $Loader after redelivery: $a, before: $before")(
        a == before))
  }

  def finish(): Unit = ()
}

/** `perfbench.StaleRead` takes the arguments of [[Main]] and prints the
  * verdict of [[StoreIngest.staleReadProbe]] (`run.py --defects`). */
object StaleRead {
  def main(args: Array[String]): Unit = {
    val cfg = Config.parse(args)
    Files.createDirectories(Paths.get(cfg.work))
    val spark = Main.session(cfg.work)
    try println(new StoreIngest(new Harness(spark, cfg, None)).staleReadProbe())
    finally spark.stop()
  }
}
