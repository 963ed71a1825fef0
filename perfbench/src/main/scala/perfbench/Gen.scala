package perfbench

import java.time.LocalDate

/** One `keyJoinFeatures` request: an observable, a stratification kind
  * and a month-aligned study period. */
final case class Request(observable: String, strata: String,
                         start: String, end: String)

object Request {
  /** The stratification kinds of the read workload. `seg1` is the
    * q47-style expression stratum `substring(mktsegment, 1, 1)`. */
  val Strata: Seq[String] = Seq("none", "mktsegment", "nation", "age_group",
    "mktsegment+age_group", "seg1")
  val Observables: Seq[String] = Seq("n_orders", "n_first_order")

  def period(firstMonth: LocalDate, months: Int): (String, String) =
    (firstMonth.toString,
      firstMonth.plusMonths(months.toLong).minusDays(1).toString)
}

/** One ingest transaction. */
sealed trait Txn
/** Serve the series of the next uncovered month: compute-if-missing,
  * SCD2 merge, publish, log append, then the read. */
final case class Extend(month: LocalDate) extends Txn
/** Erase a batch of customer keys from the order loader, then read back
  * its open rows. */
final case class Erase(keys: Seq[Long]) extends Txn
/** Re-deliver already-open rows of the order loader (a checksum no-op
  * commit); `salt` picks which rows. */
final case class Redeliver(salt: Long) extends Txn

/** Seeded input generators. Everything a workload feeds the program
  * comes from here, so one seed always yields the same inputs. */
object Gen {

  /** Coverage of the read workload's store: calendar years 1994–1996. */
  val ReadYears: Seq[Int] = Seq(1994, 1995, 1996)
  private val CoverageStart = LocalDate.of(ReadYears.head, 1, 1)
  private val CoverageMonths = 12 * ReadYears.size

  /** Requests per block, of which [[RepeatsPerBlock]] repeat an earlier
    * request verbatim: one request in four. */
  val BlockSize = 8
  val RepeatsPerBlock = 2

  /** Period lengths in months, one per stratification kind of a block:
    * 1 to 12 months, the same total in every block. */
  val PeriodMonths: Seq[Int] = Seq(1, 2, 4, 6, 9, 12)

  /** The read stream as blocks of [[BlockSize]] requests. Every block
    * asks each stratification kind once; which kind gets which period
    * length (see [[PeriodMonths]]) and which observable (each taken
    * three times) is shuffled, and each period starts at a random month
    * inside the covered years. Two requests per block repeat one
    * already issued, in this block or an earlier one, at random
    * positions. Fixing the mix per block keeps runs of different seeds
    * comparable while the requests themselves differ. */
  def readBlocks(seed: Long): Iterator[Seq[Request]] =
    taggedReadBlocks(seed).map(_.map(_._1))

  /** [[readBlocks]] with each request tagged true when it is a deliberate
    * repeat (a fresh request may still equal an earlier one by chance). */
  def taggedReadBlocks(seed: Long): Iterator[Seq[(Request, Boolean)]] = {
    val rnd = new scala.util.Random(seed)
    val issued = scala.collection.mutable.ArrayBuffer.empty[Request]
    Iterator.continually {
      val observables = rnd.shuffle(
        Request.Observables.flatMap(o => Seq.fill(3)(o)))
      val fresh = rnd.shuffle(Request.Strata)
        .zip(rnd.shuffle(PeriodMonths)).zip(observables).map {
          case ((s, months), o) =>
            val first = CoverageStart.plusMonths(
              rnd.nextInt(CoverageMonths - months + 1).toLong)
            val (a, b) = Request.period(first, months)
            Request(o, s, a, b)
        }
      // repeats go anywhere after the block's first request, so there
      // is always an earlier request to repeat
      val repeatAt = rnd.shuffle((1 until BlockSize).toList)
        .take(RepeatsPerBlock).toSet
      val it = fresh.iterator
      (0 until BlockSize).map { i =>
        val r =
          if (repeatAt(i)) issued(rnd.nextInt(issued.size)) else it.next()
        issued += r
        (r, repeatAt(i))
      }
    }
  }

  /** The first month past the seeded coverage: set-up's untimed extend
    * serves it, and the measured extends start the month after. */
  val IngestStart: LocalDate = LocalDate.of(ReadYears.last + 1, 1, 1)
  val EraseBatch = 400
  /** Customer keys 0 until this exist in the store's tables (sf0.1). */
  val Customers = 15000

  /** The transaction stream as blocks of one extend, one redeliver and
    * one erase, in that order, so every run times each kind after the
    * same predecessors. Extends walk forward month by month past the
    * coverage; erases draw customer keys without replacement, so every
    * purge removes rows; redeliveries go to the order loader, the table
    * a purge also rewrites. */
  def ingestBlocks(seed: Long): Iterator[Seq[Txn]] = {
    val rnd = new scala.util.Random(seed)
    val keys = rnd.shuffle((0L until Customers.toLong).toVector)
    var nextKey = 0
    var nextMonth = IngestStart.plusMonths(1)
    Iterator.continually {
      List("extend", "redeliver", "erase").map {
        case "extend" =>
          val m = nextMonth
          nextMonth = nextMonth.plusMonths(1)
          Extend(m)
        case "erase" =>
          val batch = keys.slice(nextKey, nextKey + EraseBatch).sorted
          nextKey += EraseBatch
          Erase(batch)
        case _ => Redeliver(rnd.nextLong())
      }
    }
  }

  /** Synthetic, strictly increasing transaction times for commits
    * (the i-th commit of a run gets second i after 2000-01-01). */
  def txnTs(i: Int): String =
    java.time.LocalDateTime.of(2000, 1, 1, 0, 0).plusSeconds(i.toLong)
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss"))

  /** The training queries in seeded rotation: each pass runs every
    * query once, starting at a seed-chosen query. */
  def trainPass(seed: Long, queries: Seq[String]): Seq[String] = {
    val k = new scala.util.Random(seed).nextInt(queries.size)
    queries.drop(k) ++ queries.take(k)
  }
}
