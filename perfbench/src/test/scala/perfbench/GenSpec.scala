package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the read stream is a function of the seed") {
    assert(Gen.readBlocks(7).take(5).toList == Gen.readBlocks(7).take(5).toList)
    assert(Gen.readBlocks(7).take(5).toList != Gen.readBlocks(8).take(5).toList)
  }

  test("every read block: each kind once, fixed period lengths, " +
    "one repeat in four") {
    val issued = scala.collection.mutable.Set.empty[Request]
    Gen.taggedReadBlocks(11).take(20).foreach { b =>
      assert(b.size == Gen.BlockSize)
      val (repeats, fresh) = b.partition(_._2)
      assert(repeats.size == Gen.RepeatsPerBlock)
      assert(!b.head._2, "a block never opens with a repeat")
      b.foreach { case (r, repeat) =>
        if (repeat) assert(issued(r), s"$r repeats nothing issued before")
        issued += r
      }
      val rs = fresh.map(_._1)
      assert(rs.map(_.strata).sorted == Request.Strata.sorted)
      assert(rs.count(_.observable == "n_orders") == 3)
      val months = rs.map { r =>
        java.time.Period.between(java.time.LocalDate.parse(r.start),
          java.time.LocalDate.parse(r.end).plusDays(1)).toTotalMonths.toInt
      }
      assert(months.sorted == Gen.PeriodMonths.sorted)
      rs.foreach { r =>
        assert(r.start >= s"${Gen.ReadYears.head}-01-01")
        assert(r.end <= s"${Gen.ReadYears.last}-12-31")
      }
    }
  }

  test("the transaction stream is a function of the seed") {
    assert(Gen.ingestBlocks(7).take(5).toList ==
      Gen.ingestBlocks(7).take(5).toList)
    assert(Gen.ingestBlocks(7).take(5).toList !=
      Gen.ingestBlocks(8).take(5).toList)
  }

  test("transactions: extend, redeliver, erase in every block; months " +
    "walk forward, erased keys never repeat") {
    val txns = Gen.ingestBlocks(9).take(8).toList
    txns.foreach(b => assert(b.map(_.getClass.getSimpleName) ==
      Seq("Extend", "Redeliver", "Erase")))
    val months = txns.flatten.collect { case Extend(m) => m }
    assert(months.head == Gen.IngestStart.plusMonths(1))
    assert(months.zip(months.tail).forall { case (a, b) =>
      b == a.plusMonths(1) })
    val keys = txns.flatten.collect { case Erase(k) => k }.flatten
    assert(keys.size == 8 * Gen.EraseBatch && keys.distinct.size == keys.size)
  }

  test("transaction times strictly increase") {
    val ts = (1 to 100).map(Gen.txnTs)
    assert(ts.zip(ts.tail).forall { case (a, b) => a < b })
  }

  test("the training rotation runs every query once per pass") {
    val qs = Train.Queries
    (1L to 20L).foreach { s =>
      val pass = Gen.trainPass(s, qs)
      assert(pass.sorted == qs.sorted)
      assert(pass == Gen.trainPass(s, qs))
    }
  }
}
