package graftbench

import org.scalatest.funsuite.AnyFunSuite

class ChangeLogSpec extends AnyFunSuite {
  private def o(k: Long, st: String, p: Double) = Order(k, st, p)

  test("the fold keeps each key's latest image and drops deleted keys") {
    val a1 = o(1, "O", 10.0)
    val a2 = o(1, "F", 11.0)
    val b1 = o(2, "P", 20.0)
    val events = Seq(
      Change('c', 1, None, Some(a1)),
      Change('c', 2, None, Some(b1)),
      Change('u', 1, Some(a1), Some(a2)),
      Change('d', 2, Some(b1), None))
    assert(ChangeLog.fold(events) == Map(1L -> a2))
  }

  test("a key deleted and created again holds the new image") {
    val first = o(7, "O", 1.0)
    val again = o(7, "P", 2.5)
    val events = Seq(Change('c', 7, None, Some(first)),
      Change('d', 7, Some(first), None), Change('c', 7, None, Some(again)))
    assert(ChangeLog.fold(events) == Map(7L -> again))
  }

  test("the fold of an empty log is empty") {
    assert(ChangeLog.fold(Nil).isEmpty)
  }

  test("generated events chain each key's images: c on a dead key, u/d on a live one") {
    val events = ChangeLog.generate(seed = 3, keys = 50, n = 2000)
    val live = scala.collection.mutable.Map.empty[Long, Order]
    events.foreach { e =>
      e.op match {
        case 'c' => assert(!live.contains(e.key) && e.before.isEmpty)
        case 'u' | 'd' => assert(e.before == live.get(e.key))
      }
      e.after match {
        case Some(img) => assert(img.key == e.key); live(e.key) = img
        case None => live.remove(e.key)
      }
    }
    assert(events.map(_.op).toSet == Set('c', 'u', 'd'))
    assert(ChangeLog.fold(events) == live.toMap)
  }

  test("the seed alone fixes the log") {
    assert(ChangeLog.generate(5, 100, 500) == ChangeLog.generate(5, 100, 500))
    assert(ChangeLog.generate(5, 100, 500) != ChangeLog.generate(6, 100, 500))
  }

  test("events serialize as Debezium envelopes whose prices read back exactly") {
    val e = Change('u', 4, Some(o(4, "O", 0.1)), Some(o(4, "F", 123456.78)))
    assert(e.json == """{"before":{"o_orderkey":4,"o_orderstatus":"O","o_totalprice":0.1},""" +
      """"after":{"o_orderkey":4,"o_orderstatus":"F","o_totalprice":123456.78},"op":"u"}""")
    ChangeLog.generate(9, 1000, 5000).flatMap(_.after).foreach { img =>
      assert(img.price.toString.toDouble == img.price)
      assert(!img.price.toString.contains("E"))
    }
  }
}
