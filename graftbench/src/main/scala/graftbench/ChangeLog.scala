package graftbench

import scala.collection.mutable
import scala.util.Random

/** One orders-shaped row image. */
final case class Order(key: Long, status: String, price: Double) {
  def json: String =
    s"""{"o_orderkey":$key,"o_orderstatus":"$status","o_totalprice":$price}"""
}

/** One Debezium change event on a key: `c` carries only `after`, `d`
  * only `before`, `u` both.
  */
final case class Change(op: Char, key: Long, before: Option[Order],
                        after: Option[Order]) {
  def json: String = {
    def img(o: Option[Order]) = o.map(_.json).getOrElse("null")
    s"""{"before":${img(before)},"after":${img(after)},"op":"$op"}"""
  }
}

/** The cdc-stream input: a seeded change log over a fixed key space,
  * and the keep-latest fold the engine's upsert state must equal.
  */
object ChangeLog {
  private val Statuses = Vector("O", "F", "P")

  /** `n` events on keys 1..`keys`: a key not yet live is created, a
    * live one is updated (4 in 5) or deleted (1 in 5). Prices have two
    * decimals, so their text form parses back to the same double.
    */
  def generate(seed: Long, keys: Int, n: Int): Vector[Change] = {
    val rnd = new Random(seed)
    val live = mutable.HashMap.empty[Long, Order]
    Vector.fill(n) {
      val k = 1L + rnd.nextInt(keys)
      val next = Order(k, Statuses(rnd.nextInt(Statuses.size)),
        rnd.nextInt(100000000) / 100.0)
      live.get(k) match {
        case None =>
          live(k) = next
          Change('c', k, None, Some(next))
        case Some(old) if rnd.nextInt(5) == 0 =>
          live.remove(k)
          Change('d', k, Some(old), None)
        case Some(old) =>
          live(k) = next
          Change('u', k, Some(old), Some(next))
      }
    }
  }

  /** Keep-latest fold: each key's image after its last event; keys
    * whose last event is a delete are absent.
    */
  def fold(events: Seq[Change]): Map[Long, Order] =
    events.foldLeft(Map.empty[Long, Order]) { (state, e) =>
      e.after match {
        case Some(o) => state.updated(e.key, o)
        case None => state - e.key
      }
    }
}
