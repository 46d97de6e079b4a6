package perfbench

/** One generated trade, as the generator built its JSON record. */
final case class GenTrade(timestamp: Long, instrument: String, product: String,
    price: Double, qty: Long)

/** One OHLCV bar keyed by (product, window start in epoch ms). */
final case class RefBar(product: String, windowStart: Long, open: Double,
    high: Double, low: Double, close: Double, volume: Long)

/** Plain-Scala OHLCV over a grid of `widthMs` windows — the reference the
  * streaming output is checked against. Open and close are the prices of
  * the first and last trade ordered by (timestamp, instrument); the
  * generator keeps that pair unique per product, so the order is total. */
object RefOhlcv {
  private final class Acc(var openKey: (Long, String), var open: Double,
      var closeKey: (Long, String), var close: Double,
      var high: Double, var low: Double, var volume: Long)

  private val keyOrd = Ordering.Tuple2[Long, String]

  def bars(trades: Iterator[GenTrade], widthMs: Long): Map[(String, Long), RefBar] = {
    val acc = scala.collection.mutable.HashMap.empty[(String, Long), Acc]
    trades.foreach { t =>
      val k = (t.product, Math.floorDiv(t.timestamp, widthMs) * widthMs)
      val ok = (t.timestamp, t.instrument)
      acc.get(k) match {
        case None => acc(k) = new Acc(ok, t.price, ok, t.price, t.price, t.price, t.qty)
        case Some(a) =>
          if (keyOrd.lt(ok, a.openKey)) { a.openKey = ok; a.open = t.price }
          if (keyOrd.gt(ok, a.closeKey)) { a.closeKey = ok; a.close = t.price }
          a.high = math.max(a.high, t.price)
          a.low = math.min(a.low, t.price)
          a.volume += t.qty
      }
    }
    acc.iterator.map { case (k @ (p, ws), a) =>
      k -> RefBar(p, ws, a.open, a.high, a.low, a.close, a.volume)
    }.toMap
  }
}
