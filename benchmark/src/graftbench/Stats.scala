package graftbench

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Typical latency of a request drawn from a fixed mix: each kind's
    * median wall, combined by a geometric mean weighted by the kind's share.
    * Unlike the median of the pooled samples, it does not jump between
    * kinds when a different kind lands in the middle of the sorted walls.
    */
  def mixMedian(byKind: collection.Map[String, collection.Seq[Double]], share: String => Double): Double = {
    val ws = byKind.keys.toSeq.map(share)
    math.exp(byKind.toSeq.map { case (k, xs) => share(k) * math.log(median(xs.toSeq)) }.sum / ws.sum)
  }

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Scala maps/seqs/numbers to one line of JSON. */
  def json(v: Any): String = mapper.writeValueAsString(toJava(v))
  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] =>
      val out = new java.util.ArrayList[AnyRef]()
      s.foreach(x => out.add(toJava(x)))
      out
    case d: Double if d.isNaN || d.isInfinite => null
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }
}
