package graftbench

import graft.model.Telemetry.{InstanceField, InstanceMessage, UevolField}

/** SplitMix64 hashing: every generated value is a pure function of
  * (seed, coordinates), so executors and the driver-side oracle produce the
  * same rows without sharing state.
  */
object Mix {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def h(seed: Long, a: Long, b: Long = 0L, c: Long = 0L, d: Long = 0L): Long =
    mix(mix(mix(mix(seed ^ 0x5DEECE66DL) + a) + b) + c) + d
  def unit(x: Long): Double = (mix(x) >>> 11) * (1.0 / (1L << 53))
  def below(x: Long, n: Int): Int = ((mix(x) >>> 1) % n).toInt
}

/** The seeded update log in the reference's schema.
  *
  * The catalog is fixed, so every seed yields a log of about the same size:
  * `Types` message types, each with 4–9 fields and `PairsPerType`
  * (src, dst) equipment pairs. Instance message `id` picks its type and pair
  * (pairs Zipf-skewed, so a few sources dominate the log), then updates each
  * of the type's fields with probability `UpdateProb`, one row per updated
  * JSON path. Field path shapes cover the snapshot JSON degrees 0–2.
  * Instance ids are the time axis: `log_time` rises strictly with `id`.
  */
final class TelemetryGen(val seed: Long) extends Serializable {
  import TelemetryGen._

  val typeIds: Array[Int] = Array.tabulate(Types)(100 + _)
  val fieldsOfType: Array[Array[Int]] = {
    var next = 1
    Array.tabulate(Types) { t =>
      val n = 4 + t * 5 % 6
      val ids = Array.tabulate(n)(next + _)
      next += n
      ids
    }
  }
  val fieldCount: Int = fieldsOfType.map(_.length).sum
  /** Path shape per field id (index 0 unused): half scalar, a fifth each
    * scalar + degree-1 key and degree-1 keys, a tenth degree-2.
    */
  val shapeOf: Array[Int] = Array.tabulate(fieldCount + 1)(f => Array(0, 0, 0, 0, 0, 1, 1, 2, 2, 3)(f % 10))
  val typeIdxOfField: Array[Int] = {
    val a = new Array[Int](fieldCount + 1)
    for (t <- fieldsOfType.indices; f <- fieldsOfType(t)) a(f) = t
    a
  }
  def srcOf(t: Int, pair: Int): Int = 1000 + 100 * t + pair
  def dstOf(t: Int, pair: Int): Int = 5000 + pair % 5

  private val pairCdf: Array[Double] = cdf(PairsPerType, 1.1)
  private val typeCdf: Array[Double] = cdf(Types, 0.5)

  def typeOf(id: Long): Int = pick(typeCdf, Mix.unit(Mix.h(seed, 3, id)))
  def pairOf(id: Long): Int = pick(pairCdf, Mix.unit(Mix.h(seed, 4, id)))

  def fieldCatalog: Seq[UevolField] =
    for (t <- fieldsOfType.indices; f <- fieldsOfType(t))
      yield UevolField(f, typeIds(t), s"m${typeIds(t)}_f$f", s"field $f",
        f, shapeOf(f), 4, "u", false, true, true)

  def message(id: Long): InstanceMessage = {
    val t = typeOf(id); val p = pairOf(id)
    val logTime = T0 + id * 50L + Mix.below(Mix.h(seed, 5, id), 40)
    InstanceMessage(id, typeIds(t), 1, srcOf(t, p), 2, dstOf(t, p),
      (id & 0xFFFF).toInt, logTime, logTime + 3)
  }

  /** Calls `f(field, pathIndex, newValue)` for each update instance `id` makes. */
  def foreachUpdate(id: Long)(f: (Int, Int, Long) => Unit): Unit = {
    val fields = fieldsOfType(typeOf(id))
    var i = 0
    while (i < fields.length) {
      val fid = fields(i)
      if (Mix.unit(Mix.h(seed, 6, id, fid)) < UpdateProb) {
        val nPaths = Paths(shapeOf(fid)).length
        val forced = Mix.below(Mix.h(seed, 7, id, fid), nPaths)
        var p = 0
        while (p < nPaths) {
          if (p == forced || Mix.unit(Mix.h(seed, 8, id, fid, p)) < 0.5)
            f(fid, p, Mix.below(Mix.h(seed, 9, id, fid, p), 100000).toLong)
          p += 1
        }
      }
      i += 1
    }
  }

  def updates(id: Long): Iterator[InstanceField] = {
    val t = typeOf(id); val p = pairOf(id)
    val out = Vector.newBuilder[InstanceField]
    foreachUpdate(id) { (fid, path, v) =>
      out += InstanceField(fid, typeIds(t), id, -1L, srcOf(t, p), dstOf(t, p),
        Paths(shapeOf(fid))(path), 0, -1L, v)
    }
    out.result().iterator
  }
}

object TelemetryGen {
  val Types = 8
  val PairsPerType = 48
  val UpdateProb = 0.45
  val T0: Long = 1700000000000L
  /** JSON path shapes: scalar; scalar + degree-1 key; degree-1 keys; degree-2 object + key. */
  val Paths: Array[Array[String]] = Array(
    Array("000"),
    Array("000", "000.001"),
    Array("000.001", "000.002", "000.003"),
    Array("000.001.001", "000.001.002", "000.002"))

  private def cdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  private def pick(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }
}
