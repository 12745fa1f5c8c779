package graftbench

import scala.collection.mutable

/** One reconstructed value, in the column order the `graft.queries` calls return. */
final case class FieldRow(field: Int, src: Int, dst: Int, name: String,
                          id: Long, path: String, ftype: Int, value: Double)

/** Growable primitive arrays (the oracle holds a million-row log). */
final class LongBuf {
  private var a = new Array[Long](16)
  var size = 0
  def add(x: Long): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
    a(size) = x; size += 1
  }
  def apply(i: Int): Long = a(i)
  /** Index of the last element <= x, or -1 (elements ascending). */
  def lastAtMost(x: Long): Int = {
    var lo = 0; var hi = size - 1; var ans = -1
    while (lo <= hi) {
      val m = (lo + hi) >>> 1
      if (a(m) <= x) { ans = m; lo = m + 1 } else hi = m - 1
    }
    ans
  }
}

/** The independent point-in-time answer, worked out in plain Scala from
  * the generated log held in driver memory: per (field, src, dst) key the
  * updates in id order, and the latest update ≤ target per JSON path wins.
  * The snapshot fallback and the −1 sentinels follow the engine's
  * documented lattice: latest epoch update ≫ snapshot value (reported at
  * the snapshot's start id) ≫ sentinel at path "000".
  */
final class TelemetryOracle(val gen: TelemetryGen) {
  import TelemetryGen.Paths

  private final class KeyLog { val ids = new LongBuf; val packed = new LongBuf }
  private val keys = mutable.HashMap.empty[Long, KeyLog]
  private var nextId = 0L
  private var rows = 0L
  private val md = java.security.MessageDigest.getInstance("SHA-256")
  private val buf = java.nio.ByteBuffer.allocate(48)

  private def key(f: Int, s: Int, d: Int): Long =
    (f.toLong << 40) | (s.toLong << 20) | d.toLong

  /** Extends the log with instance ids [nextId, until). */
  def extend(until: Long): Unit = {
    while (nextId < until) {
      val id = nextId
      val t = gen.typeOf(id); val p = gen.pairOf(id)
      val s = gen.srcOf(t, p); val d = gen.dstOf(t, p)
      gen.foreachUpdate(id) { (f, path, v) =>
        val k = keys.getOrElseUpdate(key(f, s, d), new KeyLog)
        k.ids.add(id); k.packed.add((v << 2) | path); rows += 1
        buf.clear(); buf.putLong(id).putInt(f).putInt(s).putInt(d).putInt(path).putLong(v)
        md.update(buf.array, 0, buf.position())
      }
      buf.clear(); buf.putLong(gen.message(id).log_time).putInt(gen.typeIds(t))
      md.update(buf.array, 0, buf.position())
      nextId += 1
    }
  }
  def instances: Long = nextId
  def rowCount: Long = rows
  /** SHA-256 of every generated message and update so far. */
  def inputDigest: String =
    md.clone.asInstanceOf[java.security.MessageDigest].digest().map("%02x".format(_)).mkString

  /** Latest (id, value) per path index over updates with lo <= id <= hi. */
  private def latest(f: Int, s: Int, d: Int, lo: Long, hi: Long): Array[(Long, Long)] = {
    val n = Paths(gen.shapeOf(f)).length
    val out = Array.fill[(Long, Long)](n)(null)
    keys.get(key(f, s, d)).foreach { k =>
      var i = k.ids.lastAtMost(hi); var found = 0
      while (i >= 0 && k.ids(i) >= lo && found < n) {
        val path = (k.packed(i) & 3).toInt
        if (out(path) == null) { out(path) = (k.ids(i), k.packed(i) >> 2); found += 1 }
        i -= 1
      }
    }
    out
  }

  /** State of one (field, src, dst) key at `target` under the snapshot bracket. */
  def valueRows(f: Int, s: Int, d: Int, target: Long, snapStarts: Seq[Long]): Seq[FieldRow] = {
    val snap = snapStarts.filter(_ <= target).maxOption
    val epoch = latest(f, s, d, snap.getOrElse(Long.MinValue), target)
    val atSnap = snap.map(st => latest(f, s, d, Long.MinValue, st))
    val paths = Paths(gen.shapeOf(f))
    val name = s"m${gen.typeIds(gen.typeIdxOfField(f))}_f$f"
    val rows = paths.indices.flatMap { p =>
      if (epoch(p) != null) Some(FieldRow(f, s, d, name, epoch(p)._1, paths(p),
        gen.shapeOf(f), epoch(p)._2.toDouble))
      else atSnap.flatMap(a => Option(a(p))).map(v => FieldRow(f, s, d, name,
        snap.get, paths(p), gen.shapeOf(f), v._2.toDouble))
    }
    if (rows.nonEmpty) rows
    else Seq(FieldRow(f, s, d, name, -1L, "000", gen.shapeOf(f), -1.0))
  }

  /** `MessageReconstruct.getMessage`: every field of the target's message,
    * ordered by (field, path).
    */
  def getMessage(target: Long, snapStarts: Seq[Long]): Seq[FieldRow] = {
    val t = gen.typeOf(target); val p = gen.pairOf(target)
    gen.fieldsOfType(t).toSeq.flatMap(f =>
      valueRows(f, gen.srcOf(t, p), gen.dstOf(t, p), target, snapStarts))
      .sortBy(r => (r.field, r.path))
  }

  /** `MultipleFields.getMultipleFields` over distinct triples, as a sorted multiset. */
  def multipleFields(triples: Seq[(Int, Int, Int)], target: Long,
                     snapStarts: Seq[Long]): Seq[FieldRow] =
    triples.distinct.flatMap { case (f, s, d) => valueRows(f, s, d, target, snapStarts) }
      .sortBy(r => (r.field, r.src, r.dst, r.path))

  /** `UpdateHistory.updateHistoryFromLog` (wide form): the seed row at
    * `startId` (smallest-path start value per triple), then one row per
    * instant in the window where any triple updated, each triple's value
    * carried forward; instants failing a `value > x` filter are dropped.
    */
  def history(triples: Seq[(Int, Int, Int)], filters: Seq[Option[Long]],
              startId: Long, endId: Long, snapStarts: Seq[Long]): Seq[Seq[Long]] = {
    val seedVals = triples.map { case (f, s, d) =>
      valueRows(f, s, d, startId, snapStarts).minBy(_.path).value.toLong
    }
    // events per instant: max new_value per (instant, triple)
    val events = mutable.TreeMap.empty[Long, Array[java.lang.Long]]
    def put(id: Long, j: Int, v: Long): Unit = {
      val row = events.getOrElseUpdate(id, new Array[java.lang.Long](triples.length))
      if (row(j) == null || row(j) < v) row(j) = v
    }
    triples.zipWithIndex.foreach { case ((f, s, d), j) =>
      put(startId, j, seedVals(j))
      keys.get(key(f, s, d)).foreach { k =>
        var i = k.ids.lastAtMost(startId - 1) + 1
        while (i < k.ids.size && k.ids(i) <= endId) {
          put(k.ids(i), j, k.packed(i) >> 2); i += 1
        }
      }
    }
    val cur = new Array[Long](triples.length)
    val out = Seq.newBuilder[Seq[Long]]
    events.foreach { case (id, row) =>
      row.indices.foreach(j => if (row(j) != null) cur(j) = row(j))
      val keep = filters.indices.forall(j => filters(j).forall(x => cur(j) > x))
      if (keep) out += (id +: cur.toSeq)
    }
    out.result()
  }

  /** What `Backup.compact` keeps at `idLimit`: the number of rows from the
    * limit on, and (field, id) of the latest earlier update of each field
    * with no update from the limit on.
    */
  def compaction(idLimit: Long): (Long, Seq[(Int, Long)]) = {
    var recent = 0L
    val touched = mutable.Set.empty[Int]
    val lastBefore = mutable.HashMap.empty[Int, Long]
    keys.foreach { case (k, kl) =>
      val f = (k >>> 40).toInt
      val i = kl.ids.lastAtMost(idLimit - 1)
      val after = kl.ids.size - (i + 1)
      recent += after
      if (after > 0) touched += f
      if (i >= 0) lastBefore(f) = math.max(lastBefore.getOrElse(f, -1L), kl.ids(i))
    }
    (recent, lastBefore.toSeq.filterNot(x => touched(x._1)).sorted)
  }
}
