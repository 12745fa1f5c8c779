package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.io.TableWriter
import graft.model.Telemetry.{InstanceField, SnapshotRef}
import graft.queries.{Backup, MessageReconstruct, MultipleFields, SnapshotDump, UpdateHistory}

/** One seeded lookup request. */
sealed trait Lookup { def kind: String }
final case class GetMessage(target: Long) extends Lookup { val kind = "get_message" }
final case class MultiFields(triples: Seq[(Int, Int, Int)], target: Long) extends Lookup {
  val kind = "multiple_fields"
}
final case class History(triples: Seq[(Int, Int, Int)], filters: Seq[Option[Long]],
                         start: Long, end: Long) extends Lookup { val kind = "update_history" }

/** The stored telemetry tables under `dir`, read the way a service would
  * hold them: one DataFrame per table, snapshot frames cached by name.
  */
final class TelemetryTables(spark: SparkSession, dir: String) {
  var messages: DataFrame = spark.read.parquet(s"$dir/instance_message")
  val fields: DataFrame = spark.read.parquet(s"$dir/uevol_field")
  var log: DataFrame = spark.read.parquet(s"$dir/instance_field")
  var catalog: DataFrame = spark.read.parquet(s"$dir/snapshots")
  private val snaps = mutable.HashMap.empty[String, DataFrame]
  val loader: String => DataFrame =
    name => snaps.synchronized(snaps.getOrElseUpdate(name, spark.read.parquet(s"$dir/$name")))
}

object TelemetryBench {
  val SnapshotCount = 2

  def snapStarts(instances: Long): Seq[Long] =
    (1 to SnapshotCount).map(i => instances * i / (SnapshotCount + 1))

  /** Writes the log, messages, field catalog, snapshots and snapshot catalog. */
  def writeStore(spark: SparkSession, gen: TelemetryGen, instances: Long, dir: String): Unit = {
    import spark.implicits._
    val parts = spark.sparkContext.defaultParallelism * 2
    val ids = spark.range(0, instances, 1, parts).as[Long]
    TableWriter.writeDeltaLog(ids.flatMap(id => gen.updates(id)).toDF(), s"$dir/instance_field")
    ids.map(id => gen.message(id)).write.parquet(s"$dir/instance_message")
    gen.fieldCatalog.toDF().coalesce(1).write.parquet(s"$dir/uevol_field")
    val log = spark.read.parquet(s"$dir/instance_field")
    val starts = snapStarts(instances)
    starts.foreach(at => SnapshotDump.dump(log, at).write.parquet(s"$dir/snap_$at"))
    writeCatalog(spark, starts, s"$dir/snapshots")
  }

  def writeCatalog(spark: SparkSession, starts: Seq[Long], path: String): Unit = {
    import spark.implicits._
    starts.map(at => SnapshotRef(s"snap_$at", at)).toDF().coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** A target between one snapshot and the next (or the log's end). */
  private def target(key: Long, starts: Seq[Long], end: Long): Long = {
    val bounds = starts :+ end
    val k = Mix.below(key, starts.size)
    val (a, b) = (bounds(k), bounds(k + 1))
    a + Mix.below(key ^ 0x3C6EF372L, (b - a).toInt)
  }

  /** Distinct triples: mostly updated (field, hot pair) keys. An assumed 15%
    * pair a field with another type's equipment, a key never updated, so
    * the −1 sentinel path is part of every run.
    */
  private def triples(gen: TelemetryGen, key: Long, n: Int): Seq[(Int, Int, Int)] =
    (0 until n * 2).map { i =>
      val k = Mix.h(key, 11, i)
      val t = Mix.below(k, TelemetryGen.Types)
      val fs = gen.fieldsOfType(t)
      val f = fs(Mix.below(k ^ 1, fs.length))
      val pt = if (Mix.unit(k ^ 2) < 0.15) (t + 1) % TelemetryGen.Types else t
      val p = gen.pairOf(k ^ 3)
      (f, gen.srcOf(pt, p), gen.dstOf(pt, p))
    }.distinct.take(n)

  /** Request kinds in a fixed cycle of ten (6 getMessage, 3 multiple
    * fields, 1 update history), so every run carries the same mix; the
    * seed picks targets, triples and filter values. The proportions are
    * assumed, not taken from a trace: whole-message reconstruction is the
    * service's primary query, field sets its narrower form, and update
    * history the rare analysis query that costs about three lookups.
    */
  val Cycle = "GMGHGGMGGM"
  private val KindOf = Map('G' -> "get_message", 'M' -> "multiple_fields", 'H' -> "update_history")
  /** A lookup kind's share of the cycle. */
  def share(kind: String): Double = Cycle.count(KindOf(_) == kind).toDouble / Cycle.length

  /** Triple counts of a cycle's three multiple-fields requests, in order. */
  private val FieldCounts = Seq(2, 3, 5)
  /** Update-history forms (triples, window in ids, `value > x` filter on the
    * first triple), one per cycle in turn: the first timed cycle takes the
    * middle window, the warm-up cycle before it the long, filtered one, and
    * a second timed cycle the short one. Windows are 2–10% of the stored log.
    */
  private val HistoryForms = Seq((2, 670L, false), (2, 300L, false), (3, 1500L, true))

  /** The `i`-th request: getMessage, multiple fields or update history by
    * its place in the cycle. The shapes (triple counts, windows, filter)
    * are fixed by that place, so every run carries the same ones, and the
    * seed picks targets, triples and filter values. The shapes are assumed,
    * chosen to cover the short and long forms of each query rather than
    * measured from a trace. Negative `i` are warm-up requests: `-1` to
    * `-10` are the cycle before the first timed one.
    */
  def request(gen: TelemetryGen, i: Int, starts: Seq[Long], end: Long): Lookup = {
    val key = Mix.h(gen.seed, 0x100, i)
    val pos = Math.floorMod(i, Cycle.length)
    Cycle(pos) match {
      case 'G' => GetMessage(target(key ^ 7, starts, end))
      case 'M' =>
        MultiFields(triples(gen, key, FieldCounts(Cycle.take(pos).count(_ == 'M'))), target(key ^ 7, starts, end))
      case _ =>
        val (n, len, filtered) = HistoryForms(Math.floorMod(Math.floorDiv(i, Cycle.length), HistoryForms.length))
        val ts = triples(gen, key, n)
        val endId = target(key ^ 7, starts, end)
        val filters = ts.indices.map(j =>
          if (j == 0 && filtered) Some(Mix.below(key ^ 17, 90000).toLong) else None)
        History(ts, filters, math.max(0L, endId - len), endId)
    }
  }

  private def listArg(xs: Seq[Any]): String = xs.map(x => s"($x)").mkString(",")

  /** Builds and runs one lookup through the public `graft.queries` calls. */
  def execute(spark: SparkSession, tr: Tracer, tab: TelemetryTables, l: Lookup): Array[Row] = {
    val catalog = Some(tab.catalog)
    val df = l match {
      case GetMessage(t) => tr.span("queries.getMessage") {
        MessageReconstruct.getMessage(tab.log, tab.messages, tab.fields, catalog, tab.loader, t)
      }
      case MultiFields(ts, t) => tr.span("queries.getMultipleFields") {
        val args = MultipleFields.parseArgs(spark, listArg(ts.map(_._1)),
          listArg(ts.map(_._2)), listArg(ts.map(_._3)))
        MultipleFields.getMultipleFields(tab.log, tab.fields, catalog, tab.loader, args, t)
      }
      case History(ts, fs, a, b) => tr.span("queries.updateHistory") {
        val filters = if (fs.forall(_.isEmpty)) ""
          else listArg(fs.map(_.map(x => s"value > $x").getOrElse("")))
        val args = MultipleFields.parseArgs(spark, listArg(ts.map(_._1)),
          listArg(ts.map(_._2)), listArg(ts.map(_._3)), filters)
        UpdateHistory.updateHistoryFromLog(tab.log, tab.fields, catalog, tab.loader, args, a, b)
      }
    }
    tr.span("action")(df.collect())
  }

  def fieldRow(r: Row): FieldRow = FieldRow(
    r.getAs[Int]("uevol_field_id"), r.getAs[Int]("src_id"), r.getAs[Int]("dst_id"),
    r.getAs[String]("name"), r.getAs[Long]("instance_message_id"),
    r.getAs[String]("relative_path"), r.getAs[Int]("type"), r.getAs[Double]("value"))

  /** Compares a lookup's rows with the oracle's answer. */
  def check(o: TelemetryOracle, starts: Seq[Long], l: Lookup, rows: Array[Row]): Boolean = l match {
    case GetMessage(t) => rows.map(fieldRow).toSeq == o.getMessage(t, starts)
    case MultiFields(ts, t) =>
      rows.map(fieldRow).toSeq.sortBy(r => (r.field, r.src, r.dst, r.path)) ==
        o.multipleFields(ts, t, starts)
    case History(ts, fs, a, b) =>
      rows.toSeq.map(r => (0 until r.length).map(i =>
        if (r.isNullAt(i)) Long.MinValue else r.getLong(i))) == o.history(ts, fs, a, b, starts)
  }

  /** The compaction `Backup.compact` must produce at `idLimit`: every row
    * from the limit on (counted), plus one latest earlier row for each field
    * untouched since, compared as (field, instance id) since rows of one
    * field at one id may tie.
    */
  def checkCompaction(o: TelemetryOracle, recent: Long, older: Seq[(Int, Long)],
                      idLimit: Long): Boolean = {
    val (expRecent, expOlder) = o.compaction(idLimit)
    recent == expRecent && older.sorted == expOlder
  }

  val logSchema = org.apache.spark.sql.Encoders.product[InstanceField].schema

  def readSink(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("batch")
}
