package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.io.TableWriter
import graft.queries.{Backup, SnapshotDump}
import graft.streaming.{FileSource, UpdateStream}

/** The telemetry service's traffic: one client in a closed loop issuing
  * seeded getMessage / multiple-fields / update-history lookups against a
  * stored log with snapshots, for `seconds`, in whole cycles of ten.
  *
  * A traced run then grows the log beside the lookups, so the write-side
  * layers are measured too:
  *  - an ingest step appends a micro-batch of messages, drops its field
  *    updates into a file source consumed by `UpdateStream.compactionSink`,
  *    waits for the sink (`processAllAvailable`), and looks up a message of
  *    the batch over base log ∪ sink output, which must show the new
  *    updates;
  *  - a compaction runs `Backup.compact` and writes its output, then dumps
  *    and catalogues a new snapshot at the batch's first id, and a lookup
  *    inside the batch brackets with it.
  * Every answer is compared with [[TelemetryOracle]].
  */
object TelemetryWorkloads {
  val SetupRepeats = 3
  /** Instance messages in the stored log (about four update rows each). */
  val Instances = 15000L
  /** Instance messages per ingested micro-batch. */
  val BatchInstances = 400L
  /** Ids behind the log's end where compaction cuts. */
  val CompactWindow = 3000L
  /** Untimed lookups before the timed loop: the whole cycle before the first
    * timed one, so every kind and shape has run once. The first timed cycle
    * still runs about 10% slower than later ones while the JIT catches up,
    * but a second warm-up cycle would take a run on a loaded 4-core box to
    * about 76 s, too long for the benchmark's 22 runs of each workload.
    */
  val WarmupLookups = 10

  def run(spark: SparkSession, tr: Tracer, seed: Long, seconds: Int, dir: String,
          faultAt: Option[Int] = None): Outcome = {
    import spark.implicits._
    val gen = new TelemetryGen(seed)
    val (setups, store) = Setup.repeat(SetupRepeats, dir)(
      d => TelemetryBench.writeStore(spark, gen, Instances, d))
    val oracle = new TelemetryOracle(gen)
    oracle.extend(Instances)
    var starts = TelemetryBench.snapStarts(Instances)
    val tab = new TelemetryTables(spark, store)
    val base = tab.log
    val incoming = new java.io.File(s"$store/incoming"); incoming.mkdirs()
    val sink = s"$store/sink"
    // The sink's query polls its source without pause, so it runs only
    // for the ingest step, not beside the timed lookups.
    lazy val query = UpdateStream.compactionSink(
      spark.readStream.schema(TelemetryBench.logSchema).parquet(incoming.toString),
      sink, s"$store/checkpoint")

    var next = Instances // first id not yet ingested
    var batches = 0
    var failed, attempted = 0
    val lookups = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val lags, ingests, compactions = mutable.ArrayBuffer.empty[Double]
    var rowsIn = 0L

    def judge(ok: Boolean, what: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[graftbench] wrong: $what") }
    }

    def ask(l: Lookup, kind: Tracer.Kind, fault: Boolean = false): Double = {
      val (result, wall) = tr.op(l.kind, kind)(TelemetryBench.execute(spark, tr, tab, l))
      // self-test hook: drop one row to prove the oracle bites
      val rows = if (fault) result.dropRight(1) else result
      judge(TelemetryBench.check(oracle, starts, l, rows), l.toString)
      wall
    }
    def lookup(i: Int, timed: Boolean): Unit = {
      val l = TelemetryBench.request(gen, i, starts, next)
      val wall = ask(l, if (timed) Tracer.Timed else Tracer.Untimed, faultAt.contains(i))
      if (timed) lookups.getOrElseUpdate(l.kind, mutable.ArrayBuffer.empty) += wall
    }

    def ingest(): Unit = {
      val (lo, hi) = (next, next + BatchInstances)
      batches += 1
      val target = (lo until hi).find(id => gen.updates(id).nonEmpty).get
      val ((rows, lag), wall) = tr.op("ingest_step", Tracer.Write) {
        tr.span("io.writeMessages") {
          spark.range(lo, hi, 1, 1).as[Long].map(id => gen.message(id))
            .write.mode("append").parquet(s"$store/instance_message")
        }
        val dropped = System.nanoTime()
        tr.span("io.writeBatch") {
          FileSource.writePinned(spark.range(lo, hi, 1, 1).as[Long].flatMap(id => gen.updates(id)).toDF(),
            incoming, f"batch_$batches%05d.parquet", System.currentTimeMillis())
        }
        tr.span("streaming.processAllAvailable")(query.processAllAvailable())
        tr.span("io.readSink") {
          tab.messages = spark.read.parquet(s"$store/instance_message")
          tab.log = base.unionByName(TelemetryBench.readSink(spark, sink))
        }
        val rows = TelemetryBench.execute(spark, tr, tab, GetMessage(target))
        (rows, (System.nanoTime() - dropped) / 1e9)
      }
      val before = oracle.rowCount
      oracle.extend(hi)
      next = hi
      val visible = rows.exists(_.getAs[Long]("instance_message_id") == target)
      judge(visible && TelemetryBench.check(oracle, starts, GetMessage(target), rows),
        s"ingested message $target (visible=$visible)")
      lags += lag; ingests += wall; rowsIn += oracle.rowCount - before
    }

    def compact(): Unit = {
      val idLimit = next - CompactWindow
      val at = next - BatchInstances
      val out = s"$store/compact_$batches"
      val (_, wall) = tr.op("compact", Tracer.Write) {
        val c = tr.span("queries.compact") {
          Backup.compact(tab.log, tab.messages, tab.fields, gen.message(idLimit).log_time)
        }
        tr.span("io.writeCompacted")(TableWriter.writeDeltaLog(c, out))
        val snap = tr.span("queries.snapshotDump")(SnapshotDump.dump(tab.log, at))
        tr.span("io.writeSnapshot")(snap.write.parquet(s"$store/snap_$at"))
        tr.span("io.writeCatalog") {
          TelemetryBench.writeCatalog(spark, starts :+ at, s"$store/snapshots_$batches")
          tab.catalog = spark.read.parquet(s"$store/snapshots_$batches")
        }
      }
      starts = starts :+ at
      val back = spark.read.parquet(out)
      val recent = back.where(col("instance_message_id") >= idLimit).count()
      val older = back.where(col("instance_message_id") < idLimit)
        .select("uevol_field_id", "instance_message_id").as[(Int, Long)].collect().toSeq
      judge(TelemetryBench.checkCompaction(oracle, recent, older, idLimit), s"compaction at $idLimit")
      compactions += wall
    }

    try {
      (1 to WarmupLookups).foreach(i => lookup(-i, timed = false))
      Log("warm-up done")
      val t0 = System.nanoTime()
      var n = 0
      while ((System.nanoTime() - t0) / 1e9 < seconds) {
        val c = TelemetryBench.Cycle.length
        (n until n + c).foreach(lookup(_, timed = true)); n += c
      }
      if (tr.enabled) {
        query.processAllAvailable() // started and idle before the batch drops
        ingest()
        compact()
        ask(GetMessage(next - 1 - Mix.below(Mix.h(seed, 0x200), BatchInstances.toInt)), Tracer.Untimed)
      }
      val all = lookups.values.flatten.toSeq
      Outcome(attempted, failed, setups, Stats.mixMedian(lookups, TelemetryBench.share), all.size,
        all.size, all.sum, Env.heapAfterGcMb(),
        Seq("input_digest" -> oracle.inputDigest, "log_rows" -> oracle.rowCount,
          "lookup_p50_s" -> Stats.median(all), "lookup_p90_s" -> Stats.quantile(all, 0.9),
          "lookups_per_s" -> all.size / all.sum) ++
          lookups.toSeq.flatMap { case (k, w) =>
            Seq(s"${k}_p50_s" -> Stats.median(w.toSeq), s"${k}_s" -> w.toSeq) } ++
          (if (tr.enabled) Seq("ingest_rows_per_s" -> rowsIn / ingests.sum,
            "ingest_lag_s" -> lags.head, "compact_s" -> compactions.head) else Nil))
    } finally if (tr.enabled) query.stop()
  }
}
