package graftbench

import scala.collection.immutable.ListMap

/** What one workload run measured. `latencyS` is the typical timed
  * operation's wall, taken over `samples` of them; `work` counts the units
  * behind `work_per_s`, done in `busyS` seconds of timed operations (the
  * oracle's checks between operations are not counted).
  */
final case class Outcome(attempted: Int, failed: Int, setupS: Seq[Double],
                         latencyS: Double, samples: Int, work: Double, busyS: Double,
                         heapMb: Double, details: Seq[(String, Any)])

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String,
                      faultAt: Option[Int])

/** Runs one workload and prints its result as the last stdout line:
  * `{"correct", "attempted", "failed", "metrics"}` with the end-to-end
  * metrics (`--trace 0`) or the per-layer metrics (`--trace 1`). A detail
  * line before it carries the environment record and per-kind numbers.
  * Exits 1 when any operation failed or returned a wrong answer.
  */
object Main {
  val Workloads: Seq[String] = Seq("telemetry_lookup", "corpus_dedup")

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1", m("work"),
      m.get("inject-fault").map(_.toInt))
  }

  def endToEnd(o: Outcome): Seq[(String, Double, String)] = Seq(
    ("setup_s", Stats.median(o.setupS), "s"),
    ("op_latency_s", o.latencyS, "s"),
    ("work_per_s", o.work / o.busyS, "1/s"),
    ("heap_after_gc_peak_mb", o.heapMb, "MB"))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    val runDir = new java.io.File(s"${a.work}/runs/${a.workload}-${ProcessHandle.current().pid()}")
    Files.wipe(new java.io.File(s"${a.work}/runs"))
    runDir.mkdirs()
    Log("starting session")
    val spark = Env.session(a.work)
    val code = try {
      val env = Env.record(spark)
      val tr = new Tracer(spark, a.trace)
      val o = a.workload match {
        case "telemetry_lookup" => TelemetryWorkloads.run(spark, tr, a.seed, a.seconds, runDir.toString, a.faultAt)
        case "corpus_dedup" => CorpusWorkload.run(spark, tr, a.seed, a.seconds, runDir.toString, a.faultAt.isDefined)
      }
      Log(s"measured ${o.attempted} operations, ${o.failed} failed")
      val metrics =
        if (a.trace) {
          val path = s"${a.work}/traces/${a.workload}-seed${a.seed}.json"
          new java.io.File(path).getParentFile.mkdirs()
          java.nio.file.Files.writeString(java.nio.file.Paths.get(path), Stats.json(tr.spanRecords))
          Log(s"spans written to $path")
          tr.layerMetrics
        } else endToEnd(o)
      val detail = ListMap("workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
        "environment" -> env, "op_samples" -> o.samples) ++ o.details
      println(Stats.json(ListMap("detail" -> detail)))
      val correct = o.failed == 0
      println(Stats.json(ListMap(
        "correct" -> correct, "attempted" -> o.attempted, "failed" -> o.failed,
        "metrics" -> ListMap(metrics.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*))))
      if (correct) 0 else 1
    } finally {
      spark.stop()
      Files.wipe(runDir)
    }
    sys.exit(code)
  }
}

object Log {
  private val t0 = System.nanoTime()
  def apply(msg: String): Unit =
    System.err.println(f"[graftbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $msg")
}

object Files {
  def wipe(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(wipe))
    f.delete(); ()
  }
}

/** Times `n` set-ups; each writes a fresh copy under `dir/setup-<i>` and
  * the last one is kept for the run.
  */
object Setup {
  def repeat(n: Int, dir: String)(body: String => Unit): (Seq[Double], String) = {
    val walls = (1 to n).map { i =>
      val d = s"$dir/setup-$i"
      val t0 = System.nanoTime()
      body(d)
      val w = (System.nanoTime() - t0) / 1e9
      Log(f"set-up $i took $w%.2fs")
      if (i > 1) Files.wipe(new java.io.File(s"$dir/setup-${i - 1}"))
      w
    }
    (walls, s"$dir/setup-$n")
  }
}
