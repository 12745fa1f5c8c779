package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval: an operation, a call into one `graft` module, a Spark
  * job or a Spark stage. Times are epoch milliseconds.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Double,
                      var endMs: Double = Double.NaN)

/** Job/stage/task counters of the work one span launched. */
final class SpanCounters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, deserMs, gcMs, delayMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill, inBytes, outBytes = 0L
}

/** Per-operation counters that arrive without a job group: query-execution
  * callbacks and streaming progress.
  */
final class OpCounters {
  var analysisMs, optimizationMs, planningMs = 0L
  var exchanges, inputFiles = 0L
  var batchMs, addBatchMs, walCommitMs = 0L
}

private object PlanWalk extends AdaptiveSparkPlanHelper {
  def exchanges(p: SparkPlan): Long = collect(p) { case e: Exchange => e }.size.toLong
  def files(p: SparkPlan): Long =
    collect(p) { case s if s.metrics.contains("numFiles") => s.metrics("numFiles").value }.sum
}

/** Measures operations from outside the engine.
  *
  * Untraced (`enabled = false`) it only times each operation. Traced, it
  * registers a Spark listener, a query-execution listener and a streaming
  * listener, tags every job with the span that launched it (job group
  * `gb:<span id>`), and drains the listener bus after each operation so its
  * events are complete before the next starts. Timed operations alternate
  * traced and untraced per operation name, the first of each name traced,
  * so both halves hold the same kinds of operation; `trace.overhead`
  * compares the halves' median walls name by name. Warm-ups and checks
  * (`Untimed`) are never traced or compared; write operations (`Write`)
  * are always traced.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.HashMap.empty[Int, SpanCounters]
  private final case class JobRec(jobId: Int, span: Int, startMs: Double, var endMs: Double)
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val jobById = mutable.HashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]
  private val stageSpans = mutable.ArrayBuffer.empty[(Int, Int, Double, Double)]

  @volatile private var root: Span = _
  @volatile private var cur: Span = _
  @volatile private var opCounters: OpCounters = _
  private val opCounts = mutable.HashMap.empty[String, Int]
  private var traced = false
  private var storagePeakMb = 0.0
  /** Walls of timed operations by name: (traced, untraced). */
  private val walls = mutable.LinkedHashMap.empty[String,
    (mutable.ArrayBuffer[Double], mutable.ArrayBuffer[Double])]
  private val opMetrics = mutable.ArrayBuffer.empty[(Tracer.Kind, Map[String, Double])]

  private def newSpan(name: String, parent: Int): Span = synchronized {
    val s = Span(spans.size + 1, parent, name, nowMs); spans += s; s
  }
  private def countersOf(span: Int): SpanCounters =
    synchronized(counters.getOrElseUpdate(span, new SpanCounters))

  private def spanOfJob(props: java.util.Properties): Option[Span] = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith("gb:")).map(s => spans(s.drop(3).toInt - 1))
      .orElse(Option(root)) // streaming micro-batches run under their own group
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      spanOfJob(e.properties).foreach { sp =>
        val j = JobRec(e.jobId, sp.id, e.time.toDouble, Double.NaN)
        jobs += j; jobById(e.jobId) = j
        e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = j)
        countersOf(sp.id).jobs += 1
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobById.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val i = e.stageInfo
      stageJob.get(i.stageId).foreach { j =>
        countersOf(j.span).stages += 1
        stageSpans += ((i.stageId, j.jobId,
          i.submissionTime.getOrElse(0L).toDouble, i.completionTime.getOrElse(0L).toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      stageJob.get(e.stageId).filter(_ => m != null).foreach { j =>
        val c = countersOf(j.span)
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.deserMs += m.executorDeserializeTime
        c.gcMs += m.jvmGCTime
        c.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.inBytes += m.inputMetrics.bytesRead
        c.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val oc = opCounters
      if (oc != null) {
        val ph = qe.tracker.phases
        def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
        val (ex, files) = (PlanWalk.exchanges(qe.executedPlan), PlanWalk.files(qe.executedPlan))
        oc.synchronized {
          oc.analysisMs += ms("analysis"); oc.optimizationMs += ms("optimization")
          oc.planningMs += ms("planning"); oc.exchanges += ex; oc.inputFiles += files
        }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val oc = opCounters
      if (oc != null) {
        val d = e.progress.durationMs.asScala
        def ms(k: String) = d.get(k).map(_.longValue).getOrElse(0L)
        oc.synchronized {
          oc.batchMs += ms("triggerExecution"); oc.addBatchMs += ms("addBatch")
          oc.walCommitMs += ms("walCommit")
        }
      }
    }
  }

  if (enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Runs one operation of the given kind; returns its result and wall
    * seconds.
    */
  def op[T](name: String, kind: Tracer.Kind = Tracer.Timed)(body: => T): (T, Double) = {
    val n = opCounts.getOrElse(name, 0) + (if (kind == Tracer.Timed) 1 else 0)
    opCounts(name) = n
    traced = enabled && (kind == Tracer.Write || (kind == Tracer.Timed && n % 2 == 1))
    if (traced) {
      opCounters = new OpCounters
      root = newSpan(name, 0); cur = root
      sc.setJobGroup(s"gb:${root.id}", name)
    }
    val s = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - s) / 1e9
    if (traced) root.endMs = nowMs
    if (enabled) {
      GraftBenchBus.drain(sc)
      if (traced) opMetrics += kind -> finishOp()
      if (kind == Tracer.Timed) {
        val (t, u) = walls.getOrElseUpdate(name,
          (mutable.ArrayBuffer.empty[Double], mutable.ArrayBuffer.empty[Double]))
        (if (traced) t else u) += wall
      }
      sc.clearJobGroup()
    }
    root = null; cur = null; opCounters = null; traced = false
    (r, wall)
  }

  /** A child span of the current operation: one call into a `graft` layer. */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val parent = cur
      val sp = newSpan(name, parent.id); cur = sp
      sc.setJobGroup(s"gb:${sp.id}", name)
      try body finally {
        sp.endMs = nowMs; cur = parent
        storagePeakMb = math.max(storagePeakMb,
          sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
        sc.setJobGroup(s"gb:${parent.id}", parent.name)
      }
    }

  private def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var end = Double.NegativeInfinity
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (b > end) { total += b - math.max(a, end); end = b }
    }
    total
  }

  private def finishOp(): Map[String, Double] = synchronized {
    val op = root
    val mine = spans.drop(op.id - 1).toSeq // operations run one at a time
    val parentOf = mine.map(s => s.id -> s.parent).toMap
    def within(x: Int, top: Int): Boolean =
      x == top || parentOf.get(x).exists(p => p != 0 && within(p, top))
    def named(p: String) = mine.filter(s => s.id != op.id && s.name.startsWith(p))
    def dur(s: Span) = (s.endMs - s.startMs) / 1e3
    def jobsIn(ss: Seq[Span]) =
      mine.filter(x => ss.exists(s => within(x.id, s.id))).map(x => countersOf(x.id).jobs).sum.toDouble
    val c = mine.map(s => countersOf(s.id))
    def sum(f: SpanCounters => Long) = c.map(f).sum.toDouble
    val opJobs = jobs.filter(j => parentOf.contains(j.span)).toSeq
    val covered = union(opJobs.map(j => (math.max(j.startMs, op.startMs),
      math.min(if (j.endMs.isNaN) op.endMs else j.endMs, op.endMs))).filter(x => x._2 > x._1))
    val oc = opCounters
    val stageMetrics = Corpus.Stages.flatMap { st =>
      val ss = named(s"functions.$st")
      Seq(s"functions.${st}_s" -> ss.map(dur).sum, s"functions.${st}_jobs" -> jobsIn(ss))
    }
    (Seq(
      "catalyst.analysis_s" -> oc.analysisMs / 1e3,
      "catalyst.optimization_s" -> oc.optimizationMs / 1e3,
      "catalyst.planning_s" -> oc.planningMs / 1e3,
      "catalyst.exchanges" -> oc.exchanges.toDouble,
      "queries.build_s" -> named("queries.").map(dur).sum,
      "queries.build_jobs" -> jobsIn(named("queries.")),
      "scheduler.jobs" -> sum(_.jobs),
      "scheduler.stages" -> sum(_.stages),
      "scheduler.tasks" -> sum(_.tasks),
      "scheduler.delay_s" -> sum(_.delayMs) / 1e3,
      "driver.gap_s" -> math.max(0.0, dur(op) - covered / 1e3),
      "executor.run_s" -> sum(_.runMs) / 1e3,
      "executor.cpu_s" -> sum(_.cpuNs) / 1e9,
      "executor.deserialize_s" -> sum(_.deserMs) / 1e3,
      "executor.gc_s" -> sum(_.gcMs) / 1e3,
      "shuffle.write_bytes" -> sum(_.shuffleWrite),
      "shuffle.read_bytes" -> sum(_.shuffleRead),
      "shuffle.fetch_wait_s" -> sum(_.fetchWaitMs) / 1e3,
      "spill.bytes" -> sum(_.spill),
      "checkpoints.superstep_jobs" ->
        jobsIn(named("functions.clusters") ++ named("functions.graph_audit")),
      "io.input_bytes" -> sum(_.inBytes),
      "io.input_files" -> oc.inputFiles.toDouble,
      "io.write_s" -> named("io.write").map(dur).sum,
      "io.output_bytes" -> sum(_.outBytes),
      "streaming.batch_s" -> oc.batchMs / 1e3,
      "streaming.add_batch_s" -> oc.addBatchMs / 1e3,
      "streaming.wal_commit_s" -> oc.walCommitMs / 1e3) ++ stageMetrics).toMap
  }

  /** Traced ÷ untraced median wall per operation name, over the names
    * that have both halves; their geometric mean is `trace.overhead`.
    */
  def overheadByName: Seq[(String, Double)] = walls.toSeq.collect {
    case (name, (t, u)) if t.nonEmpty && u.nonEmpty => name -> Stats.median(t.toSeq) / Stats.median(u.toSeq)
  }

  /** Per-layer metrics, each the mean over the traced operations it
    * describes: write-side metrics ([[Tracer.WriteSide]]) over the `Write`
    * operations when the run has any, every other metric over the timed
    * operations. Plus the storage peak and `trace.overhead`.
    */
  def layerMetrics: Seq[(String, Double, String)] = {
    val timed = opMetrics.collect { case (Tracer.Timed, m) => m }.toSeq
    val writes = opMetrics.collect { case (Tracer.Write, m) => m }.toSeq
    def mean(ms: Seq[Map[String, Double]], name: String) =
      if (ms.isEmpty) 0.0 else ms.map(_.getOrElse(name, 0.0)).sum / ms.size
    val ratios = overheadByName.map(_._2)
    Tracer.PerOp.map { case (name, unit) =>
      (name, mean(if (Tracer.WriteSide(name) && writes.nonEmpty) writes else timed, name), unit)
    } ++ Seq(
      ("storage.peak_mb", storagePeakMb, "MB"),
      ("trace.overhead",
        if (ratios.isEmpty) Double.NaN else math.exp(ratios.map(math.log).sum / ratios.size), "ratio"))
  }

  /** All spans with self time (duration minus the part its children cover). */
  def spanRecords: Seq[Map[String, Any]] = synchronized {
    val jobSpanId = mutable.HashMap.empty[Int, Int]
    val base = spans.size
    val jobRows = jobs.zipWithIndex.map { case (j, i) =>
      jobSpanId(j.jobId) = base + i + 1
      Span(base + i + 1, j.span, s"job ${j.jobId}", j.startMs,
        if (j.endMs.isNaN) j.startMs else j.endMs)
    }
    val stageRows = stageSpans.zipWithIndex.map { case ((sid, jid, a, b), i) =>
      Span(base + jobRows.size + i + 1, jobSpanId(jid), s"stage $sid", a, b)
    }
    val all = spans.toSeq ++ jobRows ++ stageRows
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val ch = kids.getOrElse(s.id, Nil).map(k =>
        (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs))).filter(x => x._2 > x._1)
      val extra = counters.get(s.id).map(c => Map("jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "executor_run_ms" -> c.runMs)).getOrElse(Map.empty)
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "self_ms" -> ((s.endMs - s.startMs) - union(ch))) ++ extra
    }
  }
}

object Tracer {
  /** How an operation is measured. */
  sealed trait Kind
  /** A measured operation: alternates traced and untraced per name. */
  case object Timed extends Kind
  /** A warm-up or check: never traced, never compared. */
  case object Untimed extends Kind
  /** A write-path operation (ingest step, compaction): always traced. */
  case object Write extends Kind

  /** Metrics of the write path, aggregated over `Write` operations. */
  val WriteSide: Set[String] = Set("io.write_s", "io.output_bytes",
    "streaming.batch_s", "streaming.add_batch_s", "streaming.wal_commit_s")

  /** Per-operation layer metrics and their units. */
  val PerOp: Seq[(String, String)] = Seq(
    "catalyst.analysis_s" -> "s/op", "catalyst.optimization_s" -> "s/op",
    "catalyst.planning_s" -> "s/op", "catalyst.exchanges" -> "count/op",
    "queries.build_s" -> "s/op", "queries.build_jobs" -> "count/op",
    "scheduler.jobs" -> "count/op", "scheduler.stages" -> "count/op",
    "scheduler.tasks" -> "count/op", "scheduler.delay_s" -> "s/op",
    "driver.gap_s" -> "s/op",
    "executor.run_s" -> "s/op", "executor.cpu_s" -> "s/op",
    "executor.deserialize_s" -> "s/op", "executor.gc_s" -> "s/op",
    "shuffle.write_bytes" -> "B/op", "shuffle.read_bytes" -> "B/op",
    "shuffle.fetch_wait_s" -> "s/op", "spill.bytes" -> "B/op") ++
    Corpus.Stages.flatMap(st => Seq(s"functions.${st}_s" -> "s/op", s"functions.${st}_jobs" -> "count/op")) ++
    Seq("checkpoints.superstep_jobs" -> "count/op",
      "io.input_bytes" -> "B/op", "io.input_files" -> "count/op",
      "io.write_s" -> "s/op", "io.output_bytes" -> "B/op",
      "streaming.batch_s" -> "s/op", "streaming.add_batch_s" -> "s/op",
      "streaming.wal_commit_s" -> "s/op")

}
