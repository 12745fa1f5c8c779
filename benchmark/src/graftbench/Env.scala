package graftbench

import org.apache.spark.sql.SparkSession

/** Session construction and the run's self-labelling environment record. */
object Env {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.debug.maxToStringFields", "10000")
      .config("spark.sql.maxPlanStringLength", "65536")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config(graft.GraftConf.localFsConf)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Single-thread CPU probe: a fixed xorshift loop, wall ms. */
  def spin(salt: Long = 0L): Double = {
    var x = 0x9E3779B97F4A7C15L ^ salt
    var i = 0
    val t0 = System.nanoTime()
    while (i < (1 << 25)) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) System.err.println("")
    (System.nanoTime() - t0) / 1e6
  }

  /** Parallel probe: one spin per core at once, slowest thread's wall ms. */
  def spinParallel(): Double = {
    val walls = new Array[Double](cpus)
    val ts = (0 until cpus).map(i => new Thread(() => walls(i) = spin(i.toLong)))
    ts.foreach(_.start()); ts.foreach(_.join())
    walls.max
  }

  /** Fixed-work CPU probes plus the effective configuration. A run whose
    * parallel probe is much slower than the single-thread one, or whose
    * parallelism differs from the core count, labels itself.
    */
  def record(spark: SparkSession): Map[String, Any] = {
    val single = (1 to 3).map(_ => spin()).min
    val parallel = (1 to 2).map(_ => spinParallel()).min
    val conf = spark.conf
    val par = spark.sparkContext.defaultParallelism
    val ratio = parallel / single
    val labels = Seq(
      if (ratio > 1.4) Some(f"contended: parallel spin ${ratio}%.2fx single") else None,
      if (par != cpus) Some(s"parallelism $par != nproc $cpus") else None).flatten
    Map(
      "master" -> spark.sparkContext.master,
      "default_parallelism" -> par,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> conf.get("spark.sql.adaptive.enabled"),
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "nproc" -> cpus,
      "spin_single_ms" -> single,
      "spin_parallel_ms" -> parallel,
      "spin_ratio" -> ratio,
      "labels" -> (if (labels.isEmpty) Seq("quiet") else labels))
  }

  /** Heap in use right after a full collection, once collections stop
    * freeing memory, MB. Spark's context cleaner drops broadcast and
    * shuffle state on its own thread only after a collection has released
    * its handle, so collections repeat, 300 ms apart, until two readings
    * agree within 1 MB (at most eight).
    */
  def heapAfterGcMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    def collect(): Double = { System.gc(); bean.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = collect()
    Thread.sleep(300)
    var cur = collect()
    var n = 2
    while (math.abs(cur - prev) > 1.0 && n < 8) {
      Thread.sleep(300)
      prev = cur; cur = collect(); n += 1
    }
    Log(f"heap after gc: $cur%.1f MB after $n collections")
    cur
  }
}
