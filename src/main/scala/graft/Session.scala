package graft

import org.apache.spark.sql.SparkSession

/** The one place a main builds its local SparkSession. Every caller picks
  * only its core count; the rest of the configuration is shared, so a
  * profile taken through one main runs the engine the bench runs.
  */
object Session {

  /** Session configuration for `local[cpus]`. It sets no `spark.shuffle.*`
    * writer override: forcing the serialized sort writer measured 2.5x
    * WORSE on the superstep class at local[32] (q31 2.34 -> 5.88 s,
    * VERDICT.md item 1), so Spark's own bypass-vs-sort choice stands.
    */
  def conf(cpus: String): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // Bench's contract line must be the ONLY stdout line. Two guards:
    // a raised maxToStringFields stops the "Truncated the string
    // representation of a plan" WARN from ever firing (it polluted the
    // captured tail in rounds 3-4 and broke the driver's JSON parse),
    // and ERROR log level (log4j2.properties + setLogLevel below) keeps
    // any other WARN out of the capture window. 10k covers every plan
    // here (widest is the q24 pivot, far under 1k fields) without the
    // unbounded-string cost of a huge limit.
    "spark.sql.debug.maxToStringFields" -> "10000",
    // AQE posts an explainString-rendered plan description on every plan
    // update even with the UI off; for the composed deep-plan queries
    // (d14/d19/d38) that rendering is a measured 4-9% of wall time
    // (round-11 A/B, recorded in commit 094117d). Cap it at 64 KB — an
    // observability bound real deployments set; no query result changes.
    "spark.sql.maxPlanStringLength" -> "65536"
  ) ++
    // shell-fork-free local FS (r19): without libhadoop, every state
    // store / offset log / fixture file op forks chmod/readlink —
    // measured at ~75% of the stateful streaming rows' executor time.
    // See graft.io.NioLocalFileSystem.
    GraftConf.localFsConf

  /** A `local[cpus]` session with [[conf]], logging at ERROR. */
  def local(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(conf(cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
