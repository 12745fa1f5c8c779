package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] = rest.headOption.map(_.split(",").toSet)
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    val failed = run(spark, sfDir, outDir, only)
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }

  /** Writes each selected query's result to `outDir/<name>` as parquet and
    * returns the names of the queries that threw, in run order. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          only: Option[Set[String]]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
        // each query's result is fully written: release the intermediates
        // the operators persisted internally (tracked persists AND the
        // iterative operators' localCheckpoint blocks), so one query's
        // caches never crowd the next query's working set
        finally { CacheRegistry.releaseAll(); Checkpoints.releaseAll() }
      }
  }
}
