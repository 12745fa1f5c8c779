package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** `Session` is the only place a main builds a SparkSession. The conf is
  * tested as a pure map: a second SparkSession cannot start beside the
  * shared test one.
  */
class SessionSpec extends AnyFunSuite {

  test("conf pins parallelism, AQE, UTC, UI off, plan-string caps and the local FS") {
    val c = Session.conf("7")
    assert(c("spark.sql.shuffle.partitions") === "7")
    assert(c("spark.sql.adaptive.enabled") === "true")
    assert(c("spark.sql.session.timeZone") === "UTC")
    assert(c("spark.ui.enabled") === "false")
    assert(c("spark.sql.debug.maxToStringFields") === "10000")
    assert(c("spark.sql.maxPlanStringLength") === "65536")
    GraftConf.localFsConf.foreach { case (k, v) => assert(c.get(k).contains(v), k) }
    assert(!c.keys.exists(_.startsWith("spark.shuffle.")),
      s"no shuffle-writer override: ${c.keys.toSeq.sorted.mkString(", ")}")
  }

  private def mainSources: java.io.File =
    // tests fork with cwd = repo root; walk up defensively in case a
    // runner pins a subdirectory
    Iterator.iterate(new java.io.File(".").getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null).take(4)
      .map(d => new java.io.File(d, "src/main/scala"))
      .find(_.isDirectory)
      .getOrElse(fail("src/main/scala not found from " +
        new java.io.File(".").getAbsolutePath))

  test("no main source outside graft/Session.scala calls SparkSession.builder()") {
    val root = mainSources.toPath
    val builders = {
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => java.nio.file.Files.readString(p).contains("SparkSession.builder()"))
        .map(p => root.relativize(p).toString.replace('\\', '/'))
        .toList.sorted
      finally files.close()
    }
    assert(builders === List("graft/Session.scala"))
  }
}
