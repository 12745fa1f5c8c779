package graft

/** `Verify.run` reports the queries that threw, so `Verify.main` can exit
  * non-zero instead of leaving a crash to surface later as a missing
  * output directory. */
class VerifySpec extends SparkSpec {

  test("run names the query that failed") {
    val out = WorkDirs.acquire("test_verify").toString
    val failed = Verify.run(spark, "/nonexistent/sf_dir", out,
      Some(Set("q17_reconstruct_state")))
    assert(failed === Seq("q17_reconstruct_state"))
  }
}
