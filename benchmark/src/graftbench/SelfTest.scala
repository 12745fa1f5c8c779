package graftbench

import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema

/** The benchmark's own tests:
  *  - generators are deterministic: the same seed gives byte-identical
  *    inputs (equal digests), another seed gives different ones;
  *  - the rows Spark writes from the generator are the oracle's rows;
  *  - the oracle bites: a lookup result with one row dropped or one value
  *    changed is judged wrong.
  * `run.py --selftest` also runs a whole workload with a fault injected
  * and checks that it exits non-zero.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = args.grouped(2).collect { case Array("--work", v) => v }.toSeq.head
    var failures = 0
    def expect(ok: Boolean, what: String): Unit = {
      System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    def teleDigest(seed: Long): String = {
      val o = new TelemetryOracle(new TelemetryGen(seed))
      o.extend(5000)
      o.inputDigest
    }
    expect(teleDigest(7) == teleDigest(7), "telemetry: same seed, same input digest")
    expect(teleDigest(7) != teleDigest(8), "telemetry: other seed, other input digest")
    expect(new CorpusGen(7, 400).inputDigest == new CorpusGen(7, 400).inputDigest,
      "corpus: same seed, same input digest")
    expect(new CorpusGen(7, 400).inputDigest != new CorpusGen(8, 400).inputDigest,
      "corpus: other seed, other input digest")

    val dir = s"$work/selftest"
    Files.wipe(new java.io.File(dir))
    val spark = Env.session(work)
    try {
      import spark.implicits._
      val n = 3000L
      val gen = new TelemetryGen(11)
      TelemetryBench.writeStore(spark, gen, n, dir)
      val oracle = new TelemetryOracle(gen)
      oracle.extend(n)
      val written = spark.read.parquet(s"$dir/instance_field")
        .select("instance_message_id", "uevol_field_id", "src_id", "dst_id", "relative_path", "new_value")
        .as[(Long, Int, Int, Int, String, Long)].collect().sorted.toSeq
      val generated = (0L until n).flatMap(gen.updates)
        .map(u => (u.instance_message_id, u.uevol_field_id, u.src_id, u.dst_id, u.relative_path, u.new_value))
        .sorted
      expect(written == generated && written.size == oracle.rowCount,
        s"written log equals the generated log (${written.size} rows)")

      val tab = new TelemetryTables(spark, dir)
      val tr = new Tracer(spark, enabled = false)
      val starts = TelemetryBench.snapStarts(n)
      (0 until 10).foreach { i =>
        val l = TelemetryBench.request(gen, i, starts, n)
        val rows = TelemetryBench.execute(spark, tr, tab, l)
        expect(TelemetryBench.check(oracle, starts, l, rows), s"lookup $i (${l.kind}) matches the oracle")
        if (rows.nonEmpty) {
          expect(!TelemetryBench.check(oracle, starts, l, rows.dropRight(1)),
            s"lookup $i with a row dropped is judged wrong")
          val r = rows.head
          val bent = new GenericRowWithSchema(r.toSeq.zipWithIndex.map {
            case (v: Double, _) => v + 1.0
            case (v: Long, j) if j == r.length - 1 => v + 1L
            case (v, _) => v
          }.toArray[Any], r.schema)
          expect(!TelemetryBench.check(oracle, starts, l, bent +: rows.tail),
            s"lookup $i with a value changed is judged wrong")
        }
      }
    } finally {
      spark.stop()
      Files.wipe(new java.io.File(dir))
    }
    System.err.println(s"[selftest] $failures failure(s)")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
