package graftbench

import scala.collection.immutable.ListMap
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

object Oracle {
  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}

/** One pipeline pass per operation over a seeded corpus, each pass checked
  * against plain-Scala recomputations of the stages whose semantics are
  * simple to state, and against the previous pass's funnel and shard digest.
  */
object CorpusWorkload {
  val SetupRepeats = 3
  /** The suite's sf0.1 `documents` row count. */
  val Docs = 5000

  private def grams(text: String, n: Int): Set[String] = {
    val w = text.toLowerCase.split(" ")
    if (w.length < n) Set.empty else w.sliding(n).map(_.mkString(" ")).toSet
  }

  private def halfUp(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  private val stopwords = Set("the", "a", "an", "of", "and", "to", "in", "is", "it", "for", "on", "with")

  /** The gate replayed in plain Scala: 3-gram repetition ratio, the
    * stopword/length/punctuation quality score and the MD5 model score,
    * each rounded as the engine documents it.
    */
  def passesGate(text: String): Boolean = {
    val w = text.toLowerCase.split(" ", -1)
    val n = w.length
    val rep = if (n < 3) 0.0 else halfUp(1.0 - w.sliding(3).map(_.toSeq).toSet.size.toDouble / (n - 2), 6)
    val punct = text.count(c => c >= '!' && c <= '/' || c >= ':' && c <= '@' ||
      c >= '[' && c <= '`' || c >= '{' && c <= '~').toDouble / text.length
    val quality = halfUp(0.4 * math.min(w.count(stopwords).toDouble / n * 4.0, 1.0) +
      0.4 * math.min(text.split(" ", -1).length.toDouble / 100.0, 1.0) +
      0.2 * (1.0 - math.min(punct * 10.0, 1.0)), 4)
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(text.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val score = halfUp(java.lang.Long.parseLong(md5.take(8), 16) / 4294967296.0, 6)
    quality >= Corpus.MinQuality && rep <= Corpus.MaxRepetition && score >= Corpus.MinModelScore
  }

  private def jaccard3(a: String, b: String): Double = {
    val (ga, gb) = (grams(a, 3), grams(b, 3))
    (ga & gb).size.toDouble / (ga | gb).size
  }

  /** Chunk starts of a text: 1, 1 + stride, … up to max(words − overlap, 1). */
  private def chunkStarts(text: String): Seq[Int] =
    1 to math.max(text.split(" ", -1).length - Corpus.ChunkOverlap, 1) by
      (Corpus.ChunkTokens - Corpus.ChunkOverlap)

  /** Share of planted near copies (Jaccard ≥ [[PlantedJaccard]] with their
    * source, both past exact dedup) that LSH must pair: with 4 bands of 2
    * rows a pair at 0.7 is a candidate with probability 0.93.
    */
  val MinRecall = 0.75
  val PlantedJaccard = 0.7

  /** Failures of pass `r` over `gen`'s corpus; empty when every check holds.
    * Each stage is checked both ways: nothing it must drop gets through,
    * and what the generator planted for it is found.
    */
  def check(gen: CorpusGen, r: PassResult): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: => String): Unit = if (!ok) fails += what
    val byId = gen.all.map(d => d.doc_id -> d.text).toMap
    val langOf = gen.all.map(d => d.doc_id -> d.lang).toMap
    val funnel = r.funnel.toMap

    expect(funnel("docs") == gen.docs, s"docs ${funnel("docs")} != ${gen.docs}")
    val gateWant = gen.all.filter(d => passesGate(d.text)).map(_.doc_id).toSet
    expect(r.gated == gateWant, s"gate kept ${r.gated.size}, want ${gateWant.size} " +
      s"(${(gateWant -- r.gated).size} missing, ${(r.gated -- gateWant).size} extra)")
    expect((r.gated & gen.junk).isEmpty, "repetitive junk passed the gate")
    val exactWant = r.gated.groupBy(id => byId(id).toLowerCase).values.map(_.min).toSet
    expect(r.exact == exactWant, s"exact dedup kept ${r.exact.size}, want ${exactWant.size}")

    val badPairs = r.pairs.filterNot { case (a, b, j) =>
      val exactJ = jaccard3(byId(a), byId(b))
      a < b && r.exact(a) && r.exact(b) && exactJ >= 0.5 && math.abs(exactJ - j) <= 1e-6
    }
    expect(badPairs.isEmpty, s"${badPairs.size} near-dup pairs fail their Jaccard check")
    val found = r.pairs.map(p => (p._1, p._2)).toSet
    val planted = gen.nearCopies.filter { case (a, b) =>
      r.exact(a) && r.exact(b) && jaccard3(byId(a), byId(b)) >= PlantedJaccard
    }
    val recalled = planted.count(found)
    expect(planted.nonEmpty && recalled >= MinRecall * planted.size,
      s"LSH paired $recalled of ${planted.size} planted near copies")

    // connected components by union-find; labels are each component's min id
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val root = find(p); parent(x) = root; root }
    }
    r.pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = parent.keys.toSeq.map(x => x -> find(x)).toMap
    expect(r.clusters == labels, "cluster labels differ from connected components")
    val survivors = r.exact.filter(x => labels.get(x).forall(_ == x))
    expect(funnel("near_dedup") == survivors.size,
      s"near-dup survivors ${funnel("near_dedup")} != ${survivors.size}")

    val adj = r.pairs.flatMap { case (a, b, _) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val tri = r.pairs.map { case (a, b, _) =>
      (adj(a) & adj(b)).count(c => c > b)
    }.sum.toLong
    expect(r.triangles == tri, s"triangles ${r.triangles} != $tri")

    val evalGrams = gen.eval.flatMap(d => grams(d.text, 13)).toSet
    def contaminated(t: String) = grams(t, 13).exists(evalGrams)
    expect(r.clean.keySet == survivors, s"decontamination kept ${r.clean.size} of ${survivors.size} documents")
    expect(!r.clean.values.exists(contaminated), "an eval 13-gram survived decontamination")
    val (dirty, untouched) = survivors.filter(r.clean.contains).partition(id => contaminated(byId(id)))
    expect(dirty.nonEmpty && dirty.forall(id => r.clean(id).length < byId(id).length),
      s"${dirty.count(id => r.clean(id).length >= byId(id).length)} of ${dirty.size} contaminated documents kept their passage")
    expect(untouched.forall(id => r.clean(id) == byId(id)), "decontamination changed a clean document")

    // temperature mixing downsamples every language but the binding one
    val cleanByLang = r.clean.keys.groupBy(langOf).map { case (l, ids) => l -> ids.size }
    val keptByLang = r.balanced.groupBy(langOf).map { case (l, ids) => l -> ids.size }
    expect(r.balanced.subsetOf(r.clean.keySet), "balancing kept a document decontamination dropped")
    expect(cleanByLang.keySet == keptByLang.keySet && cleanByLang.exists { case (l, n) => keptByLang(l) == n },
      s"balancing kept $keptByLang of $cleanByLang")
    expect(r.sampled == r.balanced, s"sampled ${r.sampled.size} of ${r.balanced.size} (budget exceeds input)")

    val chunksWant = r.sampled.toSeq.flatMap(id => chunkStarts(r.clean(id)).map(id -> _)).sorted
    expect(r.shardChunks.sorted == chunksWant,
      s"shards hold ${r.shardChunks.size} chunks, want ${chunksWant.size}")
    expect(r.shardRows == funnel("packed") && r.shardDigest == r.packedDigest,
      s"shards (${r.shardRows} rows) differ from the packed sequences (${funnel("packed")} rows)")
    expect(r.catalogDocs == r.sampled.size, s"catalog counts ${r.catalogDocs} docs")
    fails.toSeq
  }

  def run(spark: SparkSession, tr: Tracer, seed: Long, seconds: Int, dir: String,
          fault: Boolean = false): Outcome = {
    import spark.implicits._
    val gen = new CorpusGen(seed, Docs)
    val (setups, store) = Setup.repeat(SetupRepeats, dir) { d =>
      spark.createDataset(gen.all).repartition(spark.sparkContext.defaultParallelism)
        .write.parquet(s"$d/documents")
      spark.createDataset(gen.eval).coalesce(1).write.parquet(s"$d/eval")
    }
    val docs = spark.read.parquet(s"$store/documents")
    val eval = spark.read.parquet(s"$store/eval").select("doc_id", "text")

    var passes = 0
    var failed = 0
    var first: Option[PassResult] = None
    val walls = mutable.ArrayBuffer.empty[Double]
    def onePass(): Unit = {
      passes += 1
      val (r, opWall) = tr.op("pass", if (passes == 1) Tracer.Untimed else Tracer.Timed)(
        Corpus.pass(spark, tr, docs, eval, s"$store/pass_$passes", s"pass_$passes", fault && passes == 1))
      // the pipeline's time: its stages, not the oracle's reads between them
      val wall = r.stageS.map(_._2).sum
      val fails = check(gen, r) ++ first.toSeq.flatMap(f =>
        if (f.funnel == r.funnel && f.shardDigest == r.shardDigest) Nil
        else Seq("pass differs from the first pass of this seed"))
      if (fails.nonEmpty) {
        failed += 1
        fails.foreach(f => System.err.println(s"[graftbench] pass $passes: $f"))
      }
      if (first.isEmpty) first = Some(r)
      walls += wall
      Log(f"pass $passes: stages $wall%.2fs of $opWall%.2fs")
    }
    // A batch pipeline runs once per fresh JVM, so the measured pass is the
    // cold one, however long `seconds` is. A traced run adds three warm
    // passes; the tracer alternates, so passes 2 and 4 are traced and pass 3
    // is not, which evens out the JIT still warming between them. The
    // per-layer metrics are means over passes 2 and 4.
    (1 to (if (tr.enabled) 4 else 1)).foreach(_ => onePass())
    val f = first.get
    Outcome(passes, failed, setups, walls.head, 1, Docs.toDouble, walls.head,
      Env.heapAfterGcMb(),
      Seq("input_digest" -> gen.inputDigest, "docs" -> Docs, "docs_per_s" -> Docs / walls.head, "pass_s" -> walls.toSeq,
        "funnel" -> ListMap(f.funnel: _*), "stage_s" -> ListMap(f.stageS: _*),
        "shard_digest" -> f.shardDigest))
  }
}
