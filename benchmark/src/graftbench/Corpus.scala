package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{CacheRegistry, Checkpoints}
import graft.functions.{CorpusCatalog, GraphOps, MinHashLSH, ModelScore, Sampling, TextAnalysis}
import graft.io.TableWriter

final case class Doc(doc_id: Long, text: String, lang: String)

/** Seeded documents shaped like the suite's `documents` table (short
  * texts over a small technical vocabulary), with planted structure whose
  * effect on each pipeline stage is known:
  *  - exact copies of earlier fresh documents (some upper-cased), for
  *    exact dedup;
  *  - near copies of earlier fresh documents with a few words substituted,
  *    for LSH near-dup clusters;
  *  - repetitive junk, which the repetition gate must drop;
  *  - passages copied from the held-out eval set, which decontamination
  *    must excise.
  */
final class CorpusGen(seed: Long, val docs: Int) {
  private val evalDocs = 60
  private val vocab = Array("key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "merge", "batch", "spark", "line", "sort", "window", "order", "data",
    "column", "join", "small", "customer", "query", "big", "stream", "group", "filter",
    "vector", "index", "cache", "page", "block", "the", "a", "of", "and", "to", "in", "is", "for")
  private val langs = Array("en", "en", "en", "zh", "es", "fr", "de")

  private def words(k: Long, n: Int): Array[String] =
    Array.tabulate(n)(i => vocab(Mix.below(Mix.h(seed, k, i), vocab.length)))

  val eval: IndexedSeq[Doc] = (0 until evalDocs).map(i =>
    Doc(1000000L + i, words(Mix.h(seed, 21, i), 40).mkString(" "), "en"))

  /** Kind of document `i`: 0 fresh, 1 exact copy, 2 near copy, 3 junk, 4 contaminated. */
  def kind(i: Int): Int = {
    val u = Mix.unit(Mix.h(seed, 22, i))
    if (i < 20 || u < 0.62) 0 else if (u < 0.72) 1 else if (u < 0.86) 2 else if (u < 0.92) 3 else 4
  }

  private def fresh(i: Int): Array[String] =
    words(Mix.h(seed, 23, i), 15 + Mix.below(Mix.h(seed, 24, i), 90))

  /** The fresh document a copy is made from (copies of copies would make
    * the duplicate graph's depth, and so the iterative stages' round
    * counts, vary from seed to seed).
    */
  private def source(i: Int): Int =
    Iterator.from(0).map(k => Mix.below(Mix.h(seed, 25, i, k), i)).find(kind(_) == 0).get

  /** Word array of document `i` (copies resolve to their source's words). */
  private val cache = mutable.HashMap.empty[Int, Array[String]]
  private def body(i: Int): Array[String] = cache.getOrElseUpdate(i, kind(i) match {
    case 0 => fresh(i)
    case 1 => body(source(i))
    case 2 =>
      val b = body(source(i)).clone()
      b.indices.foreach(j => if (Mix.unit(Mix.h(seed, 26, i, j)) < 0.04)
        b(j) = vocab(Mix.below(Mix.h(seed, 27, i, j), vocab.length)))
      b
    case 3 =>
      val phrase = words(Mix.h(seed, 28, i), 3)
      Array.fill(20)(phrase).flatten
    case _ =>
      val e = eval(Mix.below(Mix.h(seed, 29, i), evalDocs)).text.split(" ")
      val at = Mix.below(Mix.h(seed, 30, i), e.length - 15)
      fresh(i) ++ e.slice(at, at + 15) ++ fresh(i + docs)
  })

  val all: IndexedSeq[Doc] = (0 until docs).map { i =>
    val text = body(i).mkString(" ")
    val shout = kind(i) == 1 && Mix.unit(Mix.h(seed, 31, i)) < 0.3
    Doc(i.toLong, if (shout) text.toUpperCase else text, langs(Mix.below(Mix.h(seed, 32, i), langs.length)))
  }
  def junk: Set[Long] = (0 until docs).filter(kind(_) == 3).map(_.toLong).toSet
  /** (source, copy) of every planted near copy. */
  def nearCopies: Seq[(Long, Long)] =
    (0 until docs).filter(kind(_) == 2).map(i => (source(i).toLong, i.toLong))
  /** SHA-256 of every generated document and eval document. */
  def inputDigest: String = Oracle.sha256((all ++ eval).map(d => s"${d.doc_id}\t${d.lang}\t${d.text}").mkString("\n"))
}

/** The stage outputs a pass hands to the oracle. */
final case class PassResult(funnel: Seq[(String, Long)], gated: Set[Long], exact: Set[Long],
                            pairs: Seq[(Long, Long, Double)], clusters: Map[Long, Long],
                            triangles: Long, clean: Map[Long, String], balanced: Set[Long],
                            sampled: Set[Long], packedDigest: String, shardDigest: String,
                            shardRows: Long, shardChunks: Seq[(Long, Int)],
                            catalogDocs: Long, stageS: Seq[(String, Double)])

/** `tools/ExamplePipeline`'s stage sequence driven stage by stage through
  * the public `graft.functions` calls; each stage materializes its output
  * inside its own span so its time and jobs are its own.
  */
object Corpus {
  val Stages: Seq[String] = Seq("gate", "exact_dedup", "lsh_pairs", "clusters", "graph_audit",
    "decontam", "sample", "pack", "shard_write", "catalog_append")
  /** Documents kept by the length-weighted sample. */
  val SampleBudget = 100000
  /** Gate thresholds, as `tools/ExamplePipeline` sets them. */
  val MinQuality = 0.3
  val MaxRepetition = 0.05
  val MinModelScore = 0.05
  /** Chunking and packing. */
  val ChunkTokens = 40
  val ChunkOverlap = 8

  /** SHA-256 over `df`'s rows as JSON lines, columns by name, rows sorted. */
  def rowsDigest(df: DataFrame): (String, Long) = {
    import df.sparkSession.implicits._
    val lines = df.select(to_json(struct(df.columns.sorted.map(col): _*))).as[String].collect().sorted
    (Oracle.sha256(lines.mkString("\n")), lines.length.toLong)
  }

  /** One pass over `docs`. With `fault`, the gate loses its lowest
    * surviving document: the self-test's proof that the oracle bites.
    */
  def pass(spark: SparkSession, tr: Tracer, docs: DataFrame, eval: DataFrame,
           out: String, dumpId: String, fault: Boolean = false): PassResult = {
    import spark.implicits._
    val disk = StorageLevel.MEMORY_AND_DISK
    val stageS = mutable.ArrayBuffer.empty[(String, Double)]
    def stage[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try tr.span(s"functions.$name")(body) finally stageS += name -> (System.nanoTime() - t0) / 1e9
    }
    val funnel = mutable.ArrayBuffer("docs" -> docs.count())

    val gatedAll = stage("gate") {
      val heuristic = CacheRegistry.track(
        TextAnalysis.repetitionRatio(docs, "doc_id", "text")
          .where(TextAnalysis.qualityScore(col("text")) >= Corpus.MinQuality &&
            col("rep_ratio") <= Corpus.MaxRepetition)
          .select("doc_id", "text").persist(disk))
      Checkpoints.eager(heuristic
        .join(ModelScore.score(heuristic, "doc_id", "text").where(col("model_score") >= Corpus.MinModelScore), "doc_id")
        .select("doc_id", "text"))
    }
    val gated = if (!fault) gatedAll
      else gatedAll.where(col("doc_id") =!= gatedAll.agg(min("doc_id")).head().getLong(0))
    val gatedIds = gated.select("doc_id").as[Long].collect().toSet
    funnel += "gated" -> gatedIds.size.toLong

    val exact = stage("exact_dedup") {
      val canon = gated.groupBy(TextAnalysis.fingerprintHex(col("text")).as("fp_hex"))
        .agg(min("doc_id").as("exact_canon"))
      Checkpoints.eager(gated.withColumn("fp_hex", TextAnalysis.fingerprintHex(col("text")))
        .join(canon, "fp_hex").where(col("doc_id") === col("exact_canon"))
        .select("doc_id", "text"))
    }
    val exactIds = exact.select("doc_id").as[Long].collect().toSet
    funnel += "exact" -> exactIds.size.toLong

    val pairs = stage("lsh_pairs") {
      Checkpoints.eager(MinHashLSH.nearDupPairs(exact, "doc_id", "text").where(col("jaccard") >= 0.5))
    }
    val pairRows = pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"),
      col("jaccard").cast("double")).as[(Long, Long, Double)].collect().toSeq
    funnel += "pairs" -> pairRows.size.toLong

    val (deduped, clusterOf) = stage("clusters") {
      val c = Checkpoints.eager(MinHashLSH.clusters(pairs).select(col("id").as("doc_id"), col("cluster")))
      val d = Checkpoints.eager(exact.join(c, Seq("doc_id"), "left_outer")
        .where(col("cluster").isNull || col("cluster") === col("doc_id")).select("doc_id", "text"))
      (d, c)
    }
    val clusterMap = clusterOf.select(col("doc_id").cast("long"), col("cluster").cast("long"))
      .as[(Long, Long)].collect().toMap
    funnel += "near_dedup" -> deduped.count()

    val triangles = stage("graph_audit") {
      val sym = pairs.select("doc_a", "doc_b").union(pairs.select(col("doc_b"), col("doc_a")))
      val tri = GraphOps.triangleStats(pairs, "doc_a", "doc_b").head()
      val comm = GraphOps.labelPropagationConverged(sym, "doc_a", "doc_b", maxRounds = 8)
      GraphOps.modularity(pairs, "doc_a", "doc_b", comm, "id", "community").head()
      GraphOps.pageRank(sym, "doc_a", "doc_b").collect()
      tri.getAs[Long]("n_triangles")
    }

    val clean = stage("decontam") {
      val spans = TextAnalysis.contaminationSpans(deduped, eval, "doc_id", "text", n = 13)
      Checkpoints.eager(TextAnalysis.exciseSpans(deduped, "doc_id", "text", spans)
        .withColumnRenamed("clean_text", "text").select("doc_id", "text"))
    }
    val cleanTexts = clean.select("doc_id", "text").as[(Long, String)].collect().toMap
    funnel += "decontaminated" -> cleanTexts.size.toLong

    val langs = docs.select("doc_id", "lang")
    val (balanced, sampled) = stage("sample") {
      val balanced = Checkpoints.eager(Sampling.temperatureMix(
        clean.join(langs, Seq("doc_id")), "doc_id", "lang", temperature = 2.0))
      (balanced, Checkpoints.eager(Sampling.weightedSampleSalted(
          balanced.withColumn("n_chars", length(col("text"))).withColumn("source", lit("corpus")),
          "doc_id", "n_chars", "source", n = SampleBudget, salts = 32)
        .select("doc_id", "text")))
    }
    val balancedIds = balanced.select("doc_id").as[Long].collect().toSet
    funnel += "balanced" -> balancedIds.size.toLong
    val sampledIds = sampled.select("doc_id").as[Long].collect().toSet
    funnel += "sampled" -> sampledIds.size.toLong

    val packed = stage("pack") {
      val chunks = TextAnalysis.chunk(sampled, "doc_id", "text", maxTokens = ChunkTokens, overlap = ChunkOverlap)
      Checkpoints.eager(TextAnalysis.packSequencesAcross(chunks, "doc_id", seqTokens = 96, numGroups = 8)
        .withColumn("seq_key", concat_ws(":", col("bin_group"), col("seq_idx"))))
    }
    val (packedDigest, packedRows) = rowsDigest(packed)
    funnel += "packed" -> packedRows

    stage("shard_write") {
      tr.span("io.writeShards")(TableWriter.writeShards(packed, s"$out/shards", "seq_key", nShards = 8))
    }
    stage("catalog_append") {
      CorpusCatalog.append(sampled.join(langs, Seq("doc_id")), "doc_id", "text",
        s"$out/_catalog", dumpId = dumpId, domainCol = Some("lang"))
    }

    val shards = spark.read.parquet(s"$out/shards")
    val (shardDigest, shardRows) = rowsDigest(shards.drop("shard"))
    val shardChunks = shards.select(explode(col("chunks")).as("c"))
      .select(col("c.doc_id").cast("long"), col("c.start").cast("int")).as[(Long, Int)].collect().toSeq
    val catalogDocs = spark.read.parquet(s"$out/_catalog").where(col("dump_id") === dumpId)
      .select("n_docs").as[Long].collect().sum
    CacheRegistry.releaseAll()
    Checkpoints.releaseAll()
    PassResult(funnel.toSeq, gatedIds, exactIds, pairRows, clusterMap, triangles, cleanTexts,
      balancedIds, sampledIds, packedDigest, shardDigest, shardRows, shardChunks, catalogDocs,
      stageS.toSeq)
  }
}
