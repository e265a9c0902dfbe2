package graft.perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.functions.TextAnalysis
import graft.operators.{Components, Decontaminate, Similarity, TextDedup}

/** `curation`: the training-data path, in the text and vector kernels and
  * clear of the table engine; at this shard size task CPU exceeds driver
  * time in every kernel span (perfbench/baseline.json compares sizes).
  * Set-up writes a seeded corpus shard as JSON lines — documents
  * recombined from a sentence pool, with exact duplicates, edited
  * near-duplicates, eval-set contamination and low-quality junk planted
  * at fixed rates — builds a frame of jittered embeddings, and trains the
  * IVF centroids and PQ codebooks once.
  *
  * One cycle curates the shard: quality and language gate, exact dedup,
  * MinHash near-duplicate pairs folded into min-id components,
  * decontamination against the eval set, the curated shard written out,
  * and an IVF-PQ top-10 for a fixed query batch over the vectors. Kept
  * documents are checked against the planted classes and the top-10
  * against a brute-force top-10 computed in plain Scala. */
final class Curation(spark: SparkSession, seed: Long, tracer: Tracer)
    extends Workload {
  import Curation._

  private var root = ""
  private var cents: DataFrame = _
  private var codebooks: Array[Array[Array[Float]]] = _
  private var bench: DataFrame = _
  private var queries: DataFrame = _
  private var vectors: DataFrame = _
  /** ids expected kept; planted near-duplicate ids */
  private var expectKept = Set.empty[Long]
  private var nearDups = Set.empty[Long]
  /** query id → brute-force top-10 ids */
  private var truth = Map.empty[Long, Seq[Long]]

  private def docsPath = s"$root/corpus"
  private def outPath = s"$root/curated"

  def setup(dir: String): Unit = {
    root = dir
    val rng = new Random(seed)
    val stopAll = TextAnalysis.stopwords.values.flatten.toSet
    val vocab = IndexedSeq.fill(VocabSize) {
      (1 to 3 + rng.nextInt(7)).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    }.filterNot(stopAll)
    def sentence(r: Random): String = {
      val words = (1 to 8 + r.nextInt(5)).map { _ =>
        if (r.nextInt(100) < 40) Stop(r.nextInt(Stop.size))
        else vocab(r.nextInt(vocab.size))
      }
      words.mkString(" ").capitalize + "."
    }
    val pool = IndexedSeq.fill(PoolSentences)(sentence(rng))
    val evalDocs = IndexedSeq.fill(EvalDocs)(
      (1 to 5).map(_ => sentence(rng)).mkString(" "))
    bench = spark.createDataFrame(java.util.Arrays.asList(
      evalDocs.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }: _*), DocSchema)
      .localCheckpoint(true)

    var nextDoc = 1L
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    val kept = mutable.Set.empty[Long]
    val near = mutable.Set.empty[Long]
    def add(text: String): Long = { val id = nextDoc; nextDoc += 1; docs += id -> text; id }
    val originals = mutable.ArrayBuffer.empty[String]
    (1 to ShardDocs).foreach { _ =>
      val roll = rng.nextInt(100)
      if (roll < 4 && originals.nonEmpty) {
        // exact duplicate up to case and whitespace
        add("  " + originals(rng.nextInt(originals.size)).toUpperCase
          .replace(" ", "   "))
      } else if (roll < 8 && originals.nonEmpty) {
        // near duplicate: two words replaced
        val w = originals(rng.nextInt(originals.size)).split(" ")
        (1 to 2).foreach(_ => w(rng.nextInt(w.length)) = vocab(rng.nextInt(vocab.size)))
        near += add(w.mkString(" "))
      } else if (roll < 10) {
        // contaminated: an eval document's sentence spliced in
        val e = evalDocs(rng.nextInt(evalDocs.size)).split("\\. ")
        add(Seq(pool(rng.nextInt(pool.size)), e(rng.nextInt(e.length)) + ".",
          pool(rng.nextInt(pool.size))).mkString(" "))
      } else if (roll < 13) {
        // junk: no stopwords, punctuation-heavy
        add((1 to 20).map(_ => vocab(rng.nextInt(vocab.size)) + "!?;")
          .mkString(" "))
      } else {
        val t = (1 to 5).map(_ => pool(rng.nextInt(pool.size))).mkString(" ")
        originals += t
        kept += add(t)
      }
    }
    expectKept = kept.toSet
    nearDups = near.toSet
    // the shard lands as JSON-lines files, one per core
    new File(docsPath).mkdirs()
    docs.grouped((docs.size + Main.Cores - 1) / Main.Cores).zipWithIndex.foreach {
      case (part, n) =>
        val w = new PrintWriter(new File(s"$docsPath/part-$n.json"), "UTF-8")
        try part.foreach { case (id, t) =>
          w.println(s"""{"doc_id":$id,"text":"${t.replace("\\", "\\\\")
            .replace("\"", "\\\"")}"}""")
        } finally w.close()
    }

    // embeddings: jittered copies of a seeded base set, handed over as a frame
    val base = Array.fill(BaseVectors, Dim)(rng.nextGaussian().toFloat)
    def jitter(v: Array[Float]) = v.map(x => x + (rng.nextGaussian() * 0.35).toFloat)
    val qs = Array.tabulate(Queries)(_ => jitter(base(rng.nextInt(BaseVectors))))
    queries = spark.createDataFrame(java.util.Arrays.asList(qs.zipWithIndex.map {
      case (v, i) => Row(QueryIdBase + i, v.toSeq) }.toSeq: _*), VecSchema)
      .localCheckpoint(true)
    val vs = Array.tabulate(ShardVectors)(i =>
      (i.toLong, jitter(base(rng.nextInt(BaseVectors)))))
    truth = qs.zipWithIndex.map { case (q, qi) =>
      (QueryIdBase + qi) -> vs.map { case (id, v) => (id, cosine(q, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(10).map(_._1).toSeq
    }.toMap
    // materialized once: a local-relation frame would be re-planned (and
    // partly evaluated on the driver) by every query that touches it
    vectors = spark.createDataFrame(java.util.Arrays.asList(vs.map {
      case (id, v) => Row(id, v.toSeq) }.toSeq: _*), VecSchema)
      .localCheckpoint(true)
    cents = Similarity.trainCentroids(vectors, Centroids, iters = 1,
      maxTrainVectors = TrainVectors).localCheckpoint(true)
    codebooks = Similarity.pqTrainCodebooks(vectors, iters = 1,
      maxTrainVectors = TrainVectors)
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    d / math.sqrt(na * nb)
  }

  def cycle(i: Int, rec: Recorder): Unit = {
    val docs = spark.read.schema(DocSchema).json(docsPath)
    var cached = List.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached ::= df.persist(); df.count(); df }
    val (keptIds, topk) = try rec.timed("op") {
      val gated = tracer.span("text") {
        val toks = TextAnalysis.tokens(col("text"))
        keep(docs.withColumn("__toks", toks)
          .filter(TextAnalysis.languageIdOfTokens(col("__toks"), col("text")) === "en" &&
            TextAnalysis.qualityScoreOfTokens(col("__toks"), col("text")) >= MinQuality)
          .drop("__toks"))
      }
      val deduped = tracer.span("neardup") {
        val exact = keep(TextDedup.exactDedup(gated, "doc_id", "text"))
        val pairs = TextDedup.minhashNearDupPairs(exact, "doc_id", "text")
        val labels = Components.minLabelComponents(pairs, "idA", "idB")
        keep(exact.join(labels.filter(col("node") =!= col("label")),
          col("doc_id") === col("node"), "left_anti"))
      }
      val clean = tracer.span("decontam") {
        keep(Decontaminate.clean(deduped, bench, "doc_id", "text"))
      }
      clean.write.mode("overwrite").parquet(outPath)
      val ids = clean.select("doc_id").collect().map(_.getLong(0)).toSet
      val top = rec.timed("serve")(tracer.span("ann") {
        Similarity.ivfPqTopKWith(cents, codebooks, vectors, queries, 10).collect()
      })
      (ids, top)
    } finally cached.foreach(_.unpersist())
    rec.rows += ShardDocs

    val missed = (expectKept -- keptIds).size
    val extra = keptIds -- expectKept
    val nearKept = (extra & nearDups).size
    rec.check(missed == 0, s"cycle $i: $missed documents wrongly removed")
    rec.check((extra -- nearDups).isEmpty,
      s"cycle $i: ${(extra -- nearDups).size} duplicates, contaminated or " +
        "junk documents kept")
    val nearRecall = 1.0 - nearKept.toDouble / nearDups.size.max(1)
    rec.value("near_dup_recall", nearRecall)
    rec.check(nearRecall >= MinNearDupRecall,
      f"cycle $i: near-duplicate recall $nearRecall%.3f < $MinNearDupRecall")

    val got = topk.groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val recall = truth.toSeq.map { case (q, t) =>
      (got.getOrElse(q, Set.empty[Long]) & t.toSet).size / 10.0 }.sum / Queries
    rec.value("recall_at_10", recall)
    rec.check(recall >= MinRecall, f"cycle $i: recall@10 $recall%.3f < $MinRecall")
  }

  def finalCheck(rec: Recorder): Unit = ()

  def diskBytes: Long = Main.dirBytes(outPath)
  /** Three, so that the medians leave out the first, cold, cycle. */
  def minCycles: Int = 3
}

object Curation {
  val ShardDocs = 3000
  val ShardVectors = 12000
  val PoolSentences = 25000
  val VocabSize = 3000
  val EvalDocs = 200
  // fifteen jittered copies per base: with hundreds, a query's true top-10
  // hides among near-identical copies whose PQ codes coincide
  val BaseVectors = ShardVectors / 15
  val Dim = 64
  val Queries = 32
  val QueryIdBase = 1000000000L
  val Centroids = 16
  val TrainVectors = 2000L
  val MinQuality = 0.6
  val MinNearDupRecall = 0.95
  val MinRecall = 0.8

  val Stop: IndexedSeq[String] = TextAnalysis.stopwords("en").toIndexedSeq
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
}
