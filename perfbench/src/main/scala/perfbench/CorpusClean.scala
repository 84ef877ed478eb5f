package perfbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.llm.{Dedup, Pipeline}

/** Corpus cleaning, one batch per round of `analytic_sf01`. The corpus is the
  * `documents` table in `dir` (5000 documents at sf 0.1, in eight batches),
  * with the near-duplicates the fixture already holds, plus seeded
  * near-duplicates: copies of long documents with one word changed. Each op
  * takes one batch through `Dedup.minhashLsh` (near-duplicate pairs),
  * `Dedup.clusters` (their components) and `Pipeline.cleanCorpus` (quality
  * and language filters, then one representative per cluster). The ground
  * truth of the injection, and a reimplementation of the filters and of exact
  * jaccard, check every op's output after timing. */
final class CorpusClean(spark: SparkSession, seed: Long, size: String, dir: String,
                        injectWrong: Int) {
  import CorpusClean._

  private val batchDocs = if (size == "tiny") 250 else 625
  /** The seeded batches and one cached frame per batch: inputs, built once
    * before set-up the way the database is read before it. */
  private val batches: IndexedSeq[Batch] = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1)
    val vocab = docs.flatMap(_._2.split(" ")).distinct.sorted.toIndexedSeq
    val rnd = new Random(seed)
    docs.grouped(batchDocs).zipWithIndex.map { case (b, i) => inject(b.toSeq, i, vocab, rnd) }
      .toIndexedSeq
  }
  private val frames: IndexedSeq[DataFrame] = {
    import spark.implicits._
    batches.map { b =>
      val df = spark.sparkContext.parallelize(b.docs.toSeq, spark.sparkContext.defaultParallelism)
        .toDF("doc_id", "text").cache()
      df.count()
      df
    }
  }
  private val results = mutable.ArrayBuffer.empty[(Batch, Either[String, Output])]

  def inputs: Seq[(String, String)] = Seq(
    "corpus_docs" -> batches.map(_.docs.size).sum.toString,
    "injected_near_dups" -> batches.map(_.injected.size).sum.toString,
    "batches" -> batches.length.toString,
    "docs_per_batch" -> batches.head.docs.size.toString,
    "jaccard_threshold" -> threshold.toString)

  def round(t: Tracer, k: Int): Seq[Sample] = {
    t.beginOp()
    Seq(run(k % batches.length, t))
  }

  private def run(i: Int, t: Tracer): Sample = {
    val df = frames(i)
    val t0 = System.nanoTime()
    val out = try Right {
      val (pairsDf, pairs) = t.span("llm.minhash") {
        val p = Dedup.minhashLsh(df, "text", "doc_id", threshold)
        (p, p.collect().map(r => (r.getLong(0), r.getLong(1))))
      }
      val reps = t.span("llm.cluster")(
        Dedup.clusters(pairsDf).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      pairsDf.unpersist()
      val kept = t.span("llm.clean")(
        Pipeline.cleanCorpus(df, "text", "doc_id", minQuality, "en", threshold)
          .select(col("doc_id")).collect().map(_.getLong(0)).toSet)
      Output(pairs.toSet, reps, kept)
    } catch { case e: Exception => Left(e.toString) }
    val ns = System.nanoTime() - t0
    out.foreach { o =>
      t.count("llm.pairs_found")(o.pairs.size.toDouble)
      t.count("llm.docs_kept")(o.kept.size.toDouble)
    }
    results += ((batches(i), out))
    Sample("corpus.batch", write = false, ns, docs = batches(i).docs.size.toLong)
  }

  def verify(): (Long, Long) = {
    val wrong = results.zipWithIndex.count { case ((b, out), i) =>
      out match {
        case Right(o) => !correct(b, if (i < injectWrong) o.copy(kept = o.kept + -1L) else o)
        case Left(_) => true
      }
    }
    (results.length.toLong, wrong.toLong)
  }

  def layerCounts: Map[String, Double] = {
    val found = results.collect { case (b, Right(o)) => b.injected.count(o.pairs) }.sum
    val injected = results.collect { case (b, Right(_)) => b.injected.size }.sum
    Map("llm.dup_recall" -> (if (injected == 0) 0.0 else found.toDouble / injected))
  }
}

object CorpusClean {
  val threshold = 0.7
  val minQuality = 0.6

  /** A batch: its documents by id and the (original, copy) pairs injected. */
  final case class Batch(docs: Map[Long, String], injected: Set[(Long, Long)])
  /** What one op returned: verified pairs (a < b), each paired document's
    * cluster representative, and the ids the cleaning pass kept. */
  final case class Output(pairs: Set[(Long, Long)], reps: Map[Long, Long], kept: Set[Long])

  /** Adds a near-duplicate of every tenth long document of the batch: the
    * same text with one word replaced, which keeps its 3-shingle jaccard
    * with the original well above the threshold. Copies get ids above every
    * original's. */
  def inject(docs: Seq[(Long, String)], batch: Int, vocab: IndexedSeq[String],
             rnd: Random): Batch = {
    val long = docs.filter(_._2.split(" ").length >= 50)
    val picked = rnd.shuffle(long).take(math.max(1, docs.length / 10))
    val copies = picked.zipWithIndex.map { case ((id, text), j) =>
      val w = text.split(" ")
      val at = 20 + rnd.nextInt(w.length - 40)
      w(at) = vocab((vocab.indexOf(w(at)) + 1 + rnd.nextInt(5)) % vocab.length)
      (10000000L * (batch + 1) + j, id, w.mkString(" "))
    }
    Batch(docs.toMap ++ copies.map(c => c._1 -> c._3),
      copies.map(c => (math.min(c._1, c._2), math.max(c._1, c._2))).toSet)
  }

  private def tokens(text: String): Array[String] =
    text.toLowerCase.replace(",", "").split(" ", -1)

  private def shingles(text: String): Set[String] = {
    val t = tokens(text)
    if (t.length <= 3) Set(t.mkString(" ")) else t.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    val inter = x.intersect(y).size.toDouble
    inter / (x.size + y.size - inter)
  }

  private val stop = Map(
    "en" -> Set("the", "a", "and", "of", "to", "is", "in"),
    "fr" -> Set("le", "la", "les", "et", "de", "un", "est"),
    "de" -> Set("der", "die", "das", "und", "ist", "ein", "zu"))

  private def round4(d: Double): Double =
    new java.math.BigDecimal(d).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue

  /** The cleaning pass's quality and language gates, written out on their
    * own: whitespace tokens of the lower-cased text, stop-word share and
    * length for quality, stop-word hits (ties to en, then fr) for language. */
  def passes(text: String): Boolean = {
    val toks = text.toLowerCase.split(" ", -1)
    val n = toks.length.toDouble
    val hits = stop.map { case (l, ws) => l -> toks.count(ws) }
    val quality = round4((math.min(1.0, n / 64.0) + math.min(1.0, hits("en") / n * 4.0)) / 2.0)
    val best = hits.values.max
    val lang = Seq("en", "fr", "de").find(hits(_) == best).get
    quality >= minQuality && lang == "en"
  }

  /** Union-find components of `pairs`: each node mapped to its component's
    * minimum id. */
  def components(pairs: Set[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else find(p) }
    pairs.foreach { case (x, y) =>
      val (rx, ry) = (find(x), find(y))
      if (rx != ry) parent(math.max(rx, ry)) = math.min(rx, ry)
    }
    pairs.flatMap { case (x, y) => Seq(x, y) }.map(n => n -> find(n)).toMap
  }

  /** Whether an op's output is right: every reported pair's exact jaccard
    * reaches the threshold, every injected pair is reported, representatives
    * are component minima, and the kept set is the documents passing the
    * gates minus the non-representatives of the components among them. */
  def correct(b: Batch, o: Output): Boolean = {
    val sound = o.pairs.forall { case (x, y) =>
      b.docs.contains(x) && b.docs.contains(y) && round4(jaccard(b.docs(x), b.docs(y))) >= threshold }
    val good = b.docs.keySet.filter(id => passes(b.docs(id)))
    val cleanReps = components(o.pairs.filter { case (x, y) => good(x) && good(y) })
    sound && b.injected.subsetOf(o.pairs) && o.reps == components(o.pairs) &&
      o.kept == good.filter(id => cleanReps.getOrElse(id, id) == id)
  }
}
