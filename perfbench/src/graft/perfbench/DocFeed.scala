package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One landed doc batch and what ingesting it must do. */
final case class DocBatch(docs: Seq[(Long, String)], vectors: Seq[(Long, Array[Float])],
    exactCopies: Seq[Long], editedCopies: Seq[Long], markerId: Long, markerTerm: String) {
  def offered: Int = docs.size
  def planted: Int = exactCopies.size + editedCopies.size
  def textBytes: Long = docs.map(_._2.length.toLong + 8L).sum +
    vectors.map(_._2.length * 4L + 8L).sum
}

/** A seeded feed of documents (`id BIGINT, text`) drawn from a Zipf
  * vocabulary with a per-topic bias, and of matching 64-dim vectors
  * clustered by topic. Each batch plants near-duplicates of earlier
  * accepted documents (half exact copies, half one-word edits of long
  * documents, which stay far above the 0.6 Jaccard threshold), one doc
  * carrying a unique marker term, and re-embeddings of earlier ids. */
final class DocFeed(seed: Long) {
  private val dim = 64
  private val nTopics = 16
  private val rng = new SplittableRandom(seed ^ 0x5deece66dL)
  private val vocab = Vocab.of(seed ^ 0x6a09e667L, 8000)
  private val topicWords: Array[Array[String]] = Array.fill(nTopics)(
    Array.fill(150)(vocab.words(200 + rng.nextInt(vocab.words.length - 200))))
  private val centroids: Array[Array[Double]] = Array.fill(nTopics) {
    val c = Array.fill(dim)(rng.nextGaussian())
    val n = math.sqrt(c.map(x => x * x).sum)
    c.map(_ / n)
  }
  private var nextId = 1L
  /** Accepted fresh docs: id → (text, word count). */
  private val accepted = mutable.ArrayBuffer.empty[(Long, String, Int)]
  private val vectorIds = mutable.ArrayBuffer.empty[Long]
  private var rounds = 0

  private def text(topic: Int, words: Int): String = {
    val sb = new StringBuilder
    (0 until words).foreach { i =>
      if (i > 0) sb += ' '
      sb ++= (if (rng.nextDouble() < 0.3) topicWords(topic)(rng.nextInt(150))
        else vocab.draw(rng))
    }
    sb.toString
  }

  private def vector(topic: Int): Array[Float] =
    Array.tabulate(dim)(i => (centroids(topic)(i) + 0.08 * rng.nextGaussian()).toFloat)

  /** Draw `n` docs; `plantShare` of them near-duplicates, and
    * `reembedShare` × n re-embedded earlier ids in the vector feed. */
  def batch(n: Int, plantShare: Double, reembedShare: Double): DocBatch = {
    rounds += 1
    val nPlant = if (accepted.isEmpty) 0 else (n * plantShare).toInt
    val nExact = nPlant / 2
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    val vecs = mutable.ArrayBuffer.empty[(Long, Array[Float])]
    val fresh = mutable.ArrayBuffer.empty[(Long, String, Int)]
    val markerTerm = s"qxmark${rounds}z${java.lang.Long.toString(seed & 0xffffffL, 36)}"
    var markerId = -1L
    (0 until n - nPlant).foreach { i =>
      val id = nextId; nextId += 1
      val topic = rng.nextInt(nTopics)
      val words = 40 + rng.nextInt(111)
      val t0 = text(topic, words)
      val t = if (i == 0) { markerId = id; s"$t0 $markerTerm" } else t0
      docs += id -> t
      vecs += id -> vector(topic)
      fresh += ((id, t, words))
    }
    // sources: distinct earlier accepted docs, long ones for edits
    val used = mutable.HashSet.empty[Long]
    def source(minWords: Int): (Long, String, Int) = {
      var s = accepted(rng.nextInt(accepted.size))
      while (used.contains(s._1) || s._3 < minWords) s = accepted(rng.nextInt(accepted.size))
      used += s._1
      s
    }
    val exact = (0 until nExact).map { _ =>
      val (_, t, _) = source(0)
      val id = nextId; nextId += 1
      docs += id -> t
      vecs += id -> vector(rng.nextInt(nTopics))
      id
    }
    val edited = (0 until nPlant - nExact).map { _ =>
      val (_, t, _) = source(100)
      val ws = t.split(' ')
      ws(10 + rng.nextInt(ws.length - 20)) = vocab.draw(rng)
      val id = nextId; nextId += 1
      docs += id -> ws.mkString(" ")
      vecs += id -> vector(rng.nextInt(nTopics))
      id
    }
    val nRe = if (vectorIds.isEmpty) 0 else (n * reembedShare).toInt
    val re = mutable.LinkedHashSet.empty[Long]
    while (re.size < nRe) re += vectorIds(rng.nextInt(vectorIds.size))
    re.foreach(id => vecs += id -> vector(rng.nextInt(nTopics)))
    vectorIds ++= docs.map(_._1)
    accepted ++= fresh
    DocBatch(docs.toSeq, vecs.toSeq, exact, edited, markerId, markerTerm)
  }

  /** A probe: 1-2 terms from the vocabulary's mid-frequency band
    * (ranks 50-999, so posting-list sizes, and with them probe cost, do
    * not swing with the seed) and a topic direction. */
  def probe(): (Seq[String], Array[Float]) = {
    val terms = Seq.fill(1 + rng.nextInt(2))(vocab.words(50 + rng.nextInt(950))).distinct
    (terms, vector(rng.nextInt(nTopics)))
  }

  /** Land a batch: one parquet file per inbox, appended. */
  def land(spark: SparkSession, b: DocBatch, docInbox: String, vecInbox: String): Unit = {
    import spark.implicits._
    b.docs.toDF("id", "text").coalesce(1).write.mode("append").parquet(docInbox)
    b.vectors.map { case (id, v) => (id, v.toSeq) }.toDF("id", "embedding")
      .coalesce(1).write.mode("append").parquet(vecInbox)
  }
}
