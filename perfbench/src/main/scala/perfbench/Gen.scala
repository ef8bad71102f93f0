package perfbench

import java.util.SplittableRandom

/** Everything the benchmark feeds the engine, derived from one seed.
  *
  * Each input stream draws from its own generator (split off the seed by a
  * fixed tag), so adding draws to one stream never shifts another. The
  * engine receives only these generated values.
  */
final class Gen(val seed: Long, val nDocs: Int) {
  import Gen._

  private def rng(tag: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ tag)

  /** 20,000 distinct synthetic words; rank order is generation order. */
  val vocab: Array[String] = {
    val r = rng(1)
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val len = 3 + r.nextInt(8)
      val w = new String(Array.fill(len)(('a' + r.nextInt(26)).toChar))
      if (!Reserved(w)) seen += w
    }
    seen.toArray
  }

  private val zipfVocab = new Zipf(VocabSize)

  /** Words drawn Zipf(1.0) from the vocabulary with a sentence break about
    * every 12 words, until the text reaches `targetLen` characters. */
  private def text(r: SplittableRandom, targetLen: Int): String = {
    val sb = new StringBuilder
    while (sb.length < targetLen) {
      if (sb.nonEmpty) sb ++= (if (r.nextInt(12) == 0) ". " else " ")
      sb ++= vocab(zipfVocab.sample(r))
    }
    sb += '.'
    sb.toString
  }

  /** ~4,000 documents of about 1,200 characters (doc_id → text). */
  lazy val docs: Array[String] = {
    val r = rng(2)
    Array.fill(nDocs)(text(r, 1100 + r.nextInt(201)))
  }

  /** The chunks the engine's fixed-size chunker must produce, cut here
    * independently: (id, text) with id = doc_id * 8 + chunk index. */
  lazy val chunks: Array[(Long, String)] =
    docs.zipWithIndex.flatMap { case (d, docId) =>
      d.grouped(ChunkSize).zipWithIndex.map { case (c, i) => (docId.toLong * 8 + i, c) }
    }

  /** Chunk text by id. */
  lazy val chunkText: Map[Long, String] = chunks.toMap

  /** A question about one chunk: a 6-token span of it; the expected answer
    * is the chunk's first 120 characters. */
  private def question(r: SplittableRandom, chunk: (Long, String)): Question = {
    val toks = tokens(chunk._2)
    val start = r.nextInt(toks.length - QuestionTokens + 1)
    Question(toks.slice(start, start + QuestionTokens).mkString(" "),
      chunk._2.take(120), chunk._1)
  }

  private lazy val askable: Array[(Long, String)] =
    chunks.filter(c => tokens(c._2).length >= QuestionTokens)

  /** `n` questions on `n` distinct chunks, drawn from stream `tag`. */
  private def uniqueQuestions(tag: Long, n: Int): Array[Question] = {
    val r = rng(tag)
    val idx = Array.range(0, askable.length)
    for (i <- 0 until n) { // partial Fisher-Yates
      val j = i + r.nextInt(idx.length - i)
      val t = idx(i); idx(i) = idx(j); idx(j) = t
    }
    idx.take(n).map(i => question(r, askable(i)))
  }

  /** The serving workloads' 2,000-question pool. */
  lazy val pool: Array[Question] = uniqueQuestions(3, math.min(PoolSize, askable.length))

  /** Question stream `stream` over the pool with Zipf(1.0) popularity. */
  def poolStream(n: Int, stream: Long): Array[Int] = {
    val r = rng(stream)
    val z = new Zipf(pool.length)
    Array.fill(n)(z.sample(r))
  }

  /** Unique questions for the IVF probes and for evalBatch. */
  def probeQuestions(n: Int): Array[Question] = uniqueQuestions(5, n)
  def evalQuestions(n: Int): Array[Question] = uniqueQuestions(6, n)

  /** Poisson arrivals at `ratePerS` over `seconds`, conditioned on their
    * expected count (so every seed offers the same load): due offsets in
    * nanoseconds, which are the order statistics of that many uniform
    * draws, built from normalised exponential gaps. */
  def schedule(ratePerS: Double, seconds: Double): Array[Long] = {
    val r = rng(7)
    val n = math.max(1, math.round(ratePerS * seconds).toInt)
    val gaps = Array.fill(n + 1)(-math.log(1.0 - r.nextDouble()))
    val total = gaps.sum
    var t = 0.0
    Array.tabulate(n) { i => t += gaps(i); (t / total * seconds * 1e9).toLong }
  }

  /** Upsert batch `i`: `UpsertBatch` distinct existing chunk ids, each with
    * new text of its old length. */
  def upsertBatch(i: Int): Array[(Long, String)] = {
    val r = rng(1000L + i)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < math.min(UpsertBatch, chunks.length)) picked += r.nextInt(chunks.length)
    picked.toArray.map { j =>
      val (id, old) = chunks(j)
      (id, text(r, math.max(1, old.length - 1)).take(old.length))
    }
  }

  /** Hash of the generated inputs: corpus, pool, question stream, unique
    * sets, first upsert batches and the arrival schedule. */
  def fingerprint(ratePerS: Double): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def put(s: String): Unit = md.update(s.getBytes("UTF-8"))
    docs.foreach(put)
    pool.foreach(q => put(q.text + q.expected + q.chunkId))
    (poolStream(1000, OpenLoopStream) ++ poolStream(1000, ClosedLoopStream)).foreach(i => put(i.toString))
    (probeQuestions(math.min(200, askable.length)) ++ evalQuestions(math.min(200, askable.length)))
      .foreach(q => put(q.text))
    (0 until 4).foreach(i => upsertBatch(i).foreach { case (id, t) => put(s"$id$t") })
    schedule(ratePerS, 60).foreach(t => put(t.toString))
    md.digest().take(8).map("%02x".format(_)).mkString
  }
}

final case class Question(text: String, expected: String, chunkId: Long)

object Gen {
  val VocabSize = 20000
  val ChunkSize = 400
  val Dim = 384
  val QuestionTokens = 6
  val PoolSize = 2000
  val UpsertBatch = 50
  /** Tags of serve_read's two question streams. */
  val OpenLoopStream = 4L
  val ClosedLoopStream = 8L

  /** Engine stopwords: a vocabulary word equal to one would make questions
    * the extractive answerer cannot match. */
  private val Reserved: Set[String] =
    graft.rag.ExtractiveLlm.Stop ++ graft.functions.TextEmbed.Stopwords

  def tokens(s: String): Array[String] = s.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  /** Zipf(1.0) over ranks 0 until n, by inverse CDF. */
  final class Zipf(n: Int) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / (i + 1))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }
}
