package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextEmbed
import graft.ingest.Chunkers
import graft.store.Collection

/** Shared by every workload: the session, the generated corpus loaded into
  * a collection, the harness-side copy of its vectors for brute-force
  * checks, and the metric sink. `harnessMb` is the heap the harness's own
  * inputs take, which `heapLiveMb` leaves out. */
final class Setup(val spark: SparkSession, val gen: Gen, val root: String, val trace: Trace,
                  harnessMb: Double) {
  import spark.implicits._
  import Setup._

  val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)

  /** Failed operations and failed end-of-run checks, with a reason each. */
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]
  def fail(why: String): Unit = { failures.add(why); () }

  def docsDf: DataFrame =
    gen.docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toSeq.toDF("doc_id", "text")

  def chunksOf(docs: DataFrame): DataFrame =
    Chunkers.fixedCharChunks(docs, Gen.ChunkSize)
      .select((col("doc_id") * 8 + col("chunk_id")).as("id"), col("chunk_text").as("text"))

  def embedded(rows: DataFrame): DataFrame =
    TextEmbed.withEmbed(rows, "text", "vector", Gen.Dim).select("id", "vector", "text")

  /** Chunk, embed and insert the whole corpus into a fresh collection. */
  def ingest(name: String, docs: DataFrame): Collection = {
    val c = Collection.create(spark, root, name, Gen.Dim, overwrite = true)
    trace.span("store.insert")(c.insert(embedded(chunksOf(docs))))
    c
  }

  /** Loads the corpus `reps` times into fresh collections and keeps the
    * last. Returns it with the median load time in seconds, which leaves
    * out the first load, the one that also compiles the load path. Checks
    * that the stored chunks are exactly the generator's. */
  def load(reps: Int): (Collection, Double) = {
    val times = (0 until reps).map { i =>
      val t0 = System.nanoTime()
      ingest(s"corpus$i", docsDf)
      val s = (System.nanoTime() - t0) / 1e9
      if (i < reps - 1) Collection.drop(root, s"corpus$i")
      Main.log(f"corpus load $i: $s%.2f s")
      s
    }
    val c = Collection.open(spark, root, s"corpus${reps - 1}")
    val stored = c.getAll(Seq("id", "text")).as[(Long, String)].collect().sortBy(_._1)
    if (!stored.sameElements(gen.chunks))
      fail(s"ingest: stored ${stored.length} chunks differ from the ${gen.chunks.length} generated")
    (c, median(times))
  }

  /** Brute-force search over the collection's vectors as the engine
    * stores them (float). */
  def exact(c: Collection): Exact = {
    val rows = c.getAll(Seq("id", "vector")).as[(Long, Array[Float])].collect().sortBy(_._1)
    new Exact(rows.map(_._1), rows.map(_._2))
  }

  /** Throughput of the chunker and of the embedder alone (noop sink). */
  def layerThroughput(): Unit = {
    val docs = docsDf.persist()
    docs.count()
    val chunks = chunksOf(docs).persist()
    val n = trace.span("ingest.chunk")(chunks.count())
    val chunkSpan = trace.named("ingest.chunk").last
    trace.span("functions.embed_rows")(
      embedded(chunks).write.format("noop").mode("overwrite").save())
    val embedSpan = trace.named("functions.embed_rows").last
    put("ingest.chunk_rows_per_s", n / (chunkSpan.durNs / 1e9), "rows/s")
    put("functions.embed_rows_per_s", n / (embedSpan.durNs / 1e9), "rows/s")
    chunks.unpersist(); docs.unpersist(); ()
  }

  /** Bytes on disk of the collection (every retained snapshot and index
    * sidecar) per byte of its live snapshot. */
  def diskRatio(c: Collection): Double = {
    val all = new java.io.File(root).listFiles()
      .filter(f => f.getName == c.name || f.getName.startsWith(c.name + ".__"))
      .map(bytes).sum
    all.toDouble / bytes(new java.io.File(c.dataDir))
  }

  /** Driver heap in use after full collections, less the harness's own
    * inputs, in MB. The pause first lets Spark's asynchronous unpersist and
    * cleanup finish. */
  def heapLiveMb(): Double = {
    Thread.sleep(500)
    heapUsedMb() - harnessMb
  }
}

object Setup {
  /** Heap in use after full collections, in MB. */
  def heapUsedMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }

  /** `f` over `xs` on every core, in order. */
  def par[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.traverse(xs)(x => Future(f(x))), scala.concurrent.duration.Duration.Inf)
  }

  def bytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytes).sum).getOrElse(0L) else f.length

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p / 100.0 * (s.length - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** The engine's cosine (float vector × double query, summed in index
    * order), so scores compare exactly. */
  def cosine(v: Array[Float], q: Array[Double]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0; var i = 0
    while (i < v.length) {
      val x = v(i).toDouble; val y = q(i)
      ab += x * y; aa += x * x; bb += y * y; i += 1
    }
    val d = math.sqrt(aa) * math.sqrt(bb)
    if (d == 0.0) Double.NaN else ab / d
  }

  /** Exact top-k by score descending then id ascending: (ids, scores) plus
    * every id's score for tie-aware comparison. */
  final class Exact(ids: Array[Long], vecs: Array[Array[Float]]) {
    private val index = ids.zipWithIndex.toMap
    def scores(q: Array[Double]): Array[Double] = vecs.map(cosine(_, q))
    def topK(q: Array[Double], k: Int): (Seq[Long], Array[Double]) = {
      val s = scores(q)
      val top = s.indices.filterNot(i => s(i).isNaN)
        .sortBy(i => (-s(i), ids(i))).take(k)
      (top.map(ids), s)
    }
    /** True when `got` is a valid exact top-k: at every rank its score
      * equals the exact list's (so ties at equal score may swap ids). */
    def matches(got: Seq[Long], q: Array[Double], k: Int): Boolean = {
      val (want, s) = topK(q, k)
      got.length == want.length && got.distinct.length == got.length &&
        got.zip(want).forall { case (g, w) =>
          index.get(g).exists(gi => s(gi) == s(index(w)))
        }
    }
  }
}
