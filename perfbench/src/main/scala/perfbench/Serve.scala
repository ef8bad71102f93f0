package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, LinkedBlockingQueue}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.TextEmbed
import graft.rag.{ExtractiveLlm, RagServer}
import graft.store.Collection

/** Request `index` of a loop, finished: latency and connection wait, both
  * counted from when it was due; HTTP status and body. */
final case class Outcome(index: Int, question: Int, latencyNs: Long, waitNs: Long,
                         status: Int, body: String)

/** The online path: `POST /query` against a `RagServer`, or the same steps
  * replayed in-process so that each layer can be traced on the harness's
  * own threads. */
final class Serve(s: Setup, c: Collection, port: Int) {
  import Serve._
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private val uri = URI.create(s"http://127.0.0.1:$port/query")

  def post(question: String): (Int, String) = {
    val req = HttpRequest.newBuilder(uri).timeout(Duration.ofSeconds(120))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(s"""{"question":${RagServer.jstr(question)}}"""))
      .build()
    val r = http.send(req, HttpResponse.BodyHandlers.ofString())
    (r.statusCode, r.body)
  }

  /** Embed, exact search and answer, as `RagServer.processQuery` does, with
    * a span around each public call. Returns (status, JSON body). */
  def inProcess(question: String, req: Long): (Int, String) = s.trace.span("rag.request", req) {
    val qv = s.trace.span("functions.embed_query", req)(TextEmbed.embedScala(question, Gen.Dim))
    val hits = s.trace.span("store.search", req)(
      c.search(qv, K).select("id", "text").collect())
    val context = hits.map(r => Option(r.getString(1)).getOrElse("")).toSeq
    val answer = s.trace.span("rag.llm_answer", req)(ExtractiveLlm.answerOrNull(question, context))
    val body = RagServer.toJson(graft.model.QueryResponse(
      Option(answer).getOrElse(ExtractiveLlm.Fallback), context,
      hits.map(_.getLong(0).toString).toSeq, success = answer != null))
    (if (answer != null) 200 else 404, body)
  }

  private def send(q: Int, inProc: Boolean, req: Long): (Int, String) = {
    val text = s.gen.pool(q).text
    try {
      if (inProc) inProcess(text, req)
      else s.trace.span("http.query", req)(post(text))
    } catch { case e: Exception => (-1, String.valueOf(e)) }
  }

  /** Open loop: request i is due at `due(i)` ns after the start and is sent
    * on the first of `Conns` connections that is free; its latency counts
    * from when it was due. Returns outcomes and the generator's lateness. */
  def openLoop(due: Array[Long], questions: Array[Int], inProc: Boolean)
      : (Seq[Outcome], Seq[Double]) = {
    val queue = new LinkedBlockingQueue[Integer]()
    val out = new ConcurrentLinkedQueue[Outcome]
    val t0 = System.nanoTime() + 20000000L
    val workers = (0 until Conns).map { _ =>
      val t = new Thread(() => {
        var i: Int = queue.take()
        while (i >= 0) {
          val sent = System.nanoTime()
          val (status, body) = send(questions(i), inProc, i + 1L)
          val end = System.nanoTime()
          out.add(Outcome(i, questions(i), end - (t0 + due(i)), sent - (t0 + due(i)), status, body))
          i = queue.take()
        }
      })
      t.start(); t
    }
    val late = due.indices.map { i =>
      val target = t0 + due(i)
      var now = System.nanoTime()
      while (now < target) {
        java.util.concurrent.locks.LockSupport.parkNanos(target - now)
        now = System.nanoTime()
      }
      queue.put(i)
      (now - target) / 1e6
    }
    workers.foreach(_ => queue.put(-1))
    workers.foreach(_.join())
    (out.asScala.toSeq, late)
  }

  /** Closed loop: each of `Conns` connections sends its next question as
    * soon as its previous reply is in, until `questions` run out or
    * `seconds` have passed. Latency counts from the send. Returns the
    * outcomes and the replies per second, from the start to the last reply. */
  def closedLoop(questions: Array[Int], seconds: Double = Double.PositiveInfinity)
      : (Seq[Outcome], Double) = {
    val next = new java.util.concurrent.atomic.AtomicInteger
    val out = new ConcurrentLinkedQueue[Outcome]
    val t0 = System.nanoTime()
    val deadline = if (seconds.isInfinite) Long.MaxValue else t0 + (seconds * 1e9).toLong
    val workers = (0 until Conns).map { _ =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < questions.length && System.nanoTime() < deadline) {
          val sent = System.nanoTime()
          val (status, body) = send(questions(i), inProc = false, i + 1L)
          out.add(Outcome(i, questions(i), System.nanoTime() - sent, 0L, status, body))
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    workers.foreach(_.join())
    (out.asScala.toSeq, out.size / ((System.nanoTime() - t0) / 1e9))
  }
}

object Serve {
  val K = 5
  /** Connections and load threads: the machine's four cores. */
  val Conns = 4
  private val json = new ObjectMapper

  /** Parsed `/query` reply: (success, source ids, context count, answer). */
  def parse(body: String): Option[(Boolean, Seq[Long], Int, String)] =
    try {
      val n = json.readTree(body)
      val ids = n.get("source_ids").elements().asScala.map(_.asText.toLong).toSeq
      Some((n.get("success").asBoolean, ids, n.get("context").size, n.get("response").asText))
    } catch { case _: Exception => None }

  def latencies(os: Seq[Outcome]): Seq[Double] = os.map(_.latencyNs / 1e6)

  /** Checks every reply against the exact top-k of its question. A 200
    * must be a success with k contexts whose k source ids are the exact
    * top-k. A 404 must carry the fallback answer, and is correct only when
    * the extractive answerer finds nothing in the exact top-k either.
    * Returns the mean judge grade of the answers (the fallback's for a 404). */
  def verify(s: Setup, os: Seq[Outcome], exact: Setup.Exact): Double = {
    val want = new ConcurrentHashMap[Int, (Array[Double], Seq[Long])]
    val checked = new ConcurrentHashMap[(Int, Seq[Long]), java.lang.Boolean]
    val grades = Setup.par(os) { o =>
      val q = s.gen.pool(o.question)
      val (qv, top) = want.computeIfAbsent(o.question, _ => {
        val qv = TextEmbed.embedScala(q.text, Gen.Dim)
        (qv, exact.topK(qv, K)._1)
      })
      val answer = o.status match {
        case 200 => parse(o.body).collect {
          case (true, ids, nCtx, a) if nCtx == K &&
            checked.computeIfAbsent((o.question, ids), _ => exact.matches(ids, qv, K)) => a
        }
        case 404 if o.body.contains(ExtractiveLlm.Fallback) &&
          ExtractiveLlm.answerOrNull(q.text, top.map(s.gen.chunkText)) == null =>
          Some(ExtractiveLlm.Fallback)
        case _ => None
      }
      answer match {
        case Some(a) => ExtractiveLlm.judge(q.text, q.expected, a)
        case None =>
          s.fail(s"query '${q.text}': status ${o.status}, expected sources ${top.mkString(",")}, " +
            s"body ${o.body.take(300)}")
          0.0
      }
    }
    if (grades.isEmpty) 0.0 else grades.sum / grades.length
  }
}
