package graft.rag

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import graft.functions.TextEmbed
import graft.model.QueryResponse
import graft.store.Collection

/** The reference's online serving surface (`app.py:113-138`): a
  * `POST /query` endpoint binding QueryRequest → retrieve → LLM →
  * QueryResponse, plus `GET /health` (`app.py:140-143`). Built on the
  * JDK's bundled HttpServer — zero new dependencies — because the engine
  * is the product; the HTTP layer is a thin adapter over the same
  * Collection.search + LlmClient path the batch pipeline uses.
  *
  * Semantics preserved from the reference:
  *   - search-then-get collapses into one search (the top-k rows already
  *     carry `text`; the reference's two REST round trips,
  *     `app.py:63-92`, are a Milvus artifact);
  *   - source_ids are STRINGIFIED ids (`app.py:77`);
  *   - failures collapse to `success:false` and the endpoint maps them
  *     to HTTP 404 with a `detail` body exactly like FastAPI's
  *     HTTPException (`app.py:105-111`, `:131-136`);
  *   - `/health` reports the same shape with this engine's service list.
  *
  * Serving-at-scale note: one driver-side HTTP server fronting a Spark
  * job per request is the DEV shape (it exists because the reference has
  * it). The production path for high QPS is precomputing with
  * `RagPipeline.answerBatch` or exporting the collection to a dedicated
  * ANN server — documented here so nobody mistakes this for the scale
  * tier.
  */
final class RagServer(
    collection: Collection,
    llm: LlmClient = ExtractiveLlm,
    k: Int = 5,
    dim: Int = TextEmbed.DefaultDim) {

  private var server: Option[HttpServer] = None
  llm.open() // server-lifetime client init (the per-partition contract's driver-side analogue)
  // LlmClient's contract is open-once-then-SEQUENTIAL calls (what the
  // mapPartitions path guarantees per partition). The handler pool is
  // 4-wide for retrieval concurrency, so LLM calls serialize on this
  // lock to honor the contract for stateful clients.
  private val llmLock = new Object

  /** The endpoint's logic, HTTP-free for direct testing (the reference
    * tests `query_document_logic` the same way, `tests/test_app_v2.py:98`).
    */
  def processQuery(question: String): QueryResponse =
    try {
      val hits = retrieve(question)
      if (hits.isEmpty)
        QueryResponse("No relevant information found.", Nil, Nil, success = false)
      else {
        val context = hits.map(_._2)
        val ids = hits.map(_._1.toString)
        // sentinel form: success reads what the client DID (null ⇔ fell
        // back), never answer-text equality — the same hostile-corpus
        // discipline as answerBatch (r19 advice)
        val raw = llmLock.synchronized { llm.answerOrNull(question, context) }
        val answer = Option(raw).getOrElse(ExtractiveLlm.Fallback)
        QueryResponse(answer, context, ids, success = raw != null)
      }
    } catch {
      case e: Exception =>
        QueryResponse(s"Error: ${e.getMessage}", Nil, Nil, success = false)
    }

  /** Embed `text` and return the collection's top-k (id, text) hits, a
    * null text scrubbed to "". Shared by /query and /query/stream. */
  private def retrieve(text: String): Seq[(Long, String)] =
    collection.search(TextEmbed.embedScala(text, dim), k).select("id", "text").collect()
      .map(r => (r.getLong(0), Option(r.getString(1)).getOrElse(""))).toSeq

  private var pool: Option[java.util.concurrent.ExecutorService] = None

  /** Bind and serve; port 0 picks a free port. Returns the bound port.
    * A second start() without stop() is refused — silently overwriting
    * `server` leaked the old listener socket and its thread pool
    * (ADVICE r3). */
  def start(port: Int = 0): Int = {
    require(server.isEmpty, "start: server already running — stop() it first")
    val s = HttpServer.create(new InetSocketAddress(port), 0)
    s.createContext("/query", RagServer.questionHandler { (x, q) =>
      val r = processQuery(q)
      if (!r.success) // app.py:131-136: failure → 404 + detail
        RagServer.reply(x, 404, s"""{"detail":${RagServer.jstr(r.response)}}""")
      else RagServer.reply(x, 200, RagServer.toJson(r))
    })
    // The reference's CoT path can STREAM the final answer as SSE
    // (`src/groq_cot_batch_agents.ipynb` cell 5: `answer_with_cot(...,
    // stream=True)` → `_stream_final_answer` yields per-token
    // `choices[0].delta.content` events). This endpoint is that behavior's
    // server-side counterpart: stage 1 derives retrieval thoughts
    // (non-streamed, like the notebook), stage 2 streams the final answer
    // as `data: {json}\n\n` events over chunked transfer, terminated by
    // `data: [DONE]` — wire-compatible with the notebook's
    // `_handle_stream_response` parser. Note the notebook's streaming
    // path has NO fallback→error mapping (it yields whatever the model
    // says), so unlike /query this endpoint streams a fallback answer
    // rather than 404ing — the whole-answer inspection /query does is
    // exactly what streaming gives up.
    s.createContext("/query/stream", RagServer.questionHandler { (x, q) =>
      // CoT stage 1 (L3): salient-token retrieval thoughts widen
      // the embedded query, exactly as Agents.answerWithCot does
      val thoughts = RagServer.retrievalThoughts(q)
      val hits = retrieve(if (thoughts.isEmpty) q else s"$q $thoughts")
      if (hits.isEmpty)
        RagServer.reply(x, 404,
          """{"detail":"No relevant information found."}""")
      else {
        val context = hits.map(_._2)
        // Producer/consumer split: answerStream's deltas must stay
        // sequential for stateful clients (same contract as
        // answer), but the lock needs to cover only delta
        // PRODUCTION — holding it across the socket writes let one
        // stalled client (TCP backpressure blocking out.write)
        // wedge every other /query and /query/stream request. The
        // producer drains the iterator under llmLock into a queue;
        // the handler thread writes SSE outside it. The queue is
        // deliberately UNbounded: a bounded queue would block the
        // producer (lock in hand) on a slow client again, and the
        // memory ceiling is one answer's deltas either way.
        val queue = new java.util.concurrent.LinkedBlockingQueue[Option[String]]()
        // A client that disconnects mid-stream makes sse() throw;
        // without a stop signal the producer would keep generating
        // the whole answer under llmLock for a dead socket. The
        // flag is checked per delta — the producer stops within
        // one delta of the consumer failing.
        @volatile var cancelled = false
        val producer = new Thread(() => {
          try llmLock.synchronized {
            llm.answerStream(q, context)
              .takeWhile(_ => !cancelled)
              .foreach(d => queue.put(Some(
                s"""{"choices":[{"delta":{"content":${RagServer.jstr(d)}}}]}""")))
          } catch { case scala.util.control.NonFatal(e) =>
            // a swallowed LLM failure used to produce a clean 200
            // with just [DONE] — indistinguishable from an empty
            // answer (r11 review). Surface it as a terminal error
            // payload in the stream (the 200 headers are already
            // on the wire; an SSE client sees the error object
            // where the next delta would be).
            queue.put(Some(
              s"""{"error":{"message":${RagServer.jstr(
                Option(e.getMessage).getOrElse(e.getClass.getName))}}}"""))
          } finally queue.put(None) // end-of-stream even on failure
        }, "rag-sse-producer")
        producer.setDaemon(true) // a wedged producer must never pin JVM exit
        producer.start()
        try RagServer.sse(x,
          Iterator.continually(queue.take()).takeWhile(_.isDefined).map(_.get))
        finally {
          cancelled = true
          // bounded join + interrupt: cancellation is only checked
          // BETWEEN deltas, so a producer blocked inside a stalled
          // answerStream would wedge this handler thread forever —
          // four wedges and the fixed 4-thread pool stops serving
          // /health too (r11 review). Interrupt targets the
          // blocking call; the last join is a bounded best-effort
          // (the daemon flag keeps a truly stuck thread from
          // pinning shutdown).
          producer.join(5000)
          if (producer.isAlive) { producer.interrupt(); producer.join(1000) }
        }
      }
    })
    s.createContext("/health", new HttpHandler {
      override def handle(x: HttpExchange): Unit = RagServer.guard(x) {
        RagServer.reply(x, 200,
          """{"status":"healthy","services":["collection","embedding","llm"]}""")
      }
    })
    val p = java.util.concurrent.Executors.newFixedThreadPool(4)
    s.setExecutor(p)
    s.start()
    server = Some(s)
    pool = Some(p)
    s.getAddress.getPort
  }

  def stop(): Unit = {
    server.foreach(_.stop(0)); server = None
    // the handler pool is ours, not HttpServer's — shut it down or each
    // start/stop cycle strands 4 threads
    pool.foreach(_.shutdown()); pool = None
  }
}

object RagServer {

  /** A POST endpoint taking a QueryRequest body: 405 on any other method,
    * FastAPI's 422 on a body failing the QueryRequest model, otherwise
    * `handle(exchange, question)` — all under `guard`. */
  private def questionHandler(handle: (HttpExchange, String) => Unit): HttpHandler =
    x => guard(x) {
      if (x.getRequestMethod != "POST")
        reply(x, 405, """{"detail":"Method Not Allowed"}""")
      else parseQuestion(new String(x.getRequestBody.readAllBytes(), UTF_8)) match {
        case None => reply(x, 422, """{"detail":"question field required"}""")
        case Some(q) => handle(x, q)
      }
    }

  private def guard(x: HttpExchange)(body: => Unit): Unit =
    try body
    catch {
      case e: Exception =>
        try reply(x, 500, s"""{"detail":${jstr("Error: " + e.getMessage)}}""")
        catch { case _: Exception => () }
    }
    finally x.close()

  /** Server-sent-events response over chunked transfer: length 0 to
    * sendResponseHeaders selects chunked encoding, and the per-event
    * flush makes each `data:` line its own chunk frame on the wire — a
    * client reading the stream sees deltas as they are produced.
    */
  private def sse(x: HttpExchange, events: Iterator[String]): Unit = {
    x.getResponseHeaders.set("Content-Type", "text/event-stream")
    x.getResponseHeaders.set("Cache-Control", "no-cache")
    x.sendResponseHeaders(200, 0)
    val out = x.getResponseBody
    events.foreach { e => out.write(s"data: $e\n\n".getBytes(UTF_8)); out.flush() }
    out.write("data: [DONE]\n\n".getBytes(UTF_8))
    out.flush()
  }

  /** CoT stage-1 thoughts (L3): the question's salient tokens — shared
    * with `Agents.answerWithCot`'s thoughts stage. */
  def retrievalThoughts(q: String): String =
    q.toLowerCase.split("[^a-z0-9]+").filter(_.length > 3).distinct.sorted.mkString(" ")

  private def reply(x: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, bytes.length.toLong)
    x.getResponseBody.write(bytes)
  }

  /** JSON string literal — the shared escaper (`model.Json.str`). */
  def jstr(s: String): String = graft.model.Json.str(s)

  def toJson(r: QueryResponse): String =
    s"""{"response":${jstr(r.response)},""" +
      s""""context":${r.context.map(jstr).mkString("[", ",", "]")},""" +
      s""""source_ids":${r.source_ids.map(jstr).mkString("[", ",", "]")},""" +
      s""""success":${r.success}}"""

  /** Minimal JSON body parse: the value of a "question" key (string
    * literal with standard escapes). Scans EVERY occurrence of the key
    * text until one is followed by `: "` — so the key being quoted inside
    * an earlier string value doesn't cause a spurious 422. (A nested
    * object's own "question" key can still win over a later top-level
    * one — the documented limit of a parser this small; the reference
    * body is always the flat {"question": ...}.) Returns None when
    * absent or malformed — the endpoint's 422 path.
    */
  def parseQuestion(body: String): Option[String] = {
    val Key = "\"question\""
    var keyAt = body.indexOf(Key)
    var i = -1
    while (keyAt >= 0 && i < 0) {
      var j = keyAt + Key.length
      while (j < body.length && (body(j) == ' ' || body(j) == '\t' ||
        body(j) == '\n' || body(j) == '\r')) j += 1
      if (j < body.length && body(j) == ':') {
        j += 1
        while (j < body.length && (body(j) == ' ' || body(j) == '\t' ||
          body(j) == '\n' || body(j) == '\r')) j += 1
        if (j < body.length && body(j) == '"') i = j + 1
      }
      if (i < 0) keyAt = body.indexOf(Key, keyAt + 1)
    }
    if (i < 0) return None
    val sb = new StringBuilder
    while (i < body.length) {
      body(i) match {
        case '"' => return Some(sb.toString)
        case '\\' if i + 1 < body.length =>
          body(i + 1) match {
            case '"'  => sb += '"';  i += 2
            case '\\' => sb += '\\'; i += 2
            case '/'  => sb += '/';  i += 2
            case 'n'  => sb += '\n'; i += 2
            case 'r'  => sb += '\r'; i += 2
            case 't'  => sb += '\t'; i += 2
            case 'b'  => sb += '\b'; i += 2
            case 'f'  => sb += '\f'; i += 2
            case 'u' if i + 5 < body.length =>
              val hex = body.substring(i + 2, i + 6)
              // strict 4-hex-digit form: Integer.parseInt(_, 16) accepts a
              // leading sign, so "\u-061" would otherwise parse to a
              // wrapped garbage char instead of the 422 a real JSON
              // parser returns (r11 review)
              if (!hex.forall(c => c.isDigit || ('a' <= c && c <= 'f') ||
                ('A' <= c && c <= 'F'))) return None
              sb += Integer.parseInt(hex, 16).toChar; i += 6
            case _ => return None
          }
        case c => sb += c; i += 1
      }
    }
    None // unterminated literal
  }
}
