package graft.rag

import graft.SparkSpec
import graft.functions.TextEmbed
import graft.store.Collection
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import org.apache.spark.sql.functions.{col, when}

/** Every endpoint's status codes and bodies over a small synthetic
  * collection built in the test itself, so the HTTP layer is checked
  * without the diary fixture `RagServerSpec` reads. One row keeps its
  * vector but has a NULL text: k covers the whole collection, so it is
  * in every context and the server must scrub it to "" instead of failing.
  */
class RagServerHttpSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {

  private val Dim = 64

  private lazy val server = {
    val s = spark
    import s.implicits._
    val rows = Seq(
      (1L, "Spark plans a window join as a broadcast hash join."),
      (2L, "Vector search ranks documents by cosine similarity."),
      (3L, "The parquet scan reads only the projected columns."),
      (4L, "spark window join")).toDF("id", "text")
    val root = java.nio.file.Files.createTempDirectory("rag-http").toString
    val c = Collection.create(spark, root, "synthetic", Dim, overwrite = true)
    c.insert(TextEmbed.withEmbed(rows, "text", "vector", Dim)
      .withColumn("text", when(col("id") =!= 4L, col("text")))
      .select("id", "vector", "text"))
    new RagServer(c, k = 4, dim = Dim)
  }
  private lazy val port = server.start(0)
  private lazy val http = HttpClient.newHttpClient()

  override def afterAll(): Unit = server.stop()

  private def send(path: String, body: Option[String]): HttpResponse[String] = {
    val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
    http.send(body.fold(b.GET())(j =>
        b.header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(j))).build(),
      HttpResponse.BodyHandlers.ofString())
  }

  private val Answerable = """{"question": "How does a spark window join work?"}"""

  test("POST /query answers with every hit, the null-text row scrubbed to an empty context") {
    val r = send("/query", Some(Answerable))
    assert(r.statusCode() === 200, r.body())
    assert(r.headers().firstValue("Content-Type").orElse("") === "application/json")
    val Resp = """\{"response":"([^"]*)","context":\[(.*)\],"source_ids":\[(.*)\],"success":true\}""".r
    r.body() match {
      case Resp(answer, context, ids) =>
        assert(answer === "Spark plans a window join as a broadcast hash join.")
        assert(context.split(",(?=\")").count(_ == "\"\"") === 1, context)
        assert(ids.split(",").sorted.toSeq === Seq("\"1\"", "\"2\"", "\"3\"", "\"4\""))
      case b => fail(s"unexpected body: $b")
    }
  }

  test("POST /query maps a fallback answer to 404 with a detail body") {
    val r = send("/query", Some("""{"question": "zzzz qqqq xyzzy plugh?"}"""))
    assert(r.statusCode() === 404, r.body())
    assert(r.body() === s"""{"detail":${RagServer.jstr(ExtractiveLlm.Fallback)}}""")
  }

  test("POST /query without a question field is a 422") {
    val r = send("/query", Some("""{"nope": 1}"""))
    assert(r.statusCode() === 422)
    assert(r.body() === """{"detail":"question field required"}""")
  }

  test("GET /query is a 405") {
    val r = send("/query", None)
    assert(r.statusCode() === 405)
    assert(r.body() === """{"detail":"Method Not Allowed"}""")
  }

  test("POST /query/stream is a 200 SSE stream of deltas ending in [DONE]") {
    val r = send("/query/stream", Some(Answerable))
    assert(r.statusCode() === 200, r.body())
    assert(r.headers().firstValue("Content-Type").orElse("") === "text/event-stream")
    val events = r.body().split("\n\n").toSeq
    assert(events.last === "data: [DONE]", r.body())
    assert(events.init.nonEmpty &&
      events.init.forall(_.startsWith("""data: {"choices":[{"delta":{"content":""")), r.body())
  }

  test("POST /query/stream without a question field is a 422, not a stream") {
    val r = send("/query/stream", Some("""{"nope": 1}"""))
    assert(r.statusCode() === 422)
    assert(r.body() === """{"detail":"question field required"}""")
  }

  test("GET /health is a 200") {
    val r = send("/health", None)
    assert(r.statusCode() === 200)
    assert(r.body() === """{"status":"healthy","services":["collection","embedding","llm"]}""")
  }
}
