package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextEmbed
import graft.rag.RagPipeline
import graft.store.Collection
import graft.vector.IvfKMeans

/** Per-layer metrics of a traced run, computed from its spans and their
  * Spark counters. Every name is printed on every workload; a layer the
  * workload does not exercise reads 0. */
object Layers {
  /** (metric, unit) in print order. */
  val Names: Seq[(String, String)] = Seq(
    "functions.embed_query_us" -> "us",
    "functions.embed_rows_per_s" -> "rows/s",
    "functions.self_s" -> "s",
    "ingest.chunk_rows_per_s" -> "rows/s",
    "store.search_ms_p50" -> "ms",
    "store.search_ms_p95" -> "ms",
    "store.search_jobs_per_call" -> "count",
    "store.search_tasks_per_call" -> "count",
    "store.search_rows_read_per_row_returned" -> "ratio",
    "store.insert_s" -> "s",
    "store.upsert_ms_p50" -> "ms",
    "store.upsert_rows_written_per_row" -> "ratio",
    "store.build_ivf_s" -> "s",
    "store.search_ivf_ms_p50" -> "ms",
    "store.search_ivf_jobs_per_call" -> "count",
    "store.search_ivf_rows_read_per_call" -> "count",
    "store.search_ivf_recall_at_5" -> "ratio",
    "store.self_s" -> "s",
    "vector.ivf_train_s" -> "s",
    "vector.ivf_probe_us" -> "us",
    "rag.request_ms_p50" -> "ms",
    "rag.llm_answer_us" -> "us",
    "rag.retrieve_cosine_s" -> "s",
    "rag.bm25_s" -> "s",
    "rag.retrieve_hybrid_s" -> "s",
    "rag.answer_batch_s" -> "s",
    "rag.eval_batch_s" -> "s",
    "rag.answer_grade" -> "grade",
    "rag.self_s" -> "s",
    "http.query_ms_p50" -> "ms",
    "spark.jobs" -> "count",
    "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes",
    "spark.task_wait_ms_p50" -> "ms",
    "spark.task_wait_ms_p95" -> "ms",
    "spark.gc_ms" -> "ms",
    "bench.generator_late_ms_p95" -> "ms",
    "bench.conn_wait_ms_p95" -> "ms",
    "bench.trace_overhead_pct" -> "%")

  private def ms(sp: Seq[Span]) = sp.map(_.durNs / 1e6)

  /** Fills every per-layer metric from the trace (0 where no span exists)
    * and drops the end-to-end ones, which a traced run does not report. */
  def put(s: Setup, t: Trace): Unit = {
    val done = s.metrics.toMap
    s.metrics.clear()
    def p50(name: String, scale: Double) = Setup.median(ms(t.named(name))) * scale
    def perCall(name: String, f: Counters => Long) = {
      val c = t.counters(name)
      if (t.named(name).isEmpty) 0.0 else c.map(f).sum.toDouble / t.named(name).length
    }
    val self = t.selfNs
    def layerSelf(prefix: String) =
      t.all.filter(_.name.startsWith(prefix + ".")).map(sp => self(sp.id)).sum / 1e9
    val upserts = t.counters("store.upsert")
    val all = t.allCounters
    val waits = all.flatMap(c => c.taskWaitMs.toArray.map(_.asInstanceOf[java.lang.Long].toDouble))
    val computed = Map[String, Double](
      "functions.embed_query_us" -> p50("functions.embed_query", 1e3),
      "functions.self_s" -> layerSelf("functions"),
      "store.search_ms_p50" -> p50("store.search", 1),
      "store.search_ms_p95" -> Setup.percentile(ms(t.named("store.search")), 95),
      "store.search_jobs_per_call" -> perCall("store.search", _.jobs.get),
      "store.search_tasks_per_call" -> perCall("store.search", _.tasks.get),
      "store.search_rows_read_per_row_returned" ->
        perCall("store.search", _.recordsRead.get) / Serve.K,
      "store.insert_s" -> p50("store.insert", 1e-3),
      "store.upsert_ms_p50" -> p50("store.upsert", 1),
      "store.upsert_rows_written_per_row" ->
        (if (upserts.isEmpty) 0.0
         else upserts.map(_.recordsWritten.get).sum.toDouble / (upserts.length * Gen.UpsertBatch)),
      "store.build_ivf_s" -> p50("store.build_ivf", 1e-3),
      "store.search_ivf_ms_p50" -> p50("store.search_ivf", 1),
      "store.search_ivf_jobs_per_call" -> perCall("store.search_ivf", _.jobs.get),
      "store.search_ivf_rows_read_per_call" -> perCall("store.search_ivf", _.recordsRead.get),
      "store.self_s" -> layerSelf("store"),
      "vector.ivf_train_s" -> p50("vector.ivf_train", 1e-3),
      "vector.ivf_probe_us" -> p50("vector.ivf_probe", 1e3),
      "rag.request_ms_p50" -> p50("rag.request", 1),
      "rag.llm_answer_us" -> p50("rag.llm_answer", 1e3),
      "rag.retrieve_cosine_s" -> p50("rag.retrieve_cosine", 1e-3),
      "rag.bm25_s" -> p50("rag.bm25", 1e-3),
      "rag.retrieve_hybrid_s" -> p50("rag.retrieve_hybrid", 1e-3),
      "rag.answer_batch_s" -> p50("rag.answer_batch", 1e-3),
      "rag.eval_batch_s" -> p50("rag.eval_batch", 1e-3),
      "rag.self_s" -> layerSelf("rag"),
      "http.query_ms_p50" -> p50("http.query", 1),
      "spark.jobs" -> all.map(_.jobs.get).sum.toDouble,
      "spark.tasks" -> all.map(_.tasks.get).sum.toDouble,
      "spark.shuffle_write_bytes" -> all.map(_.shuffleWriteBytes.get).sum.toDouble,
      "spark.task_wait_ms_p50" -> Setup.percentile(waits, 50),
      "spark.task_wait_ms_p95" -> Setup.percentile(waits, 95),
      "spark.gc_ms" -> all.map(_.gcMs.get).sum.toDouble)
    Names.foreach { case (n, u) =>
      s.put(n, done.get(n).map(_._1).orElse(computed.get(n)).getOrElse(0.0), u)
    }
  }

  /** batch_index_qa's layers, each timed around its own public call: IVF
    * training alone, IVF recall against the exact top-k, and the legs of
    * evalBatch (cosine, BM25, hybrid fusion, answering) on the same
    * questions the timed evalBatch answered. */
  def batch(s: Setup, c: Collection, qa: DataFrame, recallQs: Seq[Question],
            exact: Setup.Exact): Unit = {
    import s.spark.implicits._
    val t = s.trace
    val coll = c.getAll(Seq("id", "vector", "text"))
    t.span("vector.ivf_train")(
      IvfKMeans.train(c.getAll(Seq("id", "vector")), "id", "vector", Main.Nlist))

    val vecs = recallQs.map(q => TextEmbed.embedScala(q.text, Gen.Dim))
    val queries = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toDF("qid", "qv")
    val got = t.span("store.search_ivf_batch")(
      c.searchIvfBatch(queries, Serve.K, Main.Nprobe).select("qid", "id").as[(Long, Long)].collect())
      .groupBy(_._1)
    val recall = vecs.indices.map { i =>
      val want = exact.topK(vecs(i), Serve.K)._1.toSet
      got.getOrElse(i.toLong, Array.empty).count(r => want(r._2)).toDouble / Serve.K
    }
    s.put("store.search_ivf_recall_at_5", recall.sum / recall.length, "ratio")

    val questions = qa.select("qid", "question")
    val withQv = TextEmbed.withEmbed(questions, "question", "qv", Gen.Dim)
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    t.span("rag.retrieve_cosine")(noop(RagPipeline.retrieveAll(withQv, coll, Serve.K)))
    t.span("rag.bm25")(noop(RagPipeline.bm25All(questions, coll, Serve.K)))
    t.span("rag.retrieve_hybrid")(noop(RagPipeline.retrieveHybrid(withQv, coll, Serve.K)))
    t.span("rag.answer_batch")(
      RagPipeline.answerBatch(questions, coll, Serve.K, Gen.Dim).collect())
    ()
  }
}
