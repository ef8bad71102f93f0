package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.functions.TextEmbed
import graft.rag.{ExtractiveLlm, RagPipeline, RagServer}

/** The RAG benchmark harness. Drives the engine from outside through its
  * public surface and prints one JSON result line last on stdout.
  *
  *   --workload serve_read|batch_index_qa
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> [--docs <n>]
  *
  * With --trace 0 the result carries the end-to-end metrics, measured with
  * tracing off; with --trace 1 it carries the per-layer metrics of a
  * separate traced run, whose spans go to <work>/spans-<workload>-<seed>.jsonl.
  * The exit code is 1 when a correctness check failed.
  */
object Main {
  /** Rate of serve_read's open loop (traced run only): well under what its
    * closed loop completes per second (about 8 req/s on a four-core machine
    * at the commit that introduced the benchmark), so the queue stays short. */
  val ServeReadRate = 3.0
  /** Upper bound on the closed loop's replies per second, which sizes its
    * question stream. */
  val MaxRate = 1000
  val SetupReps = 3
  /** /query calls in set-up, before anything is timed. */
  val WarmupQueries = 16
  /** The reference's IVF_FLAT parameters. */
  val Nlist = 128
  val Nprobe = 10
  val IvfWarmup = 2
  val IvfProbes = 7
  val UpsertBatches = 1
  val RecallQuestions = 100
  val EvalQuestions = 16

  private val started = System.nanoTime()
  private def secondsSince(t: Long) = (System.nanoTime() - t) / 1e9
  def log(what: String): Unit = System.err.println(f"perfbench: ${secondsSince(started)}%7.2f s  $what")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = new java.io.File(args("work")).getAbsoluteFile
    val nDocs = args.get("docs").map(_.toInt).getOrElse(4000)
    require(Set("serve_read", "batch_index_qa")(workload), s"unknown workload $workload")

    val gen = new Gen(seed, nDocs)
    log(s"workload $workload seed $seed data fingerprint ${gen.fingerprint(ServeReadRate)}")
    // every input is generated by now; heap_live_mb leaves them out
    gen.chunkText
    val harnessMb = Setup.heapUsedMb()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder().master(s"local[${Serve.Conns}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Serve.Conns.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .withExtensions(new graft.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secondsSince(t0)

    val trace = new Trace(spark.sparkContext)
    val s = new Setup(spark, gen, new java.io.File(work, "collections").getPath, trace, harnessMb)
    if (traced) trace.start()
    val attempted = workload match {
      case "serve_read" => serveRead(s, sessionS, seconds, traced)
      case _ => batchIndexQa(s, sessionS, traced)
    }
    log("workload done")
    if (traced) {
      trace.stop()
      Layers.put(s, trace)
      trace.dump(new java.io.File(work, s"spans-$workload-$seed.jsonl"))
    }
    spark.stop()

    val failed = s.failures.size
    s.failures.forEach(f => System.err.println(s"perfbench: FAILED $f"))
    val metrics = s.metrics.map { case (k, (v, u)) => s""""$k":{"value":$v,"unit":"$u"}""" }
    println(s"""{"correct":${failed == 0},"attempted":${math.max(1, attempted)},""" +
      s""""failed":$failed,"metrics":{${metrics.mkString(",")}}}""")
    System.out.flush()
    sys.exit(if (failed == 0) 0 else 1)
  }

  /** serve_read: `POST /query` (k=5, exact search) in a closed loop on four
    * connections for `seconds`, questions drawn from the pool by Zipf
    * popularity. Every reply must carry the exact top-k. The traced run
    * adds an open loop with a Poisson schedule. */
  private def serveRead(s: Setup, sessionS: Double, seconds: Double, traced: Boolean): Int = {
    val (c, loadS) = s.load(SetupReps)
    if (traced) s.trace.stop()
    // held only until the replies are checked, so heap_live_mb leaves it out
    var exact = s.exact(c)
    val t = System.nanoTime()
    val server = new RagServer(c, ExtractiveLlm, Serve.K, Gen.Dim)
    try {
      val serve = new Serve(s, c, server.start(0))
      val (warm, _) = serve.closedLoop(Array.range(0, WarmupQueries).map(_ % s.gen.pool.length))
      s.put("setup_s", sessionS + loadS + secondsSince(t), "s")
      Serve.verify(s, warm, exact)
      log("server warm")
      val closed = s.gen.poolStream((seconds * MaxRate).toInt + 1, Gen.ClosedLoopStream)
      if (!traced) {
        val (os, qps) = serve.closedLoop(closed, seconds)
        val byQuarter = os.sortBy(_.index).grouped(math.max(1, os.length / 4)).take(4)
          .map(q => f"${Setup.median(Serve.latencies(q))}%.0f")
        log(f"closed loop: ${os.length} requests, $qps%.2f req/s, " +
          s"p50 by quarter ${byQuarter.mkString(" ")} ms")
        s.put("query_p50_ms", Setup.median(Serve.latencies(os)), "ms")
        s.put("query_qps", qps, "1/s")
        Serve.verify(s, os, exact)
        exact = null
        s.put("heap_live_mb", s.heapLiveMb(), "MB")
        s.put("disk_bytes_per_live_byte", s.diskRatio(c), "ratio")
        WarmupQueries + os.length
      } else {
        // the closed loop untraced, for as long as each phase after it; then
        // the open loop untraced, traced over HTTP, and replayed in-process
        // on the same schedule
        val (cap, _) = serve.closedLoop(closed, seconds / 3)
        val due = s.gen.schedule(ServeReadRate, seconds / 3)
        val qs = s.gen.poolStream(due.length, Gen.OpenLoopStream)
        val (plain, _) = serve.openLoop(due, qs, inProc = false)
        s.trace.start()
        val (http, late) = serve.openLoop(due, qs, inProc = false)
        val (replay, _) = serve.openLoop(due, qs, inProc = true)
        val all = cap ++ plain ++ http ++ replay
        s.put("rag.answer_grade", Serve.verify(s, all, exact), "grade")
        s.put("bench.trace_overhead_pct",
          (Setup.median(Serve.latencies(http)) / Setup.median(Serve.latencies(plain)) - 1) * 100, "%")
        s.put("bench.generator_late_ms_p95", Setup.percentile(late, 95), "ms")
        s.put("bench.conn_wait_ms_p95", Setup.percentile(http.map(_.waitNs / 1e6), 95), "ms")
        s.layerThroughput()
        WarmupQueries + all.length
      }
    } finally server.stop()
  }

  /** batch_index_qa: one driver thread runs, on the loaded corpus, a CDC
    * upsert, the IVF build (nlist 128), IVF probes (k=5, nprobe 10) on
    * unique questions, and evalBatch (hybrid retrieval, extractive answer,
    * judge) on unique questions. Fixed work: it does not use --seconds. */
  private def batchIndexQa(s: Setup, sessionS: Double, traced: Boolean): Int = {
    import s.spark.implicits._
    val (c, loadS) = s.load(SetupReps)
    s.put("setup_s", sessionS + loadS, "s")

    // CDC batches: each replaces 50 existing rows with re-embedded text
    val last = scala.collection.mutable.Map.empty[Long, String]
    (0 until UpsertBatches).foreach { i =>
      val batch = s.gen.upsertBatch(i)
      try {
        val (replaced, inserted) = s.trace.span("store.upsert")(
          c.upsert(s.embedded(batch.toSeq.toDF("id", "text"))))
        last ++= batch
        if (replaced != batch.length || inserted != 0)
          s.fail(s"upsert $i: replaced $replaced, inserted $inserted of ${batch.length} rows")
      } catch { case e: Exception => s.fail(s"upsert $i: $e") }
    }
    val rows = c.df.count()
    if (rows != s.gen.chunks.length)
      s.fail(s"after upserts the collection holds $rows rows, not ${s.gen.chunks.length}")
    val readBack = c.getByIds(last.keys.toSeq).select("id", "text").as[(Long, String)].collect().toMap
    last.filterNot { case (id, text) => readBack.get(id).contains(text) }.keys.take(5)
      .foreach(id => s.fail(s"id $id does not read back its last upserted text"))
    log("upserts done")

    val model = s.trace.span("store.build_ivf")(c.buildIvf(Nlist))
    log("IVF built")
    val known = s.gen.chunks.map(_._1).toSet
    val probes = s.gen.probeQuestions(IvfWarmup + IvfProbes + RecallQuestions)
    def probe(q: Question, req: Long): Double = {
      val p0 = System.nanoTime()
      val qv = s.trace.span("functions.embed_query", req)(TextEmbed.embedScala(q.text, Gen.Dim))
      if (s.trace.enabled) s.trace.span("vector.ivf_probe", req)(model.probe(qv, Nprobe))
      val got = s.trace.span("store.search_ivf", req)(
        c.searchIvf(qv, Serve.K, Nprobe).select("id").as[Long].collect().toSeq)
      if (got.length != Serve.K || !got.forall(known))
        s.fail(s"searchIvf '${q.text}': returned ${got.mkString(",")}")
      (System.nanoTime() - p0) / 1e6
    }
    // the first probes load the quantizer and compile the search path
    probes.take(IvfWarmup).foreach(probe(_, 0))
    val timed = probes.slice(IvfWarmup, IvfWarmup + IvfProbes).toSeq
    val lat = timed.zipWithIndex.map { case (q, i) => probe(q, i + 1L) }
    log(s"IVF probes: ${lat.map(x => f"$x%.0f").mkString(" ")} ms")
    if (traced) {
      val plain = s.trace.off(timed.map(probe(_, 0)))
      s.put("bench.trace_overhead_pct", (Setup.median(lat) / Setup.median(plain) - 1) * 100, "%")
    }
    log("IVF probes done")

    def qaOf(qs: Seq[Question]) = qs.zipWithIndex.map { case (q, i) => (i.toLong, q.text, q.expected) }
      .toDF("qid", "question", "expected_answer")
    def eval(qa: DataFrame, n: Int): Array[(Long, Double)] = {
      val graded = RagPipeline.evalBatch(qa, c.getAll(Seq("id", "vector", "text")), Serve.K, Gen.Dim)
        .select("qid", "grade").as[(Long, Double)].collect()
      if (graded.length != n || graded.map(_._1).distinct.length != n)
        s.fail(s"evalBatch: ${graded.length} rows for $n questions")
      graded
    }
    // evalBatch runs cold, as a batch job in a fresh process does
    val qa = qaOf(s.gen.evalQuestions(EvalQuestions).toSeq)
    val e0 = System.nanoTime()
    val graded = s.trace.span("rag.eval_batch")(eval(qa, EvalQuestions))
    val evalS = secondsSince(e0)
    log(f"evalBatch done: $evalS%.2f s")

    if (!traced) {
      s.put("query_p50_ms", Setup.median(lat), "ms")
      s.put("query_qps", IvfProbes / (lat.sum / 1e3), "1/s")
      s.put("heap_live_mb", s.heapLiveMb(), "MB")
      s.put("disk_bytes_per_live_byte", s.diskRatio(c), "ratio")
    } else {
      s.put("rag.answer_grade", graded.map(_._2).sum / math.max(1, graded.length), "grade")
      Layers.batch(s, c, qa, probes.drop(IvfWarmup + IvfProbes).toSeq,
        s.trace.off(s.exact(c)))
      s.layerThroughput()
    }
    UpsertBatches + IvfWarmup + IvfProbes + EvalQuestions
  }
}
