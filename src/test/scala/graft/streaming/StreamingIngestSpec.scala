package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StreamingIngestSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("streaming hourly counts ≡ batch date_trunc aggregation") {
    val streamed = StreamingIngest.hourlyEventCounts(spark, sf)
    val batch = graft.Events.load(spark, sf)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("flatMapGroupsWithState: state accumulates across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val out = StreamingIngest.runningUserCounts(spark, input.toDS())
    val name = s"running_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      input.addData((1L, 10L), (1L, 11L), (2L, 20L))
      q.processAllAvailable()
      input.addData((1L, 12L)) // second micro-batch: state must carry over
      q.processAllAvailable()
      val rows = spark.table(name).as[(Long, Long)].collect().toSeq
      assert(rows.contains((1L, 2L)))   // after batch 1
      assert(rows.contains((2L, 1L)))
      assert(rows.contains((1L, 3L)))   // state persisted into batch 2
    } finally q.stop()
  }

  test("streaming pack ≡ batch q126 on the same corpus") {
    val streamed = StreamingIngest.streamingPack(spark, sf)
    val batch = graft.SparkEntry.queries("q126_seq_pack")(spark, sf)
    assert(streamed.count() > 0)
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming pack: the (bin, fill) cursor survives micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    import graft.CurationQueries.{PackRIn, PackROut}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[PackRIn]
    val out = input.toDS().groupByKey(r => (r.source, r.range_id))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        StreamingIngest.packFn(cap = 100L))
    val name = s"pack_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      input.addData(PackRIn("a", 0L, 1L, 60L), PackRIn("a", 0L, 2L, 30L))
      q.processAllAvailable()
      // batch 2: 20 still fits the open bin (fill 90 → overflow), then 90 opens bin 1
      input.addData(PackRIn("a", 0L, 3L, 20L), PackRIn("a", 0L, 4L, 90L))
      q.processAllAvailable()
      val rows = spark.table(name).as[PackROut].collect().sortBy(_.doc_id).toSeq
      assert(rows === Seq(
        PackROut("a", 0L, 1L, 60L, 0L, 60L),
        PackROut("a", 0L, 2L, 30L, 0L, 90L),
        PackROut("a", 0L, 3L, 20L, 1L, 20L),  // 90 + 20 > 100 → new bin
        PackROut("a", 0L, 4L, 90L, 2L, 90L)), // 20 + 90 > 100 → new bin again
        s"got $rows")
    } finally q.stop()
  }

  test("streaming pack: out-of-order arrival fails loudly instead of diverging") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    import spark.implicits._
    import graft.CurationQueries.PackRIn
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[PackRIn]
    val out = input.toDS().groupByKey(r => (r.source, r.range_id))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        StreamingIngest.packFn(cap = 100L))
    val name = s"packguard_${System.nanoTime()}"
    val q = out.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      input.addData(PackRIn("a", 0L, 5L, 60L))
      q.processAllAvailable()
      // doc 3 arrives AFTER doc 5 was packed — the batch-equivalence
      // guarantee is gone, so the guard must trip, not silently pack
      input.addData(PackRIn("a", 0L, 3L, 20L))
      val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(ex).exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains("out-of-order")), s"unexpected failure chain: $ex")
    } finally q.stop()
  }

  test("stream-stream join emits matches when sides arrive in different batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // (user, event_id, epoch_seconds)
    val clicksIn = MemoryStream[(Long, Long, Long)]
    val viewsIn = MemoryStream[(Long, Long, Long)]
    val clicks = clicksIn.toDF().toDF("c_user", "click_id", "sec")
      .withColumn("c_ts", timestamp_seconds(col("sec"))).drop("sec")
      .withWatermark("c_ts", "1 hour")
    val views = viewsIn.toDF().toDF("v_user", "view_id", "sec")
      .withColumn("v_ts", timestamp_seconds(col("sec"))).drop("sec")
      .withWatermark("v_ts", "1 hour")
    val joined = clicks.join(views,
      expr("c_user = v_user AND v_ts >= c_ts - INTERVAL 10 MINUTES AND v_ts <= c_ts"))
      .select(col("c_user"), col("click_id"), col("view_id"))
    val name = s"ssj_${System.nanoTime()}"
    val q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try {
      val t0 = 1700000000L
      clicksIn.addData((1L, 100L, t0 + 300)) // click at t0+5min
      q.processAllAvailable()
      // the matching view arrives a batch LATER: the click must still be
      // buffered in join state (watermark hasn't passed its window)
      viewsIn.addData((1L, 200L, t0), (1L, 201L, t0 + 3600)) // in-window, out-of-window
      q.processAllAvailable()
      val rows = spark.table(name).as[(Long, Long, Long)].collect().toSeq
      assert(rows === Seq((1L, 100L, 200L)))
    } finally q.stop()
  }

  test("streaming distinct keys ≡ batch SELECT DISTINCT") {
    val streamed = StreamingIngest.distinctUserHourType(spark, sf)
    val batch = graft.Events.load(spark, sf)
      .select(col("user_id"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type")).distinct()
    assert(streamed.count() === batch.count())
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
  }

  test("streaming insert: embeds accumulate across micro-batches, search works") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("id", "text")
    val q = StreamingIngest.streamingInsert(
      docs, "text", s"$root/c_stream", s"$root/ckpt")
    try {
      input.addData((0L, "spark window aggregation"), (1L, "quick brown fox"))
      q.processAllAvailable()
      val c = graft.store.Collection.open(spark, root, "c_stream")
      assert(c.df.count() === 2)
      input.addData((2L, "vector cosine search engine"))
      q.processAllAvailable()
      assert(c.df.count() === 3) // append, not rewrite: batch 1 rows intact
      val top = c.search(
        graft.functions.TextEmbed.embedScala("vector cosine search"), 1).head()
      assert(top.getAs[Long]("id") === 2L)
      // a streaming-managed directory (sink _spark_metadata log) must
      // refuse batch mutations: appended files would be invisible to
      // log-trusting readers, rewrites would destroy log-tracked files
      intercept[IllegalArgumentException] {
        c.insert(Seq((9L, Array(0.1f), "x")).toDF("id", "vector", "text"))
      }
      intercept[IllegalArgumentException] { c.delete("id = 0") }
      intercept[IllegalArgumentException] { c.compact() }
      assert(c.df.count() === 3) // nothing was touched
    } finally q.stop()
  }

  test("streaming upsert: micro-batches replace by key, replays are no-ops, collection stays mutable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-upsink").toString
    val c = graft.store.Collection.create(spark, root, "c_up",
      graft.functions.TextEmbed.DefaultDim, overwrite = true)
    val input = MemoryStream[(Long, String)]
    val q = StreamingIngest.streamingUpsert(
      input.toDF().toDF("id", "text"), "text", root, "c_up", s"$root/ckpt")
    try {
      input.addData((0L, "first version of doc zero"), (1L, "doc one"))
      q.processAllAvailable()
      assert(c.df.count() === 2)
      // same key in a later batch REPLACES (CDC update), new key appends
      input.addData((0L, "second version of doc zero"), (2L, "doc two"))
      q.processAllAvailable()
      assert(c.df.count() === 3)
      val v0 = c.df.filter($"id" === 0L).select("text").as[String].head()
      assert(v0 === "second version of doc zero")
      // replaying an already-applied batch id WITHIN the same stream
      // lineage is a no-op (foreachBatch is at-least-once; the
      // identity-scoped marker makes the effect exactly-once)
      val sid = StreamingIngest.streamId(s"$root/ckpt")
      val replay = Seq((7L, Array.fill(graft.functions.TextEmbed.DefaultDim)(0.1f), "ghost"))
        .toDF("id", "vector", "text")
      assert(!c.applyStreamBatch(replay, batchId = 0L, sid))
      assert(c.df.count() === 3)
      assert(c.df.filter($"id" === 7L).isEmpty)
      // and a genuinely new batch id applies
      assert(c.applyStreamBatch(replay, batchId = 99L, sid))
      assert(c.df.count() === 4)
      // a RESTART with a FRESH checkpoint renumbers batches from 0: its
      // batch 0 is NEW DATA, not a replay — a bare high-water mark would
      // silently discard it (id 0 ≤ 99); the stream identity must not
      val fresh = Seq((8L, Array.fill(graft.functions.TextEmbed.DefaultDim)(0.2f), "fresh"))
        .toDF("id", "vector", "text")
      assert(c.applyStreamBatch(fresh, batchId = 0L,
        StreamingIngest.streamId(s"$root/ckpt2")))
      assert(c.df.filter($"id" === 8L).count() === 1)
      // an unparsable marker (crash artifact / manual edit) must not
      // wedge the stream: horizon resets to -1 and the batch applies
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$root/c_up/_stream_batch"), Array.empty[Byte])
      val again = Seq((9L, Array.fill(graft.functions.TextEmbed.DefaultDim)(0.3f), "again"))
        .toDF("id", "vector", "text")
      assert(c.applyStreamBatch(again, batchId = 0L, sid))
      assert(c.df.filter($"id" === 9L).count() === 1)
      // unlike the file-sink path, the collection keeps its batch
      // surface: no _spark_metadata, mutations allowed
      assert(c.delete("id = 7") === 1L)
      assert(c.df.count() === 5) // {0, 1, 2} ∪ {8, 9}
      // an IVF index survives the stream: later micro-batches upsert into
      // their cells, and a full probe answers exactly like `search`
      c.buildIvf(nlist = 2, rounds = 2)
      input.addData((1L, "doc one revised"), (3L, "doc three"))
      q.processAllAvailable()
      assert(c.df.count() === 6)
      val qv = graft.functions.TextEmbed.embedScala("doc three")
      def ids(d: org.apache.spark.sql.DataFrame) = d.select("id").as[Long].collect().toSeq
      assert(ids(c.searchIvf(qv, k = 6, nprobe = 2)) === ids(c.search(qv, k = 6)))
    } finally q.stop()
  }

  test("session_window boundary: an exactly-30-minute gap MERGES; only > 30 min breaks") {
    // Pins the cross-engine contract q59 relies on: Spark merges sessions
    // whose windows touch ([t, t+30m] ∪ [t+30m, t+60m] → one session), so a
    // session breaks only when the gap is STRICTLY greater than the gap
    // duration — exactly the oracle's `epoch_us delta > 1800000000`. If a
    // Spark upgrade flips this to end-exclusive merging, this test fails
    // before the oracle silently diverges on an exact-gap event pair.
    import spark.implicits._
    val df = Seq(
      (1L, 0L), (1L, 1800L),  // exactly 30:00.000 apart → same session
      (2L, 0L), (2L, 1801L),  // 30:01 apart → two sessions
      (3L, 0L), (3L, 1799L))  // 29:59 apart → same session
      .toDF("user_id", "sec").withColumn("ts", timestamp_seconds(col("sec")))
    val out = df.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("n"),
        unix_timestamp(col("session_window.end")).as("end_sec"))
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(out === Seq(
      (1L, 2L, 1800L + 1800L), // merged; end = last event + gap
      (2L, 1L, 1800L), (2L, 1L, 1801L + 1800L),
      (3L, 2L, 1799L + 1800L)))
  }

  test("typed stateful sessions: counts match groupBy, sessions ≥ 1") {
    val got = StreamingIngest.userSessions(spark, sf)
    val counts = graft.Events.load(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("expected"))
    val joined = got.join(counts, "user_id")
    assert(joined.filter(col("n_events") =!= col("expected")).count() === 0)
    assert(got.filter(col("n_sessions") < 1 || col("n_sessions") > col("n_events")).count() === 0)
  }
}
