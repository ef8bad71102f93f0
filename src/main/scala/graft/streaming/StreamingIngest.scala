package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming ingestion (SURVEY.md §2.9 extension).
  *
  * The reference is batch-only; its only "incremental" behavior is the
  * insert-inside-loop bug (`scripts/prepare_data.py:79-95`). This module
  * is the pure extension SURVEY.md §2.9 sketches: the same event
  * aggregation semantics, expressed as a streaming query — Structured
  * Streaming's contract (streaming result ≡ batch result on the same
  * data) is exactly what the correctness oracle checks.
  *
  * Scale notes: the watermark bounds state; tumbling windows partition by
  * (window, event_type) so state is O(active windows × types), not O(rows).
  */
object StreamingIngest {

  /** events.parquet on-disk schema, taken from the batch footer so either
    * historical `ts` encoding (TIMESTAMP(NANOS) surfaced as raw long via
    * the legacy conf, or naive TIMESTAMP(MICROS) surfaced as NTZ) flows
    * into the schema-pinned readers; `graft.Events.normalize` then lifts
    * `ts` to the session-TZ TimestampType every consumer was written for.
    */
  def eventsRawSchema(spark: SparkSession, dir: String): StructType = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$dir/events.parquet").schema
  }

  /** Hourly event counts computed as a STREAMING query over the parquet
    * file (one micro-batch; complete mode), returned as a batch DataFrame.
    * Semantics identical to the batch date_trunc aggregation.
    */
  def hourlyEventCounts(outer: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(outer, dir)
    // FileStreamSource requires a DIRECTORY; eventStream's pathGlobFilter
    // selects just the events table out of the shared testdata dir.
    val stream = eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    runToTable(spark, stream, "complete")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n_events"))
  }

  /** State partition count, sized to the INPUT, not a constant: stateful
    * micro-batches pay a per-state-partition commit cost every batch, so
    * small inputs want few state stores (4 beat 8 by ~5% at sf0.1, where
    * commit overhead dominates sub-second queries; 2 regressed —
    * parallelism loss beats commit savings), while at sf1 (20 MB events,
    * 500k rows) the balance flips — compute dominates and 8 partitions
    * measured q52+q53+q59 13.5 → 12.0 s (16 regressed q52: more commits
    * again). One file-size probe decides; on a real cluster this knob is
    * sized to executor count the same way, and state is keyed, so
    * capacity scales with active keys either way.
    *
    * State-store provider: measured RocksDB vs the default HDFS-backed
    * store at sf0.1 / 8 partitions (q50+q52+q53+q59, min-of-2): 9.07 s vs
    * 7.05 s — re-measured at sf1 in r11 (22.3 vs 16.2 s): RocksDB's
    * per-batch instance open/commit overhead loses while state fits in
    * memory, so the default stays. RocksDB wins only once state outgrows
    * executor heap (its point at 100 TB); flip via
    * SPARK_GRAFT_EXTRA_CONF=spark.sql.streaming.stateStore.providerClass=
    * ...RocksDBStateStoreProvider when it does.
    */
  private def streamParts(dir: String): String =
    sys.env.getOrElse("SPARK_GRAFT_STREAM_PARTS", {
      // probe the STREAM SOURCES only (events for the event operators,
      // documents for the doc-stream packers) — a max over every table
      // in the dir would let a large BATCH table (sf0.1 lineitem,
      // 10.8 MB) flip the streaming family to 8 partitions at exactly
      // the scale where 4 measured best (r11 review finding)
      val bytes = Seq("events.parquet", "documents.parquet").map { f =>
        try java.nio.file.Files.size(java.nio.file.Paths.get(dir, f))
        catch { case _: java.io.IOException => 0L }
      }.max
      if (bytes >= 8L * 1024 * 1024) "8" else "4"
    })

  private def streamSession(spark: SparkSession, dir: String): SparkSession = {
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", streamParts(dir))
    // After the data batch, Spark runs an extra NO-DATA micro-batch when
    // the watermark advanced — it exists to flush watermark-gated
    // emissions (append-mode windowed aggs), but every operator here
    // emits in the data batch itself (complete-mode aggs; inner join and
    // within-watermark dedup emit immediately), so that batch is a full
    // round of state commits buying nothing. Disabling it halves the
    // per-query commit count (measured: q50+q52+q53+q59 7.2→6.3 s at
    // sf0.1; the rest of the time is state INSERT + source reads — see
    // SCALE.md's streaming-floor note). On an UNBOUNDED pipeline keep it
    // on if an append-mode agg must emit without waiting for the next
    // data batch.
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    s2 // nanosAsLong is set by whichever events reader runs first
       // (Events.load / eventsRawSchema) — harmless to set repeatedly
  }

  private def eventStream(spark: SparkSession, dir: String): DataFrame =
    eventStreamWithSchema(spark, dir, eventsRawSchema(spark, dir))

  /** Schema-probed variant: a two-source self-join (clickViewJoin) reads
    * the footer ONCE and shares it across both legs instead of planning
    * two batch footer reads per invocation (r11 review). */
  private def eventStreamWithSchema(spark: SparkSession, dir: String,
                                    schema: StructType): DataFrame =
    graft.Events.normalize(
      spark.readStream
        .schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(dir))

  private def runToTable(spark: SparkSession, df: DataFrame, mode: String): DataFrame = {
    val name = s"stream_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable()
    finally q.stop()
    spark.table(name)
  }

  /** documents.parquet schema for the doc-stream operators. */
  val DocsRawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming sequence packing (q132) — q126's range-sharded next-fit
    * packer run as a stateful stream: each (source, doc_id-range)
    * sub-shard's (bin, fill) cursor lives in GroupState, so new docs
    * pack onto the OPEN training sequence across micro-batches instead
    * of restarting per batch — the continuous-ingest shape of the batch
    * operator (state is O(1) per sub-shard, and sub-shards spread a
    * dominant source across tasks exactly like the batch path). Within
    * a micro-batch the group buffers and sorts by doc_id (a sub-shard's
    * slice of one batch fits an executor; file-source batches arrive in
    * order), exactly the per-shard sequential scan the batch packer
    * runs; shard-local bins re-base through the SAME
    * `CurationQueries.rebasePacked` the batch side uses, so streaming ≡
    * batch by construction and q126's recursive-CTE oracle checks this
    * operator unchanged. Cross-batch ordering is GUARDED, not assumed:
    * the state carries the last-packed doc_id and a batch whose minimum
    * falls at or below it fails loudly instead of packing a divergent
    * sequence (file-listing order makes this unreachable for the file
    * source; a reordering source surfaces here instead of corrupting
    * training sequences silently). */
  def streamingPack(outer: SparkSession, dir: String, cap: Long = 256L): DataFrame = {
    val spark = streamSession(outer, dir)
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val src = spark.readStream
      .schema(DocsRawSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("source"),
        expr(s"doc_id div ${graft.CurationQueries.PackRangeDocs}").as("range_id"),
        col("doc_id"),
        // NULL text packs as zero tokens — the q126 batch contract (r12)
        coalesce(size(split(col("text"), " ")).cast("long"), lit(0L)).as("n_tok"))
      .as[graft.CurationQueries.PackRIn]
    val packed = src.groupByKey(r => (r.source, r.range_id))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        packFn(cap))
      .toDF()
    graft.CurationQueries.rebasePacked(runToTable(spark, packed, "append"))
      .orderBy(col("source"), col("doc_id"))
  }

  /** q132's state function, factored out so specs can drive it through a
    * MemoryStream and check the (bin, fill) cursor survives batches and
    * the monotonicity guard trips on out-of-order arrival. State:
    * (bin, fill, started, lastDoc). */
  private[graft] def packFn(cap: Long): ((String, Long),
      Iterator[graft.CurationQueries.PackRIn],
      org.apache.spark.sql.streaming.GroupState[(Long, Long, Boolean, Long)]) =>
      Iterator[graft.CurationQueries.PackROut] =
    (key, batch, state) => {
      var (bin, fill, started, lastDoc) =
        state.getOption.getOrElse((0L, 0L, false, Long.MinValue))
      val rows = batch.toSeq.sortBy(_.doc_id)
      rows.headOption.filter(r => started && r.doc_id <= lastDoc).foreach { r =>
        throw new IllegalStateException(
          s"streamingPack: out-of-order doc_id ${r.doc_id} for shard $key " +
            s"(already packed through $lastDoc) — packing would diverge " +
            "from the batch recurrence")
      }
      val out = rows.map { r =>
        if (!started) { started = true; bin = 0L; fill = r.n_tok }
        else if (fill + r.n_tok > cap) { bin += 1; fill = r.n_tok }
        else fill += r.n_tok
        lastDoc = r.doc_id
        graft.CurationQueries.PackROut(key._1, key._2, r.doc_id, r.n_tok, bin, fill)
      }
      state.update((bin, fill, started, lastDoc))
      out.iterator
    }

  /** Streaming per-user top-k purchase values — the bounded TopK buffer
    * (`operators.TopK.insert`, the SAME primitive the batch Aggregator
    * folds with) held in GroupState across micro-batches, so streaming ≡
    * batch by construction and state is O(k) per user forever — the
    * leaderboard/alerting shape where a windowed sort would accrete
    * unbounded state. Each batch emits the group's current buffer with a
    * monotone sequence number; the caller keeps each user's last
    * emission (deterministic: file-source batches are ordered).
    * (Doc reattached in r11 — it had drifted onto DocsRawSchema.) */
  def streamingTopK(outer: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val spark = streamSession(outer, dir)
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val src = eventStream(spark, dir)
      // value IS NOT NULL is part of the contract (mirrored in the q108
      // oracle): an amount-less purchase can't rank, and a NULL cents
      // would kill the primitive-tuple deserialization mid-batch —
      // crashing the stream where the oracle quietly ranked the row
      // last (r11 review). NaN and out-of-cents-domain values are the
      // same contract (r12 hostile finding): CAST(round(NaN*100) AS
      // BIGINT) under ANSI kills the STREAM, the worst failure mode —
      // a crash loop on a poisoned event replayed from the checkpoint.
      .filter(col("event_type") === "purchase" && col("value").isNotNull &&
        !isnan(col("value")) && abs(col("value")) < 9e15)
      .select(col("user_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"), col("event_id"))
      .as[(Long, Long, Long)]
    val perBatch = src.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, batch: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, graft.operators.TopK.Buf)]) => {
          val (seq, cur) = state.getOption.getOrElse((0L, graft.operators.TopK.Buf(Nil)))
          val items = batch.foldLeft(cur.items) { (b, r) =>
            graft.operators.TopK.insert(k, b, (r._2.toDouble, r._3))
          }
          state.update((seq + 1, graft.operators.TopK.Buf(items)))
          Iterator.single((uid, seq + 1, items))
        })
      .toDF("user_id", "seq", "items")
    val all = runToTable(spark, perBatch, "append")
    // final answer = each user's last emission, exploded to ranked rows
    val wLast = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("seq").desc)
    all.withColumn("rn", row_number().over(wLast)).filter(col("rn") === 1)
      .select(col("user_id"), posexplode(col("items")).as(Seq("i", "item")))
      .select(col("user_id"), (col("i") + 1).cast("long").as("rnk"),
        (col("item._1") / lit(100.0)).as("price"),
        col("item._2").as("event_id"))
      .orderBy(col("user_id"), col("rnk"))
  }

  /** Stream-stream inner join: each click joined to every view by the
    * same user within the preceding 10 minutes. Watermarks on BOTH sides
    * plus the time-range predicate are what let Spark bound the join
    * state (a side's row can be dropped once the other side's watermark
    * passes its join window) — the shape that survives an unbounded
    * stream; an unconstrained stream-stream join would accrete state
    * forever.
    */
  def clickViewJoin(outer: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(outer, dir)
    val schema = eventsRawSchema(spark, dir) // ONE footer probe for both legs
    val clicks = eventStreamWithSchema(spark, dir, schema)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val views = eventStreamWithSchema(spark, dir, schema)
      .filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "1 hour")
    val joined = clicks.join(views,
      expr("c_user = v_user AND v_ts >= c_ts - INTERVAL 10 MINUTES AND v_ts <= c_ts"))
    runToTable(spark, joined, "append")
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"))
  }

  /** Streaming deduplication with watermark-bounded state
    * (dropDuplicatesWithinWatermark): first sighting of each
    * (user, hour, event_type) key survives. The key set IS the distinct
    * set — duplicates of an hour-bucketed key are at most an hour apart,
    * inside the watermark delay, so the within-watermark semantics are
    * exact here while state stays O(active keys), not O(stream).
    */
  def distinctUserHourType(outer: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(outer, dir)
    val keyed = eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("ts"))
      .dropDuplicatesWithinWatermark("user_id", "hour", "event_type")
    runToTable(spark, keyed, "append")
      .select(col("user_id"), col("hour"), col("event_type"))
  }

  /** Native session windows (session_window + watermark): dynamic-gap
    * windows merged by the streaming aggregation itself — state is one
    * in-flight window per active (user, session), closed and emitted once
    * the watermark passes the gap. The batch-equivalence oracle is the
    * gaps-and-islands formulation of the same 30-minute sessions.
    */
  def sessionWindows(outer: SparkSession, dir: String): DataFrame = {
    val spark = streamSession(outer, dir)
    val sessions = eventStream(spark, dir)
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    runToTable(spark, sessions, "complete")
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
        col("n_events"))
  }

  /** Incremental index build: a docs STREAM embeds and appends into a
    * Collection's parquet directory exactly once per micro-batch — the
    * reference's insert-inside-loop (`scripts/prepare_data.py:79-95`,
    * which re-inserted the whole growing list every iteration) done
    * right: the file-sink commit log gives exactly-once appends, and
    * `Collection.open(...).df`/search read only committed files.
    *
    * MANAGEMENT CONTRACT: the sink's _spark_metadata log makes the
    * directory streaming-managed — batch readers trust only the log, so
    * Collection.insert/delete/compact REFUSE such directories (they
    * would write invisible rows or destroy log-tracked files). To
    * convert, stop the stream and copy into a fresh collection.
    */
  def streamingInsert(docs: org.apache.spark.sql.DataFrame, textCol: String,
                      path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    graft.store.Collection.conformVector(
        graft.functions.TextEmbed.withEmbed(docs, textCol, "vector"))
      .writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .start()

  /** CDC-style streaming UPSERT into a MUTABLE collection. Contrast with
    * streamingInsert: the file-sink path appends fast but its
    * `_spark_metadata` log makes the directory stream-managed (batch
    * mutations refused forever); this path routes every micro-batch
    * through `Collection.upsert` inside foreachBatch — same-id rows
    * replace, new ids append, and the collection keeps its full batch
    * surface (delete/compact/clusterBy/buildIvf). A `buildIvf`'d
    * collection stays indexed: each batch's rows take the cell of their
    * nearest centroid, and the drift they cause shows in `ivfDrift`.
    * Exactly-once via the applied-batch-id marker + key-idempotent upsert
    * (`Collection.applyStreamBatch`). The collection must already exist.
    * At scale each batch pays one copy-on-write rewrite (the whole flat
    * collection, or only the cells it touches once indexed) — right for
    * CDC update streams; use streamingInsert for append-only firehoses.
    */
  def streamingUpsert(docs: org.apache.spark.sql.DataFrame, textCol: String,
                      root: String, name: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val sid = streamId(checkpoint)
    graft.functions.TextEmbed.withEmbed(docs, textCol, "vector")
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        graft.store.Collection.open(batch.sparkSession, root, name)
          .applyStreamBatch(batch, id, sid)
        ()
      }
      .start()
  }

  /** Stream identity for replay protection = the checkpoint path, hashed:
    * Structured Streaming numbers batches per CHECKPOINT, so batch ids
    * are only comparable within one checkpoint lineage. A restart with a
    * FRESH checkpoint renumbers from 0; without the identity beside the
    * marker, every batch below the old stream's high-water mark would be
    * silently discarded as a replay
    * (`Collection.applyStreamBatch` resets the horizon on a foreign id). */
  def streamId(checkpoint: String): String =
    java.util.UUID.nameUUIDFromBytes(
      checkpoint.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toString

  /** True streaming stateful operator (flatMapGroupsWithState): per-user
    * running event counts maintained in GroupState across micro-batches,
    * emitted on every update. The custom-state shape SURVEY.md §2.9
    * sketches for incremental ingestion.
    */
  def runningUserCounts(spark: SparkSession,
                        events: org.apache.spark.sql.Dataset[(Long, Long)]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val counted = events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (uid: Long, batch: Iterator[(Long, Long)], state: GroupState[Long]) => {
          val prev = state.getOption.getOrElse(0L)
          val now = prev + batch.size
          state.update(now)
          Iterator((uid, now))
        })
      .toDF("user_id", "n_events")
    counted
  }

  /** Typed stateful aggregation over KeyValueGroupedDataset: per-user
    * event count + session count (sessions split on gaps > gapMinutes).
    * Deterministic: timestamps are sorted inside the group.
    */
  def userSessions(spark: SparkSession, dir: String, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapUs = gapMinutes * 60L * 1000L * 1000L
    graft.Events.load(spark, dir)
      // a NULL key can't sessionize and a NULL event time can't order —
      // either would kill the primitive-tuple encoder, not the row (r12)
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), unix_micros(col("ts")))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroups { (uid, it) =>
        val ts = it.map(_._2).toArray.sorted
        val sessions = 1 + ts.iterator.sliding(2).withPartial(false)
          .count(w => w(1) - w(0) > gapUs)
        (uid, ts.length.toLong, sessions.toLong)
      }
      .toDF("user_id", "n_events", "n_sessions")
      .orderBy("user_id")
  }
}
