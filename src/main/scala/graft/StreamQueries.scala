package graft

import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.streaming.StreamingIngest

/** Streaming + typed-stateful + multimodal operator coverage.
  *
  * q50 runs an actual Structured Streaming query (memory sink, complete
  * mode) and is oracle-checked against plain SQL — Structured Streaming's
  * batch-equivalence contract makes that a meaningful check, not a
  * tautology. q51 exercises KeyValueGroupedDataset.mapGroups (typed
  * stateful shape). q60 exercises the multimodal binary plumbing (decode
  * stub → rows-only check).
  */
object StreamQueries {

  val defs: Seq[QueryDef] = Seq(

    QueryDef("q50_stream_hourly",
      (s, dir) => StreamingIngest.hourlyEventCounts(s, dir)
        .orderBy(col("hour"), col("event_type")),
      Some("""
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
               count(*) AS n_events
        FROM events GROUP BY 1, 2 ORDER BY hour, event_type""")),

    QueryDef("q51_user_sessions",
      (s, dir) => StreamingIngest.userSessions(s, dir, gapMinutes = 30),
      Some("""
        WITH g AS (
          SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
          FROM events)
        SELECT user_id, count(*) AS n_events,
               CAST(1 + sum(CASE WHEN prev IS NOT NULL AND ts - prev > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
        FROM g GROUP BY user_id ORDER BY user_id""")),

    // ── q108: streaming stateful top-k — the TopK bounded buffer
    //   (q100's batch Aggregator primitive) as GroupState: per-user best
    //   purchase values maintained in O(k) state across micro-batches,
    //   the leaderboard/alerting shape where a windowed sort would
    //   accrete unbounded state. Oracle = the batch window formulation
    //   (Structured Streaming's batch-equivalence contract, like q50). ──
    QueryDef("q108_stream_topk",
      (s, dir) => StreamingIngest.streamingTopK(s, dir, k = 3),
      Some("""
        WITH c AS (SELECT user_id, event_id,
                          CAST(round(value * 100) AS BIGINT) AS cents
                   FROM events
                   WHERE event_type = 'purchase' AND value IS NOT NULL
                     AND NOT isnan(value) AND abs(value) < 9e15),
        ranked AS (
          SELECT user_id, event_id, cents,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY cents DESC, event_id ASC) AS rnk
          FROM c)
        SELECT user_id, CAST(rnk AS BIGINT) AS rnk,
               CAST(cents AS DOUBLE) / 100.0 AS price, event_id
        FROM ranked WHERE rnk <= 3 ORDER BY user_id, rnk""")),

    // ── q132: STREAMING sequence packing — q126's range-sharded
    //   next-fit packer as a stateful stream (flatMapGroupsWithState;
    //   the (bin, fill) cursor per (source, range) sub-shard survives
    //   micro-batches, so arriving docs pack onto the open training
    //   sequence instead of restarting; out-of-order arrival trips a
    //   loud guard instead of diverging). Checked against the SAME
    //   recursive-CTE oracle STRING as the batch operator
    //   (`CurationQueries.SeqPackOracleSql`): Structured Streaming's
    //   batch-equivalence contract, made literal. ──
    QueryDef("q132_stream_pack",
      (s, dir) => StreamingIngest.streamingPack(s, dir),
      Some(graft.CurationQueries.SeqPackOracleSql)),

    // ── q52: stream-stream inner join (watermarks both sides + time-range
    //   predicate bound the state); every click × its same-user views in
    //   the preceding 10 minutes. Checked against the batch interval join
    //   (Structured Streaming's batch-equivalence contract). ──
    QueryDef("q52_stream_join",
      (s, dir) => StreamingIngest.clickViewJoin(s, dir)
        .orderBy(col("user_id"), col("click_id"), col("view_id")),
      Some("""
        SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id
        FROM events c JOIN events v
          ON c.user_id = v.user_id
         AND c.event_type = 'click' AND v.event_type = 'view'
         AND v.ts >= c.ts - INTERVAL 10 MINUTE AND v.ts <= c.ts
        ORDER BY c.user_id, click_id, view_id""")),

    // ── q53: streaming dedup, watermark-bounded state
    //   (dropDuplicatesWithinWatermark) — the surviving key set is the
    //   DISTINCT set, which is what the oracle checks. ──
    QueryDef("q53_stream_dedup",
      (s, dir) => StreamingIngest.distinctUserHourType(s, dir)
        .orderBy(col("user_id"), col("hour"), col("event_type")),
      Some("""
        SELECT DISTINCT user_id,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type
        FROM events ORDER BY user_id, hour, event_type""")),

    // ── q59: native session_window streaming aggregation — the engine
    //   merges dynamic-gap windows in state (vs q34's batch islands and
    //   q51's typed mapGroups). window.end = last event + gap, which the
    //   oracle reproduces as max(ts) + INTERVAL 30 MINUTE. ──
    QueryDef("q59_session_window",
      (s, dir) => StreamingIngest.sessionWindows(s, dir)
        .orderBy(col("user_id"), col("sess_start")),
      Some("""
        WITH flagged AS (
          SELECT user_id, ts,
                 CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                        OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS is_new
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessions AS (
          SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                       ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM flagged)
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
               strftime(max(ts) + INTERVAL 30 MINUTE, '%Y-%m-%d %H:%M:%S') AS sess_end,
               count(*) AS n_events
        FROM sessions GROUP BY user_id, sess_id
        ORDER BY user_id, sess_start""")),

    // The decode STUB is deterministic byte arithmetic, so the oracle can
    // replay it from the source text (ASCII ⇒ byte i = code point i):
    // the stub boundary is checked exactly, not just rows>0 — swap in a
    // real decoder and this oracle is the one thing you'd retire.
    // NOTE the equivalence holds because the corpus is verified all-ASCII
    // and non-empty: the stub histograms UTF-8 BYTES of the payload while
    // the SQL counts CODEPOINTS of the text — identical only for ASCII.
    QueryDef("q60_multimodal",
      (s, dir) => {
        val media = Multimodal.fakeMediaFromDocs(s, dir)
        Multimodal.decode(media, "payload", "media_type")
          .groupBy(col("media_type"))
          .agg(count(lit(1)).as("n"),
               round(avg(col("meta.width")), 4).as("avg_width"),
               sum(col("meta.n_frames")).as("total_frames"),
               round(avg(element_at(col("features"), 1)), 6).as("avg_bin0"))
          .orderBy(col("media_type"))
      },
      Some("""
        WITH m AS (
          SELECT doc_id, text,
                 ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS media_type,
                 length(text) AS len
          FROM documents),
        per AS (
          SELECT media_type,
                 64 + len % 64 AS width,
                 CASE WHEN media_type = 'video' THEN 1 + len // 256 ELSE 1 END AS n_frames,
                 CAST(list_sum(list_transform(range(1, len + 1),
                      j -> CASE WHEN unicode(substr(text, CAST(j AS INT), 1)) < 16
                           THEN 1 ELSE 0 END)) AS DOUBLE) / len AS bin0
          FROM m)
        SELECT media_type, count(*) AS n, round(avg(width), 4) AS avg_width,
               CAST(sum(n_frames) AS BIGINT) AS total_frames,
               round(avg(bin0), 6) AS avg_bin0
        FROM per GROUP BY media_type ORDER BY media_type""")),

    // ── q79: REAL PNG decode through the multimodal pipeline. Each doc
    //   derives deterministic pixels (doc_id·31 + i·7 mod 256) at varying
    //   dims and channel counts (gray / gray+alpha / RGB / RGBA), encodes
    //   them as an actual PNG (zlib IDAT; the encoder cycles all five
    //   scanline filters), and Multimodal.decode parses it back with
    //   SimplePng — real inflate + defilter, no stub. Output = decoded
    //   IHDR dims + 16-bin pixel histogram. The oracle recomputes the
    //   same arithmetic from first principles, so a decoder that misreads
    //   dims, drops a filter case, or corrupts a byte hash-mismatches.
    //   decode(encode(x)) = x is the strongest oracle-expressible check
    //   of a binary codec. ──
    QueryDef("q79_png_decode",
      (s, dir) => {
        val mkPng = udf { (docId: Long, w: Int, h: Int, ch: Int) =>
          val px = Array.tabulate(w * h * ch)(i => ((docId * 31 + i * 7) % 256).toByte)
          graft.operators.SimplePng.encode(graft.operators.SimplePng.Image(w, h, ch, px))
        }
        val media = Par(s.read.parquet(s"$dir/documents.parquet"))
          .select(col("doc_id"),
            (lit(4) + col("doc_id") % 5).cast("int").as("w"),
            (lit(4) + col("doc_id") % 3).cast("int").as("h"),
            (lit(1) + col("doc_id") % 4).cast("int").as("ch"))
          .withColumn("payload", mkPng(col("doc_id"), col("w"), col("h"), col("ch")))
          .withColumn("media_type", lit("image"))
          .select("doc_id", "payload", "media_type")
        Multimodal.decode(media, "payload", "media_type")
          .select(col("doc_id"),
            col("meta.width").cast("long").as("width"),
            col("meta.height").cast("long").as("height"),
            posexplode(col("features")))
          .select(col("doc_id"), col("width"), col("height"),
            col("pos").cast("long").as("bin"),
            round(col("col"), 6).as("frac"))
          .orderBy(col("doc_id"), col("bin"))
      },
      Some("""
        WITH p AS (
          SELECT doc_id, 4 + doc_id % 5 AS w, 4 + doc_id % 3 AS h,
                 1 + doc_id % 4 AS ch
          FROM documents),
        cnt AS (
          SELECT p.doc_id, ((p.doc_id * 31 + t.i * 7) % 256) // 16 AS bin,
                 count(*) AS c
          FROM p, unnest(range(0, p.w * p.h * p.ch)) AS t(i)
          GROUP BY 1, 2),
        bins AS (
          SELECT p.doc_id, p.w, p.h, p.ch, b.bin
          FROM p, unnest(range(0, 16)) AS b(bin))
        SELECT bins.doc_id, bins.w AS width, bins.h AS height, bins.bin,
               round(COALESCE(cnt.c, 0)::DOUBLE / (bins.w * bins.h * bins.ch), 6) AS frac
        FROM bins LEFT JOIN cnt ON bins.doc_id = cnt.doc_id AND bins.bin = cnt.bin
        ORDER BY bins.doc_id, bins.bin""")),

    // ── q80: REAL WAV (RIFF/PCM) decode through the multimodal pipeline —
    //   the audio twin of q79. Each doc derives a deterministic 16-bit
    //   PCM signal (unsigned sample i = (doc_id·37 + i·11) mod 65536,
    //   stored signed) at varying rate / channel count / length, encodes
    //   it as an actual WAV container (RIFF chunks, little-endian, fmt +
    //   data), and Multimodal.decode parses it back with SimpleWav — real
    //   chunk scan + PCM sample decode, no stub. Output = decoded meta
    //   (rate, channels, frames, integer-exact duration) + the 16-bin
    //   amplitude histogram (bin = unsigned16 >> 12). The oracle
    //   recomputes the same arithmetic from first principles, so a
    //   decoder that misreads the fmt chunk, drops frames, or flips
    //   endianness hash-mismatches. ──
    QueryDef("q80_wav_decode",
      (s, dir) => {
        val mkWav = udf { (docId: Long, rate: Int, ch: Int, frames: Int) =>
          val samples = Array.tabulate(frames * ch)(i =>
            (((docId * 37 + i * 11) % 65536) - 32768).toInt)
          graft.operators.SimpleWav.encode(
            graft.operators.SimpleWav.Audio(rate, ch, 16, samples))
        }
        val media = Par(s.read.parquet(s"$dir/documents.parquet"))
          .select(col("doc_id"),
            (lit(8000) + (col("doc_id") % 3) * 4000).cast("int").as("rate"),
            (lit(1) + col("doc_id") % 2).cast("int").as("ch"),
            (lit(16) + col("doc_id") % 33).cast("int").as("frames"))
          .withColumn("payload", mkWav(col("doc_id"), col("rate"), col("ch"), col("frames")))
          .withColumn("media_type", lit("audio"))
          .select("doc_id", "payload", "media_type")
        Multimodal.decode(media, "payload", "media_type")
          .select(col("doc_id"),
            col("meta.width").cast("long").as("sample_rate"),
            col("meta.height").cast("long").as("channels"),
            col("meta.n_frames").cast("long").as("n_frames"),
            (col("meta.n_frames").cast("long") * 1000 / col("meta.width").cast("long"))
              .cast("long").as("duration_ms"),
            posexplode(col("features")))
          .select(col("doc_id"), col("sample_rate"), col("channels"),
            col("n_frames"), col("duration_ms"),
            col("pos").cast("long").as("bin"),
            round(col("col"), 6).as("frac"))
          .orderBy(col("doc_id"), col("bin"))
      },
      Some("""
        WITH p AS (
          SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS rate,
                 1 + doc_id % 2 AS ch, 16 + doc_id % 33 AS frames
          FROM documents),
        cnt AS (
          SELECT p.doc_id, ((p.doc_id * 37 + t.i * 11) % 65536) // 4096 AS bin,
                 count(*) AS c
          FROM p, unnest(range(0, p.frames * p.ch)) AS t(i)
          GROUP BY 1, 2),
        bins AS (
          SELECT p.doc_id, p.rate, p.ch, p.frames, b.bin
          FROM p, unnest(range(0, 16)) AS b(bin))
        SELECT bins.doc_id, bins.rate AS sample_rate, bins.ch AS channels,
               bins.frames AS n_frames,
               bins.frames * 1000 // bins.rate AS duration_ms, bins.bin,
               round(COALESCE(cnt.c, 0)::DOUBLE / (bins.frames * bins.ch), 6) AS frac
        FROM bins LEFT JOIN cnt ON bins.doc_id = cnt.doc_id AND bins.bin = cnt.bin
        ORDER BY bins.doc_id, bins.bin""")),

    // ── q84: REAL animated-GIF decode through the multimodal pipeline —
    //   the video leg, completing q79 (image) and q80 (audio). Each doc
    //   derives per-frame palette indices ((doc_id·13 + f·5 + i·3) mod 4)
    //   at varying dims and frame counts, encodes them as an actual
    //   animated GIF (global color table, per-frame graphics-control
    //   extensions, LZW image data), and Multimodal.decode parses it back
    //   with SimpleGif — real LZW decompression + palette-luminance
    //   mapping, no stub. The 4-entry gray palette is built so color k's
    //   luminance lands exactly in histogram bin k, making the 16-bin
    //   feature histogram a direct count of decoded palette indices the
    //   oracle recomputes from first principles. A decoder that misreads
    //   the screen descriptor, drops a frame, or corrupts one LZW code
    //   hash-mismatches. ──
    QueryDef("q84_gif_decode",
      (s, dir) => {
        val mkGif = udf { (docId: Long, w: Int, h: Int, nf: Int) =>
          val palette = Array(0x080808, 0x181818, 0x282828, 0x383838) // lum = 8,24,40,56 → bins 0-3
          val frames = (0 until nf).map(f =>
            Array.tabulate(w * h)(i => ((docId * 13 + f * 5 + i * 3) % 4).toByte))
          graft.operators.SimpleGif.encode(w, h, palette, frames)
        }
        val media = Par(s.read.parquet(s"$dir/documents.parquet"))
          .select(col("doc_id"),
            (lit(4) + col("doc_id") % 4).cast("int").as("w"),
            (lit(3) + col("doc_id") % 3).cast("int").as("h"),
            (lit(2) + col("doc_id") % 3).cast("int").as("nf"))
          .withColumn("payload", mkGif(col("doc_id"), col("w"), col("h"), col("nf")))
          .withColumn("media_type", lit("video"))
          .select("doc_id", "payload", "media_type")
        Multimodal.decode(media, "payload", "media_type")
          .select(col("doc_id"),
            col("meta.width").cast("long").as("width"),
            col("meta.height").cast("long").as("height"),
            col("meta.n_frames").cast("long").as("n_frames"),
            posexplode(col("features")))
          .select(col("doc_id"), col("width"), col("height"), col("n_frames"),
            col("pos").cast("long").as("bin"),
            round(col("col"), 6).as("frac"))
          .orderBy(col("doc_id"), col("bin"))
      },
      Some("""
        WITH p AS (
          SELECT doc_id, 4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
                 2 + doc_id % 3 AS nf
          FROM documents),
        cnt AS (
          SELECT p.doc_id, (p.doc_id * 13 + f.f * 5 + t.i * 3) % 4 AS bin,
                 count(*) AS c
          FROM p, unnest(range(0, p.nf)) AS f(f),
               unnest(range(0, p.w * p.h)) AS t(i)
          GROUP BY 1, 2),
        bins AS (
          SELECT p.doc_id, p.w, p.h, p.nf, b.bin
          FROM p, unnest(range(0, 16)) AS b(bin))
        SELECT bins.doc_id, bins.w AS width, bins.h AS height,
               bins.nf AS n_frames, bins.bin,
               round(COALESCE(cnt.c, 0)::DOUBLE / (bins.nf * bins.w * bins.h), 6) AS frac
        FROM bins LEFT JOIN cnt ON bins.doc_id = cnt.doc_id AND bins.bin = cnt.bin
        ORDER BY bins.doc_id, bins.bin""")),

    // ── q124: frame SAMPLING over the real GIF decoder — the video-leg
    //   operator a curation pipeline runs after decode: keep every 2nd
    //   frame, reduce each sampled frame to an integer-exact luma sum,
    //   and flag scene changes as the absolute delta between consecutive
    //   sampled frames (the keyframe-selection primitive). The engine
    //   decodes ACTUAL animated GIFs (SimpleGif LZW) and sums decoded
    //   frame luminance; the oracle recomputes the sums from the palette
    //   formula (lum of color k = 8+16k) without ever seeing a GIF — a
    //   decoder that drops, reorders, or corrupts any frame mismatches.
    //   Per-row map + one doc-keyed window; the full-frame stream never
    //   shuffles, only the sampled (doc, frame, sum) rows do. ──
    QueryDef("q124_frame_sample",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val mkGif = udf { (docId: Long, w: Int, h: Int, nf: Int) =>
          val palette = Array(0x080808, 0x181818, 0x282828, 0x383838)
          val frames = (0 until nf).map(f =>
            Array.tabulate(w * h)(i => ((docId * 13 + f * 5 + i * 3) % 4).toByte))
          graft.operators.SimpleGif.encode(w, h, palette, frames)
        }
        // asNondeterministic is a PLANNER fence, not a semantics claim:
        // the posexplode below made InferFiltersFromGenerate clone this
        // whole encode+decode chain into a pre-Generate Filter
        // (size(UDF(UDF(...))) > 0 AND isnotnull(...)), tripling the GIF
        // work per row — the r10 "honest 4x" family tail was mostly this
        // (sf1 q124 5.4 -> 1.6 s isolated after the fence). Catalyst
        // never duplicates or reorders non-deterministic expressions, so
        // the decode runs exactly once per row.
        val lumSums = udf { (payload: Array[Byte]) =>
          graft.operators.SimpleGif.decode(payload)
            .map(_.frames.map(fr => fr.lum.map(b => (b & 0xff).toLong).sum))
            .orNull
        }.asNondeterministic()
        val w = Window.partitionBy(col("doc_id")).orderBy(col("frame"))
        Par(s.read.parquet(s"$dir/documents.parquet"))
          .select(col("doc_id"),
            (lit(4) + col("doc_id") % 4).cast("int").as("w"),
            (lit(3) + col("doc_id") % 3).cast("int").as("h"),
            (lit(4) + col("doc_id") % 5).cast("int").as("nf"))
          .withColumn("sums", lumSums(mkGif(col("doc_id"), col("w"), col("h"), col("nf"))))
          .select(col("doc_id"), posexplode(col("sums")))
          .withColumnRenamed("pos", "frame").withColumnRenamed("col", "lum_sum")
          .filter(col("frame") % 2 === 0) // the sample: every 2nd frame
          .withColumn("frame", col("frame").cast("long"))
          .withColumn("delta", abs(col("lum_sum") - lag(col("lum_sum"), 1).over(w)))
          .select(col("doc_id"), col("frame"), col("lum_sum"), col("delta"))
          .orderBy(col("doc_id"), col("frame"))
      },
      Some("""
        WITH p AS (
          SELECT doc_id, 4 + doc_id % 4 AS w, 3 + doc_id % 3 AS h,
                 4 + doc_id % 5 AS nf
          FROM documents),
        fs AS (
          SELECT p.doc_id, CAST(f.f AS BIGINT) AS frame,
                 CAST(list_sum(list_transform(range(0, p.w * p.h),
                   i -> 8 + 16 * ((p.doc_id * 13 + f.f * 5 + i * 3) % 4)))
                   AS BIGINT) AS lum_sum
          FROM p, unnest(range(0, p.nf)) AS f(f)
          WHERE f.f % 2 = 0)
        SELECT doc_id, frame, lum_sum,
               abs(lum_sum - lag(lum_sum) OVER (PARTITION BY doc_id
                 ORDER BY frame)) AS delta
        FROM fs ORDER BY doc_id, frame""")),

    // ── q89: REAL JPEG decode through the multimodal pipeline — the
    //   lossy-codec sibling of q79. Each doc derives a BLOCK-CONSTANT
    //   grayscale image (all 64 pixels of 8×8 block b share value
    //   (doc_id·29 + b·17) mod 256), encodes it as an actual baseline
    //   JPEG (SimpleJpeg: FDCT, all-ones quant tables, Huffman entropy
    //   coding), and Multimodal.decode parses it back with the fully
    //   general SimpleJpeg decoder (any DHT, restart markers, 1/3
    //   components). Block-constant input is what makes a LOSSY codec
    //   oracle-expressible: only the DC coefficient survives and it is
    //   integer-exact through the float DCT, so decode(encode(x)) = x
    //   bit-exactly and the oracle can recompute the histogram from
    //   first principles. A decoder that misparses a Huffman table,
    //   drops a coefficient, or mis-crops hash-mismatches. ──
    QueryDef("q89_jpeg_decode",
      (s, dir) => {
        val mkJpeg = udf { (docId: Long, w: Int, h: Int) =>
          val bpr = w / 8
          val px = Array.tabulate(w * h) { i =>
            val b = (i / w / 8) * bpr + (i % w / 8)
            ((docId * 29 + b * 17) % 256).toByte
          }
          graft.operators.SimpleJpeg.encode(
            graft.operators.SimpleJpeg.Image(w, h, 1, px))
        }
        val media = Par(s.read.parquet(s"$dir/documents.parquet"))
          .select(col("doc_id"),
            ((lit(1) + col("doc_id") % 3) * 8).cast("int").as("w"),
            ((lit(1) + col("doc_id") % 2) * 8).cast("int").as("h"))
          .withColumn("payload", mkJpeg(col("doc_id"), col("w"), col("h")))
          .withColumn("media_type", lit("image"))
          .select("doc_id", "payload", "media_type")
        Multimodal.decode(media, "payload", "media_type")
          .select(col("doc_id"),
            col("meta.width").cast("long").as("width"),
            col("meta.height").cast("long").as("height"),
            posexplode(col("features")))
          .select(col("doc_id"), col("width"), col("height"),
            col("pos").cast("long").as("bin"),
            round(col("col"), 6).as("frac"))
          .orderBy(col("doc_id"), col("bin"))
      },
      Some("""
        WITH p AS (
          SELECT doc_id, (1 + doc_id % 3) * 8 AS w, (1 + doc_id % 2) * 8 AS h
          FROM documents),
        cnt AS (
          SELECT p.doc_id, ((p.doc_id * 29 + t.b * 17) % 256) // 16 AS bin,
                 64 * count(*) AS c
          FROM p, unnest(range(0, (p.w // 8) * (p.h // 8))) AS t(b)
          GROUP BY 1, 2),
        bins AS (
          SELECT p.doc_id, p.w, p.h, b.bin
          FROM p, unnest(range(0, 16)) AS b(bin))
        SELECT bins.doc_id, bins.w AS width, bins.h AS height, bins.bin,
               round(COALESCE(cnt.c, 0)::DOUBLE / (bins.w * bins.h), 6) AS frac
        FROM bins LEFT JOIN cnt ON bins.doc_id = cnt.doc_id AND bins.bin = cnt.bin
        ORDER BY bins.doc_id, bins.bin""")),

    // ── q133: frame PIXEL decode from a VIDEO CONTAINER — the r15 step
    //   past q124's GIF leg: each doc muxes block-constant baseline
    //   JPEGs into a real ISO-BMFF container (SimpleMp4.muxMjpeg), and
    //   the decode side walks the real stsz/stsc/stco sample tables
    //   (SimpleMp4.mjpegFrames) and pixel-decodes every frame with the
    //   general SimpleJpeg decoder — motion JPEG is the one video codec
    //   family that needs no codec library, so this is honestly real
    //   end-to-end; H.264/VP8/VP9 stay the adjudicated boundary. Same
    //   keyframe-selection shape as q124: sample every 2nd frame,
    //   integer-exact luma sums (block-constant JPEG decode is bit-exact,
    //   q89's argument), scene-change deltas via a doc-keyed lag. The
    //   oracle recomputes the sums from the synthesis formula without
    //   ever seeing a container — a sample walk that drops, reorders, or
    //   mis-slices any frame hash-mismatches. 100 TB shape: per-row map
    //   under the per-task decode budgets (MaxFrames / 64 MiB sample
    //   bytes / SimpleJpeg.MaxPixels); only sampled (doc, frame, sum)
    //   rows ever shuffle. ──
    QueryDef("q133_mjpeg_frames",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val mkMp4 = udf { (docId: Long, w: Int, h: Int, nf: Int) =>
          val bpr = w / 8
          val frames = (0 until nf).map { f =>
            val px = Array.tabulate(w * h) { i =>
              val b = (i / w / 8) * bpr + (i % w / 8)
              ((docId * 29 + f * 11 + b * 17) % 256).toByte
            }
            graft.operators.SimpleJpeg.encode(
              graft.operators.SimpleJpeg.Image(w, h, 1, px))
          }
          graft.operators.SimpleMp4.muxMjpeg(w, h, frames)
        }
        // asNondeterministic: the q124 planner fence —
        // InferFiltersFromGenerate would otherwise clone the whole
        // mux+demux+decode chain into a pre-Generate Filter
        val lumSums = udf { (payload: Array[Byte]) =>
          // all-or-nothing (the q124 precedent, r15 review #2): a frame
          // whose JPEG decode fails must refuse the WHOLE doc — a
          // flatMap would silently drop it, re-index every later frame
          // under posexplode, and pair the lag-deltas wrong
          graft.operators.SimpleMp4.mjpegFrames(payload).flatMap { frames =>
            val sums = frames.map(fr =>
              graft.operators.SimpleJpeg.decode(fr)
                .map(img => img.pixels.map(b => (b & 0xff).toLong).sum))
            if (sums.forall(_.isDefined)) Some(sums.map(_.get)) else None
          }.orNull
        }.asNondeterministic()
        val w = Window.partitionBy(col("doc_id")).orderBy(col("frame"))
        Par(s.read.parquet(s"$dir/documents.parquet"))
          .select(col("doc_id"),
            ((lit(1) + col("doc_id") % 3) * 8).cast("int").as("w"),
            ((lit(1) + col("doc_id") % 2) * 8).cast("int").as("h"),
            (lit(2) + col("doc_id") % 4).cast("int").as("nf"))
          .withColumn("sums",
            lumSums(mkMp4(col("doc_id"), col("w"), col("h"), col("nf"))))
          .select(col("doc_id"), posexplode(col("sums")))
          .withColumnRenamed("pos", "frame").withColumnRenamed("col", "lum_sum")
          .filter(col("frame") % 2 === 0) // the sample: every 2nd frame
          .withColumn("frame", col("frame").cast("long"))
          .withColumn("delta", abs(col("lum_sum") - lag(col("lum_sum"), 1).over(w)))
          .select(col("doc_id"), col("frame"), col("lum_sum"), col("delta"))
          .orderBy(col("doc_id"), col("frame"))
      },
      Some("""
        WITH p AS (
          SELECT doc_id, (1 + doc_id % 3) * 8 AS w, (1 + doc_id % 2) * 8 AS h,
                 2 + doc_id % 4 AS nf
          FROM documents),
        fs AS (
          SELECT p.doc_id, CAST(f.f AS BIGINT) AS frame,
                 CAST(list_sum(list_transform(range(0, (p.w // 8) * (p.h // 8)),
                   b -> 64 * ((p.doc_id * 29 + f.f * 11 + b * 17) % 256)))
                   AS BIGINT) AS lum_sum
          FROM p, unnest(range(0, p.nf)) AS f(f)
          WHERE f.f % 2 = 0)
        SELECT doc_id, frame, lum_sum,
               abs(lum_sum - lag(lum_sum) OVER (PARTITION BY doc_id
                 ORDER BY frame)) AS delta
        FROM fs ORDER BY doc_id, frame"""))
  )
}
