package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Seq(
    (0L, "hello world".getBytes("UTF-8"), "image"),
    (1L, Array.fill[Byte](1024)(7), "video"),
    (2L, null.asInstanceOf[Array[Byte]], "audio")
  ).toDF("id", "payload", "media_type")

  test("decode stub: schema plumbing, typed metadata, normalized features") {
    val out = Multimodal.decode(media, "payload", "media_type")
    assert(out.schema.fieldNames.toSeq === Seq("id", "payload", "media_type", "meta", "features"))
    val rows = out.orderBy("id").collect()
    val img = rows(0)
    val meta = img.getStruct(img.fieldIndex("meta"))
    assert(meta.getString(0) === "image")
    assert(meta.getInt(1) > 0 && meta.getInt(2) > 0)
    val feats = img.getSeq[Double](img.fieldIndex("features"))
    assert(feats.size === 16)
    assert(math.abs(feats.sum - 1.0) < 1e-9) // L1-normalized histogram
    // video: frame count derives from payload length
    val vid = rows(1)
    assert(vid.getStruct(vid.fieldIndex("meta")).getInt(3) === 1 + 1024 / 256)
    // null payload survives with zero features
    val aud = rows(2)
    assert(aud.getSeq[Double](aud.fieldIndex("features")).sum === 0.0)
  }

  test("PNG image payloads decode for REAL: exact dims and pixels through all five filters") {
    // 3×7 RGB with every byte value distinct-ish: 7 rows ⇒ the encoder
    // cycles scanline filters None/Sub/Up/Average/Paeth (+ wrap), so a
    // pixel-exact roundtrip proves every defilter path
    val (w, h, ch) = (3, 7, 3)
    val px = Array.tabulate(w * h * ch)(i => ((i * 37 + 11) % 256).toByte)
    val png = SimplePng.encode(SimplePng.Image(w, h, ch, px))
    assert(SimplePng.isPng(png))
    val img = SimplePng.decode(png).get
    assert((img.width, img.height, img.channels) === ((w, h, ch)))
    assert(img.pixels.toSeq === px.toSeq)

    // gray and RGBA roundtrip too (color types 0 and 6)
    for (c <- Seq(1, 2, 4)) {
      val p2 = Array.tabulate(5 * 6 * c)(i => ((i * 13 + c) % 256).toByte)
      val back = SimplePng.decode(SimplePng.encode(SimplePng.Image(5, 6, c, p2))).get
      assert(back.channels === c && back.pixels.toSeq === p2.toSeq)
    }

    // through the DataFrame operator: meta carries the true IHDR dims and
    // features histogram the decoded pixels, not the compressed payload
    val df = Seq((0L, png, "image")).toDF("id", "payload", "media_type")
    val row = Multimodal.decode(df, "payload", "media_type").collect()(0)
    val meta = row.getStruct(row.fieldIndex("meta"))
    assert((meta.getInt(1), meta.getInt(2)) === ((w, h)))
    val feats = row.getSeq[Double](row.fieldIndex("features"))
    val expected = {
      val hist = new Array[Double](16)
      px.foreach(b => hist((b & 0xFF) / 16) += 1.0)
      hist.map(_ / px.length).toSeq
    }
    assert(feats === expected)

    // truncated PNG bytes fall back to the stub, never throw
    val corrupt = Seq((1L, png.take(20), "image")).toDF("id", "payload", "media_type")
    assert(Multimodal.decode(corrupt, "payload", "media_type").count() === 1)
  }

  test("PNG with an unknown scanline filter byte returns None, not silently wrong pixels") {
    // hand-build a structurally valid 2×1 gray PNG whose single scanline
    // claims filter type 5 (outside the spec's 0..4) — decode must refuse
    // (ADVICE r4: it previously fell through to filter 0 and produced a
    // wrong histogram instead of taking the documented stub path)
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array())
      val t = typ.getBytes("US-ASCII"); out.write(t); out.write(data)
      val crc = new java.util.zip.CRC32(); crc.update(t); crc.update(data)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
      out.toByteArray
    }
    def deflate(data: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(); d.setInput(data); d.finish()
      val out = new java.io.ByteArrayOutputStream(); val buf = new Array[Byte](256)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      d.end(); out.toByteArray
    }
    val magic = Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)
    val ihdr = java.nio.ByteBuffer.allocate(13).putInt(2).putInt(1)
      .put(8.toByte).put(0.toByte).put(0.toByte).put(0.toByte).put(0.toByte).array()
    val bad = magic ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", deflate(Array[Byte](5, 10, 20))) ++
      chunk("IEND", Array.emptyByteArray)
    assert(SimplePng.decode(bad).isEmpty)
    // the same bytes with a legal filter byte DO decode — the refusal
    // above is the filter check, not some other structural rejection
    val good = magic ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", deflate(Array[Byte](0, 10, 20))) ++
      chunk("IEND", Array.emptyByteArray)
    val img = SimplePng.decode(good).get
    assert((img.width, img.height, img.pixels.toSeq) === ((2, 1, Seq[Byte](10, 20))))
  }

  test("JPEG image payloads decode for REAL: exact block-constant roundtrip, bounded lossy error, stub fallback") {
    // block-constant images roundtrip EXACTLY with the all-ones quant
    // tables: only the DC coefficient survives and it is integer-exact
    // through the float DCT (the q89 oracle leans on this)
    val (w, h) = (24, 16)
    val gray = Array.tabulate(w * h) { i =>
      val (bx, by) = ((i % w) / 8, (i / w) / 8)
      ((bx * 17 + by * 29 + 5) * 31 % 256).toByte
    }
    val jpg = SimpleJpeg.encode(SimpleJpeg.Image(w, h, 1, gray))
    assert(SimpleJpeg.isJpeg(jpg))
    val back = SimpleJpeg.decode(jpg).get
    assert((back.width, back.height, back.channels) === ((w, h, 1)))
    assert(back.pixels.toSeq === gray.toSeq)

    // color: block-constant RGB also roundtrips exactly (YCbCr forward/
    // inverse matrices compose to identity within rounding headroom)
    val rgb = Array.tabulate(8 * 8 * 3)(i => ((i % 3) * 40 + 77).toByte)
    val backC = SimpleJpeg.decode(SimpleJpeg.encode(SimpleJpeg.Image(8, 8, 3, rgb))).get
    assert(backC.channels === 3)
    assert(backC.pixels.toSeq === rgb.toSeq)

    // arbitrary (non-block-constant) pixels: lossy but tightly bounded —
    // q=1 leaves only DCT/rounding error; also proves non-multiple-of-8
    // dims encode padded and decode cropped
    val (w2, h2) = (13, 10)
    val wild = Array.tabulate(w2 * h2)(i => ((i * 37 + 11) % 256).toByte)
    val back2 = SimpleJpeg.decode(SimpleJpeg.encode(SimpleJpeg.Image(w2, h2, 1, wild))).get
    assert((back2.width, back2.height) === ((w2, h2)))
    val maxErr = wild.zip(back2.pixels).map { case (a, b) => math.abs((a & 0xFF) - (b & 0xFF)) }.max
    assert(maxErr <= 1, s"q=1 JPEG roundtrip error $maxErr > 1")

    // through the DataFrame operator: true dims + pixel histogram
    val df = Seq((0L, jpg, "image")).toDF("id", "payload", "media_type")
    val row = Multimodal.decode(df, "payload", "media_type").collect()(0)
    val meta = row.getStruct(row.fieldIndex("meta"))
    assert((meta.getInt(1), meta.getInt(2)) === ((w, h)))
    val expected = {
      val hist = new Array[Double](16)
      gray.foreach(b => hist((b & 0xFF) / 16) += 1.0)
      hist.map(_ / gray.length).toSeq
    }
    assert(row.getSeq[Double](row.fieldIndex("features")) === expected)

    // unsupported shapes refuse instead of decoding garbage: progressive
    // SOF2 and truncated streams take the stub path
    val progressive = jpg.clone()
    val sofAt = progressive.indices.find(i =>
      (progressive(i) & 0xFF) == 0xFF && (progressive(i + 1) & 0xFF) == 0xC0).get
    progressive(sofAt + 1) = 0xC2.toByte
    assert(SimpleJpeg.decode(progressive).isEmpty)
    assert(SimpleJpeg.decode(jpg.take(30)).isEmpty)
    val corrupt = Seq((1L, jpg.take(30), "image")).toDF("id", "payload", "media_type")
    assert(Multimodal.decode(corrupt, "payload", "media_type").count() === 1)
  }

  test("WAV audio payloads decode for REAL: exact fmt fields and samples, chunk padding, ancillary skip") {
    // 16-bit stereo with a full-range sample sweep
    val samples = Array.tabulate(2 * 37)(i => ((i * 1789 + 17) % 65536) - 32768)
    val wav = SimpleWav.encode(SimpleWav.Audio(44100, 2, 16, samples))
    assert(SimpleWav.isWav(wav))
    val a = SimpleWav.decode(wav).get
    assert((a.sampleRate, a.channels, a.bitsPerSample, a.frames) === ((44100, 2, 16, 37)))
    assert(a.samples.toSeq === samples.toSeq)

    // 8-bit mono with ODD data length: the RIFF pad byte must not leak
    // into the samples or derail the chunk walk
    val s8 = Array.tabulate(33)(i => (i * 7 + 3) % 256)
    val wav8 = SimpleWav.encode(SimpleWav.Audio(8000, 1, 8, s8))
    assert(wav8.length % 2 === 0) // padded container
    val a8 = SimpleWav.decode(wav8).get
    assert((a8.sampleRate, a8.channels, a8.bitsPerSample) === ((8000, 1, 8)))
    assert(a8.samples.toSeq === s8.toSeq)

    // ancillary chunk BEFORE fmt/data is skipped (LIST is common in the wild)
    val list = "LIST".getBytes("US-ASCII") ++ Array[Byte](4, 0, 0, 0) ++ "INFO".getBytes("US-ASCII")
    val withList = wav.take(12) ++ list ++ wav.drop(12)
    // patch RIFF size for the inserted chunk
    val bb = java.nio.ByteBuffer.wrap(withList).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putInt(4, withList.length - 8)
    assert(SimpleWav.decode(withList).get.samples.toSeq === samples.toSeq)

    // non-PCM format tag → None (caller falls back to the stub)
    val floatWav = wav.clone()
    java.nio.ByteBuffer.wrap(floatWav).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(20, 3.toShort) // fmt tag at offset 12+8
    assert(SimpleWav.decode(floatWav).isEmpty)

    // truncated data decodes the whole frames present, never throws
    val trunc = wav.take(wav.length - 3)
    assert(SimpleWav.decode(trunc).get.frames === 36)

    // through the DataFrame operator: meta carries (rate, channels, frames)
    // in the shared slots; features histogram the DECODED samples
    val df = Seq((0L, wav, "audio")).toDF("id", "payload", "media_type")
    val row = Multimodal.decode(df, "payload", "media_type").collect()(0)
    val meta = row.getStruct(row.fieldIndex("meta"))
    assert((meta.getInt(1), meta.getInt(2), meta.getInt(3)) === ((44100, 2, 37)))
    val feats = row.getSeq[Double](row.fieldIndex("features"))
    val expected = {
      val hist = new Array[Double](16)
      samples.foreach(s => hist((s + 32768) >> 12) += 1.0)
      hist.map(_ / samples.length).toSeq
    }
    assert(feats === expected)

    // WAV magic on an image-typed row does NOT take the audio path
    val crossTyped = Seq((1L, wav, "image")).toDF("id", "payload", "media_type")
    val ct = Multimodal.decode(crossTyped, "payload", "media_type").collect()(0)
    assert(ct.getStruct(ct.fieldIndex("meta")).getInt(1) === 64 + wav.length % 64) // stub dims
  }

  test("GIF video payloads decode for REAL: exact dims, frame count, and palette luminance") {
    // 4-color gray palette whose luminance lands in bins 0..3; three
    // frames with known index patterns ⇒ exact histogram is predictable
    val (w, h) = (5, 4)
    val palette = Array(0x080808, 0x181818, 0x282828, 0x383838) // lum 8, 24, 40, 56
    val frames = (0 until 3).map(f =>
      Array.tabulate(w * h)(i => ((f * 5 + i * 3) % 4).toByte))
    val gif = SimpleGif.encode(w, h, palette, frames)
    assert(SimpleGif.isGif(gif))
    val dec = SimpleGif.decode(gif).get
    assert((dec.width, dec.height, dec.frames.length) === ((w, h, 3)))
    for (f <- 0 until 3)
      assert(dec.frames(f).lum.toSeq ===
        frames(f).map(ix => (ix * 16 + 8).toByte).toSeq)

    // through the DataFrame operator: true meta + histogram over decoded
    // luminance of ALL frames (bins 0-3 only, by palette construction)
    val df = Seq((0L, gif, "video")).toDF("id", "payload", "media_type")
    val row = Multimodal.decode(df, "payload", "media_type").collect()(0)
    val meta = row.getStruct(row.fieldIndex("meta"))
    assert((meta.getInt(1), meta.getInt(2), meta.getInt(3)) === ((w, h, 3)))
    val feats = row.getSeq[Double](row.fieldIndex("features"))
    val all = frames.flatten
    val expected = (0 until 16).map(b => all.count(_ == b).toDouble / all.length)
    assert(feats === expected)
    assert(feats.drop(4).forall(_ == 0.0))

    // a REAL compressing LZW stream (not the clear-per-literal encoder
    // shape) decodes too: dictionary entries + code-width growth.
    // 2-bit palette, pixels 0,0,0,0... emitted as literal 0 then code 6
    // (= "00"), 7 (= "000") by a hand-packed stream
    val handPacked = { // pack codes LSB-first: CLEAR(4) 0 6 7 END(5), 3-bit codes
      val codes = Seq(4, 0, 6, 7, 5)
      var acc = 0L; var bits = 0
      val bb = new scala.collection.mutable.ArrayBuffer[Byte]()
      codes.foreach { c => acc |= c.toLong << bits; bits += 3
        while (bits >= 8) { bb += (acc & 0xFF).toByte; acc >>>= 8; bits -= 8 } }
      if (bits > 0) bb += (acc & 0xFF).toByte
      bb.toArray
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    out.write(Array[Byte](6, 0, 1, 0, 0x91.toByte, 0, 0)) // 6×1 screen, gct 4 entries
    out.write(Array[Byte](8, 8, 8, 24, 24, 24, 40, 40, 40, 56, 56, 56))
    out.write(0x2C); out.write(Array[Byte](0, 0, 0, 0, 6, 0, 1, 0, 0)) // 6×1 image
    out.write(2) // min LZW code size
    out.write(handPacked.length); out.write(handPacked); out.write(0)
    out.write(0x3B)
    val real = SimpleGif.decode(out.toByteArray).get
    // 0, then "00" (entry 6 = prev 0 + first-of-current), then "000" (KwKwK)
    assert(real.frames(0).lum.toSeq === Seq.fill(6)((8).toByte))

    // truncated GIF bytes fall back to the stub, never throw
    val corrupt = Seq((1L, gif.take(16), "video")).toDF("id", "payload", "media_type")
    assert(Multimodal.decode(corrupt, "payload", "media_type").count() === 1)
  }

  test("decode is deterministic") {
    val a = Multimodal.decode(media, "payload", "media_type")
      .drop("payload").collect().map(_.toString).sorted
    val b = Multimodal.decode(media, "payload", "media_type")
      .drop("payload").collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq)
  }

  test("resize stub: byte budget enforced, meta carries target dims, small payloads pass through") {
    val out = Multimodal.resizeStub(media, "payload", "media_type", 16, 16)
    // resize_meta, not meta: composing with decode() (which emits "meta")
    // must not create duplicate field names (r11 review)
    assert(out.schema.fieldNames.toSeq ===
      Seq("id", "payload", "media_type", "resized", "resize_meta"))
    val rows = out.orderBy("id").collect()
    // 11-byte payload under the 256-byte budget passes through untouched
    assert(rows(0).getAs[Array[Byte]]("resized").toSeq === "hello world".getBytes("UTF-8").toSeq)
    // 1024 bytes downsample to exactly the 16×16 budget, uniform stride
    val vid = rows(1).getAs[Array[Byte]]("resized")
    assert(vid.length === 256)
    assert(vid.forall(_ == 7))
    // meta reports the TARGET dims (the fixed-tensor-shape contract)
    val meta = rows(1).getStruct(rows(1).fieldIndex("resize_meta"))
    assert((meta.getInt(1), meta.getInt(2)) === ((16, 16)))
    // the composition that used to produce AMBIGUOUS_REFERENCE
    val composed = Multimodal.resizeStub(
      Multimodal.decode(media, "payload", "media_type"),
      "payload", "media_type", 8, 8)
    assert(composed.select(org.apache.spark.sql.functions.col("meta"),
      org.apache.spark.sql.functions.col("resize_meta")).count() === 3)
    // null payload → empty bytes, never a crash
    assert(rows(2).getAs[Array[Byte]]("resized").length === 0)
  }

  test("frame sampling strides through the payload") {
    val out = Multimodal.frameSample(media.filter($"id" === 1), "payload", 2)
    val idx = out.select("frame_idx").as[Long].collect().sorted
    assert(idx.toSeq === Seq(0L, 2L)) // 1024 bytes → frames 0..3, every 2nd
    val lens = out.select(length(col("frame_bytes"))).as[Int].collect()
    assert(lens.forall(_ <= 256))
  }

  // ── minimal ISO-BMFF builder for the SimpleMp4 tests ──
  private def be32(v: Long): Array[Byte] =
    Array(((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
      ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def mbox(typ: String, payload: Array[Byte]): Array[Byte] =
    be32(payload.length + 8) ++ typ.getBytes("ISO-8859-1") ++ payload
  private def vf0: Array[Byte] = Array[Byte](0, 0, 0, 0)

  private def buildMp4(timescale: Long = 600L, duration: Long = 1200L,
                       w: Int = 320, h: Int = 240, n: Long = 48L): Array[Byte] = {
    val ftyp = mbox("ftyp", "isom".getBytes ++ be32(0) ++ "isom".getBytes)
    val mvhd = mbox("mvhd", vf0 ++ be32(0) ++ be32(0) ++ be32(timescale) ++
      be32(duration) ++ new Array[Byte](80))
    val tkhd = mbox("tkhd", vf0 ++ new Array[Byte](72) ++
      be32(w.toLong << 16) ++ be32(h.toLong << 16))
    val mdhd = mbox("mdhd", vf0 ++ new Array[Byte](20))
    val hdlr = mbox("hdlr", vf0 ++ be32(0) ++ "vide".getBytes ++ new Array[Byte](13))
    val stsd = mbox("stsd", vf0 ++ be32(1) ++
      (be32(16) ++ "avc1".getBytes ++ new Array[Byte](8)))
    val stsz = mbox("stsz", vf0 ++ be32(0) ++ be32(n))
    val stbl = mbox("stbl", stsd ++ stsz)
    val minf = mbox("minf", stbl)
    val mdia = mbox("mdia", mdhd ++ hdlr ++ minf)
    val trak = mbox("trak", tkhd ++ mdia)
    val moov = mbox("moov", mvhd ++ trak)
    val mdat = mbox("mdat", Array.tabulate[Byte](64)(_.toByte))
    ftyp ++ moov ++ mdat
  }

  test("MP4 container metadata parses for REAL: brand, duration, track codec/dims/samples") {
    val bytes = buildMp4()
    assert(SimpleMp4.isMp4(bytes))
    val meta = SimpleMp4.parse(bytes).get
    assert(meta.brand === "isom")
    assert(meta.timescale === 600L)
    assert(meta.durationMs === 2000L) // 1200 ticks at 600/s
    assert(meta.tracks.length === 1)
    val tr = meta.tracks.head
    assert(tr.kind === "video")
    assert(tr.codec === "avc1")
    assert((tr.width, tr.height) === ((320, 240)))
    assert(tr.nSamples === 48)
  }

  test("MP4 malformed structure is refused, never decoded as garbage") {
    val good = buildMp4()
    // truncated mid-moov: the box header promises bytes that aren't there
    assert(SimpleMp4.parse(good.dropRight(80)).isEmpty)
    // corrupt top-level size: first box claims to overrun the file
    val corrupt = good.clone(); corrupt(0) = 0x7F.toByte
    assert(SimpleMp4.parse(corrupt).isEmpty)
    // not BMFF at all
    assert(!SimpleMp4.isMp4("GIF89a......".getBytes))
    assert(SimpleMp4.parse("RIFFxxxxWAVE".getBytes ++ new Array[Byte](64)).isEmpty)
  }

  // ── minimal EBML builder for the SimpleWebm tests ──
  private def ebml(id: Long, payload: Array[Byte]): Array[Byte] = {
    val idBytes = {
      val n = if (id <= 0xFF) 1 else if (id <= 0xFFFF) 2
        else if (id <= 0xFFFFFF) 3 else 4
      (0 until n).reverse.map(i => ((id >> (8 * i)) & 0xFF).toByte).toArray
    }
    // size always as 8-byte vint (0x01 marker + 7 payload bytes) — legal
    // EBML and sidesteps per-length marker arithmetic in the fixture.
    // Long shift: an Int >> 32 wraps to >> 0 and writes garbage bytes
    val size = Array(0x01.toByte) ++
      (0 until 7).reverse.map(i => ((payload.length.toLong >> (8 * i)) & 0xFF).toByte)
    idBytes ++ size ++ payload
  }
  private def eUint(id: Long, v: Long, width: Int): Array[Byte] =
    ebml(id, (0 until width).reverse.map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray)

  private def buildWebm(w: Int = 640, h: Int = 480, blocks: Int = 5): Array[Byte] = {
    val header = ebml(0x1A45DFA3L, ebml(0x4282L, "webm".getBytes))
    val info = ebml(0x1549A966L,
      eUint(0x2AD7B1L, 1000000L, 4) ++ // 1 ms ticks
        ebml(0x4489L, { // Duration = 1500.0 ticks as an 8-byte float
          val bits = java.lang.Double.doubleToLongBits(1500.0)
          (0 until 8).reverse.map(i => ((bits >> (8 * i)) & 0xFF).toByte).toArray
        }))
    val video = ebml(0xE0L, eUint(0xB0L, w, 2) ++ eUint(0xBAL, h, 2))
    val trackEntry = ebml(0xAEL,
      eUint(0x83L, 1L, 1) ++ ebml(0x86L, "V_VP9".getBytes) ++ video)
    val tracks = ebml(0x1654AE6BL, trackEntry)
    val cluster = ebml(0x1F43B675L,
      (1 to blocks).map(_ => ebml(0xA3L, Array[Byte](0x81.toByte, 0, 0, 0)))
        .reduce(_ ++ _))
    val segment = ebml(0x18538067L, info ++ tracks ++ cluster)
    header ++ segment
  }

  test("WebM container metadata parses for REAL: doctype, duration, track, frame blocks") {
    val bytes = buildWebm()
    assert(SimpleWebm.isWebm(bytes))
    val meta = SimpleWebm.parse(bytes).get
    assert(meta.docType === "webm")
    assert(meta.durationMs === 1500L) // 1500 ticks x 1ms
    assert(meta.tracks === List(SimpleWebm.Track("video", "V_VP9", 640, 480)))
    assert(meta.nFrames === 5)
  }

  test("WebM STREAMED (unknown-size) clusters: blocks in every cluster are counted (r11)") {
    // live-muxed files write the cluster size as the all-ones unknown
    // marker; its extent then runs to the Segment end, so following
    // sibling clusters surface as nested elements — the parser must
    // recurse into them instead of dropping their blocks
    def ebmlUnknownSize(id: Long): Array[Byte] = {
      val idBytes = (0 until 4).reverse.map(i => ((id >> (8 * i)) & 0xFF).toByte).toArray
      idBytes ++ (Array(0x01.toByte) ++ Array.fill(7)(0xFF.toByte))
    }
    val header = ebml(0x1A45DFA3L, ebml(0x4282L, "webm".getBytes))
    def blocksBytes(n: Int) =
      (1 to n).map(_ => ebml(0xA3L, Array[Byte](0x81.toByte, 0, 0, 0))).reduce(_ ++ _)
    val streamedCluster1 = ebmlUnknownSize(0x1F43B675L) ++ blocksBytes(3)
    val cluster2 = ebml(0x1F43B675L, blocksBytes(4))
    val segment = ebml(0x18538067L, streamedCluster1 ++ cluster2)
    val meta = SimpleWebm.parse(header ++ segment).get
    assert(meta.nFrames === 7,
      s"expected 3 + 4 blocks across both clusters, got ${meta.nFrames}")
  }

  test("GIF with a dimension-overflow descriptor falls back to None, never a crash (r11)") {
    // 65535x65535 overflows w*h Int arithmetic into a negative
    // allocation; the decoder must take the documented stub-fallback
    // path (NegativeArraySizeException is not an IndexOutOfBounds)
    val good = graft.operators.SimpleGif.encode(2, 2,
      Array(0x000000, 0xFFFFFF, 0x808080, 0x404040),
      Seq(Array[Byte](0, 1, 2, 3)))
    val descriptor = good.indexWhere(_ == 0x2C.toByte, 13)
    assert(descriptor > 0, "fixture must contain an image descriptor")
    val evil = good.clone()
    for (off <- 5 to 8) evil(descriptor + off) = 0xFF.toByte // w = h = 65535
    assert(graft.operators.SimpleGif.decode(evil).isEmpty)
  }

  test("WebM malformed structure is refused") {
    val good = buildWebm()
    assert(SimpleWebm.parse(good.dropRight(10)).isEmpty) // truncated cluster
    assert(!SimpleWebm.isWebm("RIFFxxxxWAVE".getBytes))
    val corrupt = good.clone()
    corrupt(good.length - 60) = 0x00 // zero vint lead byte mid-stream
    // either refused or parsed without the damaged tail — never a throw
    SimpleWebm.parse(corrupt)
  }

  test("decode routes webm video through the real container parse") {
    val df = Seq((0L, buildWebm(w = 320, h = 180, blocks = 7), "video"))
      .toDF("id", "payload", "media_type")
    val out = Multimodal.decode(df, "payload", "media_type").select("meta.*").head()
    assert(out.getAs[Int]("width") === 320)
    assert(out.getAs[Int]("height") === 180)
    assert(out.getAs[Int]("n_frames") === 7)
  }

  test("decode routes mp4 video through the real container parse") {
    val df = Seq((0L, buildMp4(w = 640, h = 360, n = 24L), "video"))
      .toDF("id", "payload", "media_type")
    val out = Multimodal.decode(df, "payload", "media_type").select("meta.*").head()
    assert(out.getAs[String]("media_type") === "video")
    assert(out.getAs[Int]("width") === 640)
    assert(out.getAs[Int]("height") === 360)
    assert(out.getAs[Int]("n_frames") === 24)
  }

  // ── MJPEG-in-MP4: frame PIXEL decode for real (r15) ──

  /** Block-constant grayscale frame — the SimpleJpeg bit-exactness
    * class: only the DC coefficient survives, integer-exact. */
  private def jpegFrame(w: Int, h: Int, seed: Long): (Array[Byte], Array[Byte]) = {
    val bpr = w / 8
    val px = Array.tabulate(w * h) { i =>
      val blk = (i / w / 8) * bpr + (i % w / 8)
      ((seed + blk * 17) % 256).toByte
    }
    (SimpleJpeg.encode(SimpleJpeg.Image(w, h, 1, px)), px)
  }

  test("MJPEG-in-MP4 frames decode for REAL: mux -> sample tables -> bit-exact pixels") {
    val (w, h) = (16, 8)
    val made = (0 until 3).map(f => jpegFrame(w, h, 29 + f * 11))
    val mp4 = SimpleMp4.muxMjpeg(w, h, made.map(_._1))
    // the muxed container satisfies the metadata parser too
    val meta = SimpleMp4.parse(mp4).get
    assert(meta.brand === "isom")
    val tr = meta.tracks.head
    assert((tr.kind, tr.codec, tr.width, tr.height, tr.nSamples) ===
      (("video", "jpeg", w, h, 3)))
    // and the sample walk recovers every frame, pixel-exact
    val frames = SimpleMp4.mjpegFrames(mp4).get
    assert(frames.length === 3)
    frames.zip(made).foreach { case (payload, (enc, px)) =>
      assert(payload.sameElements(enc))
      val img = SimpleJpeg.decode(payload).get
      assert((img.width, img.height) === ((w, h)))
      assert(img.pixels.sameElements(px))
    }
  }

  test("MJPEG sample walk refuses hostile tables: OOB offsets, budget bombs, wrong codec") {
    val (enc, _) = jpegFrame(8, 8, 3)
    val mp4 = SimpleMp4.muxMjpeg(8, 8, Seq(enc, enc))
    def patch(sig: String, at: Int, v: Long): Array[Byte] = {
      val m = mp4.clone()
      val pos = m.indices.indexWhere(i => i + 4 <= m.length &&
        new String(m.slice(i, i + 4), "ISO-8859-1") == sig)
      assert(pos > 0, s"$sig not found")
      var x = v; var j = 3
      while (j >= 0) { m(pos + at + j) = (x & 0xFF).toByte; x >>= 8; j -= 1 }
      m
    }
    // stco box: ['stco' @pos] vf(+4) count(+8) offset(+12) — point the
    // chunk past the payload
    assert(SimpleMp4.mjpegFrames(patch("stco", 12, 0x7FFFFFF0L)).isEmpty)
    // stsz count bomb: claim 100k samples (over the frame budget)
    assert(SimpleMp4.mjpegFrames(patch("stsz", 12, 100000L)).isEmpty)
    // a non-MJPEG track is not this decoder's business
    assert(SimpleMp4.mjpegFrames(buildMp4()).isEmpty)
    // truncation never throws and never fabricates frames: the muxer
    // writes moov LAST, so every strict prefix lacks the sample tables
    // and must be None outright — not Some(empty), not partial frames
    // (the forall(_.nonEmpty) first draft was vacuously true, r15 review)
    (0 until mp4.length by 37).foreach { k =>
      assert(SimpleMp4.mjpegFrames(java.util.Arrays.copyOf(mp4, k)).isEmpty,
        s"truncation at $k fabricated frames")
    }
    // multi-entry stsd: samples may be coded under a SECOND description
    // (stsc sample_description_index), so a first-entry-'jpeg' claim is
    // not enough — the walk requires entry_count == 1 (r15 advice)
    assert(SimpleMp4.mjpegFrames(patch("stsd", 8, 2L)).isEmpty)
  }

  test("MJPEG chunk layouts: 60 seeded multi-run stsc / multi-chunk stco / co64 containers return byte-identical frames") {
    val (w, h) = (16, 8)
    val encs = (0 until 11).map(f => jpegFrame(w, h, 13 + f * 7)._1)
    val reference = SimpleMp4.mjpegFrames(SimpleMp4.muxMjpeg(w, h, encs)).get
    // deterministic anchors first: a forced multi-run stsc (1,2,2,2,2,2 →
    // two runs), a co64 layout, and a gapped layout
    val anchors = Seq(
      (Seq(1, 2, 2, 2, 2, 2), false, 0),
      (Seq(4, 4, 3), true, 0),
      (Seq(2, 2, 2, 2, 2, 1), false, 64))
    val rnd = new scala.util.Random(0x51DE16)
    val seeded = (0 until 60).map { _ =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
      var left = encs.length
      while (left > 0) { val s = 1 + rnd.nextInt(math.min(4, left)); buf += s; left -= s }
      (buf.toSeq, rnd.nextBoolean(), rnd.nextInt(3) * 7)
    }
    for (((sizes, co64, gap), trial) <- (anchors ++ seeded).zipWithIndex) {
      val layout = s"trial $trial (sizes=$sizes co64=$co64 gap=$gap)"
      val mp4 = SimpleMp4.muxMjpeg(w, h, encs,
        chunkSizes = sizes, co64 = co64, chunkGap = gap)
      // the metadata parser agrees regardless of layout
      assert(SimpleMp4.parse(mp4).get.tracks.head.nSamples === encs.length, layout)
      val frames = SimpleMp4.mjpegFrames(mp4)
        .getOrElse(fail(s"$layout: decode refused a valid layout"))
      assert(frames.length === reference.length, layout)
      frames.zip(reference).zipWithIndex.foreach { case ((got, want), i) =>
        assert(got.sameElements(want), s"$layout frame $i differs")
      }
    }
    // the knob defaults are byte-identical to the legacy single-chunk
    // layout (q133's fixture hash must not move), and an explicit
    // single-chunk spec is too (gaps only exist BETWEEN chunks)
    val legacy = SimpleMp4.muxMjpeg(w, h, encs)
    assert(legacy.sameElements(
      SimpleMp4.muxMjpeg(w, h, encs, chunkSizes = Seq(encs.length), chunkGap = 9)))
  }

  test("muxMjpeg refuses self-disagreeing field ranges and bad chunk specs") {
    val (enc, _) = jpegFrame(8, 8, 3)
    // u16 sample-entry dims vs 16.16 tkhd would silently disagree >65535
    intercept[IllegalArgumentException](SimpleMp4.muxMjpeg(70000, 8, Seq(enc)))
    intercept[IllegalArgumentException](SimpleMp4.muxMjpeg(8, 70000, Seq(enc)))
    // timescale is a u32 field
    intercept[IllegalArgumentException](SimpleMp4.muxMjpeg(8, 8, Seq(enc), timescale = 0))
    intercept[IllegalArgumentException](
      SimpleMp4.muxMjpeg(8, 8, Seq(enc), timescale = 0x100000000L))
    // chunkSizes must partition the sample list exactly
    intercept[IllegalArgumentException](
      SimpleMp4.muxMjpeg(8, 8, Seq(enc, enc), chunkSizes = Seq(1)))
    intercept[IllegalArgumentException](
      SimpleMp4.muxMjpeg(8, 8, Seq(enc, enc), chunkSizes = Seq(3)))
    intercept[IllegalArgumentException](
      SimpleMp4.muxMjpeg(8, 8, Seq(enc, enc), chunkSizes = Seq(2, 0)))
    intercept[IllegalArgumentException](
      SimpleMp4.muxMjpeg(8, 8, Seq(enc, enc), chunkGap = -1))
    // boundary values stay accepted
    assert(SimpleMp4.parse(SimpleMp4.muxMjpeg(0xFFFF, 0xFFFF, Seq(enc),
      timescale = 0xFFFFFFFFL)).get.tracks.head.width === 0xFFFF)
  }
}
