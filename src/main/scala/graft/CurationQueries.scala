package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{MinHashSig, ShingleHash60, TextOps, XHash}
import graft.operators.{AhoCorasick, ImageHash, SimplePng, SimpleWav}

/** Round-7 curation operators: winnowing fingerprints (the MOSS
  * plagiarism-index structure), Aho-Corasick blocklist filtering, and a
  * bit-exact logistic-regression quality classifier trained as Spark
  * aggregations — three more stages of the 100 TB training-data pipeline
  * (brief-driven, beyond the reference's own surface, like q90-q114).
  *
  * House determinism rules apply: shared TextOps/XHash primitives, every
  * float that crosses an engine boundary is 6dp-rounded and
  * integer-lifted before any order-dependent SUM, and q117 replaces the
  * transcendental sigmoid with an algebraic one so the TRAINING LOOP
  * itself is bit-reproducible across engines (and across cluster
  * topologies — a real concern for distributed trainers; libm `exp`
  * differs across implementations, `+ * / abs` do not).
  */
object CurationQueries {

  /** q126 row shapes: the typed contract for the per-shard packing scan. */
  final case class PackIn(source: String, doc_id: Long, n_tok: Long)
  final case class PackOut(source: String, doc_id: Long, n_tok: Long,
                           seq_id: Long, seq_fill: Long)
  /** Range-sharded variants: `range_id = doc_id div PackRangeDocs` splits
    * each source into independently-packable sub-shards, and `bin` is the
    * shard-LOCAL sequence number before [[rebasePacked]]. */
  final case class PackRIn(source: String, range_id: Long, doc_id: Long,
                           n_tok: Long)
  final case class PackROut(source: String, range_id: Long, doc_id: Long,
                            n_tok: Long, bin: Long, fill: Long)

  /** Sub-shard width for sequence packing (docs per doc_id range). At
    * 100 TB this bounds the serial work of ONE task to `PackRangeDocs`
    * docs even when a single source dominates the corpus (the web-crawl
    * case) — the round-7 formulation packed each source on one task. The
    * price is ≤ 1 partially-filled tail sequence per range, the same
    * waste every sharded packer accepts. 128 keeps even the 500-doc
    * sf0.01 gate corpus multi-range per source so the re-base path is
    * oracle-exercised at every SF; a production run would raise it until
    * per-task packing time (~range · docs/range) amortizes scheduling,
    * e.g. 10⁵-10⁶ — the semantics don't change, only the waste/parallel
    * trade. */
  val PackRangeDocs = 128L

  /** The two-level packing recurrence as DuckDB SQL — ONE definition
    * checked against BOTH q126 (batch) and q132 (streaming), so
    * "streaming ≡ batch" is a shared-oracle fact, not two copies that
    * could drift: a recursive CTE replays next-fit per (source, range),
    * then each range re-bases by the exclusive window sum of bins used
    * by the ranges before it. */
  val SeqPackOracleSql: String = s"""
        WITH RECURSIVE t AS (
          SELECT source, doc_id // $PackRangeDocs AS range_id, doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 row_number() OVER (PARTITION BY source, doc_id // $PackRangeDocs
                                    ORDER BY doc_id) AS rn
          FROM documents),
        r AS (
          SELECT source, range_id, doc_id, n_tok, rn,
                 CAST(0 AS BIGINT) AS bin, n_tok AS seq_fill
          FROM t WHERE rn = 1
          UNION ALL
          SELECT t.source, t.range_id, t.doc_id, t.n_tok, t.rn,
                 CASE WHEN r.seq_fill + t.n_tok > 256
                      THEN r.bin + 1 ELSE r.bin END,
                 CASE WHEN r.seq_fill + t.n_tok > 256
                      THEN t.n_tok ELSE r.seq_fill + t.n_tok END
          FROM r JOIN t ON t.source = r.source AND t.range_id = r.range_id
                       AND t.rn = r.rn + 1),
        bases AS (
          SELECT source, range_id,
                 coalesce(sum(bins) OVER (PARTITION BY source ORDER BY range_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0) AS base
          FROM (SELECT source, range_id, max(bin) + 1 AS bins
                FROM r GROUP BY source, range_id))
        SELECT r.source, r.doc_id, r.n_tok,
               CAST(b.base + r.bin AS BIGINT) AS seq_id, r.seq_fill
        FROM r JOIN bases b ON r.source = b.source AND r.range_id = b.range_id
        ORDER BY r.source, r.doc_id"""

  /** Next-fit packing of each (source, doc_id-range) sub-shard: one
    * partitioning pass, cursor state (bin, fill) carried across rows of
    * a sub-shard inside mapPartitions — no window, no join, no driver
    * loop. Sub-shards pack in PARALLEL (the q126 scale fix); callers
    * re-base shard-local bins to global seq_ids with [[rebasePacked]].
    */
  def seqPackRanges(df: DataFrame, cap: Long = 256L,
                    rangeDocs: Long = PackRangeDocs): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    df.select(col("source"), expr(s"doc_id div $rangeDocs").as("range_id"),
        col("doc_id"), col("n_tok"))
      .as[PackRIn]
      .repartition(col("source"), col("range_id"))
      .sortWithinPartitions(col("source"), col("range_id"), col("doc_id"))
      .mapPartitions { it =>
        var src: String = null
        var rng = Long.MinValue
        var bin = 0L
        var fill = 0L
        it.map { r =>
          if (r.source != src || r.range_id != rng) {
            src = r.source; rng = r.range_id; bin = 0L; fill = r.n_tok
          }
          else if (fill + r.n_tok > cap) { bin += 1; fill = r.n_tok }
          else fill += r.n_tok
          PackROut(r.source, r.range_id, r.doc_id, r.n_tok, bin, fill)
        }
      }
      .toDF()
  }

  /** Re-base shard-local bins to global per-source seq_ids: each range
    * consumes `max(bin)+1` sequences, so a range's base is the exclusive
    * prefix sum of bins over the ranges before it. The EAGER side is the
    * RANGE-cardinality rollup (corpus/PackRangeDocs rows — tiny by
    * construction): localCheckpointing it costs one corpus pass at
    * definition time, pins only the tiny frame, and leaves the returned
    * plan a LAZY broadcast-join over the un-persisted packed scan — one
    * corpus pass per downstream action, no session-lifetime cache leak,
    * and the executed plan stays inspectable (the r11 variant
    * checkpointed the corpus-sized RESULT, which pinned one row per doc
    * in block-manager storage and hid the plan behind an ExistingRDD).
    * Recomputation of `packed` is deterministic: [[seqPackRanges]] hash-
    * partitions by (source, range_id), sorts within partitions, and
    * resets the cursor per group, so bins are a pure function of group
    * content. Key columns are renamed on the rollup side so the
    * equi-join condition binds unambiguously. */
  def rebasePacked(packed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bases = packed.groupBy(col("source"), col("range_id"))
      .agg((max(col("bin")) + lit(1L)).as("bins"))
      .withColumn("base", coalesce(
        sum(col("bins")).over(Window.partitionBy(col("source"))
          .orderBy(col("range_id"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("source").as("b_source"), col("range_id").as("b_range"),
        col("base"))
      .localCheckpoint() // eager TINY frame: |ranges| rows, never corpus
    packed.join(broadcast(bases),
        col("source") === col("b_source") && col("range_id") === col("b_range"))
      .select(col("source"), col("doc_id"), col("n_tok"),
        (col("base") + col("bin")).as("seq_id"), col("fill").as("seq_fill"))
  }

  private def docs(s: SparkSession, dir: String): DataFrame =
    Par(s.read.parquet(s"$dir/documents.parquet"))

  /** q134/q142 shared: the 2-epoch, 8-shard training shuffle manifest
    * (epoch, shard, pos, doc_id), unordered — callers sort or consume as
    * a set. Per-(epoch, doc) hash key, shard = h mod n, rank only WITHIN
    * a (epoch, shard) partition — no corpus-wide sort anywhere (the
    * naive corpus-wide row_number is the exact shape this avoids). */
  private def epochShuffleManifest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nShards = 8
    val perEpoch = docs(s, dir).select(col("doc_id"))
      .withColumn("epoch", explode(typedlit(Seq(0L, 1L))))
      .withColumn("h", XHash.hash60(
        concat(col("doc_id").cast("string"), lit(":"),
          col("epoch").cast("string"))))
      .withColumn("shard", pmod(col("h"), lit(nShards.toLong)))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("h").asc, col("doc_id").asc)
    perEpoch
      .withColumn("pos", row_number().over(w).cast("long"))
      .select(col("epoch"), col("shard"), col("pos"), col("doc_id"))
  }

  /** DuckDB twin of [[epochShuffleManifest]]: CTE chain ending in
    * `man(epoch, shard, pos, doc_id)` (composes after `WITH `). */
  private val epochManifestSqlCte: String = s"""pe AS (
          SELECT e.epoch AS epoch, d.doc_id AS doc_id,
                 ${XHash.hash60Sql("d.doc_id::VARCHAR || ':' || e.epoch::VARCHAR")} AS h
          FROM documents d, (VALUES (CAST(0 AS BIGINT)), (CAST(1 AS BIGINT))) AS e(epoch)),
        sh AS (
          SELECT epoch, doc_id, h, h % 8 AS shard FROM pe),
        man AS (
          SELECT epoch, shard,
                 CAST(row_number() OVER (PARTITION BY epoch, shard
                   ORDER BY h ASC, doc_id ASC) AS BIGINT) AS pos,
                 doc_id
          FROM sh)"""

  private def events(s: SparkSession, dir: String): DataFrame = Events.load(s, dir)

  /** Shared banded-Hamming near-dup pair recovery (q123 images, q125
    * audio — ONE owner since r11; the two hand-copied blocks differed
    * only in the threshold and had to be fixed in lockstep).
    * Exact-dedup BEFORE the quadratic stage: near-dups arrive in
    * exact-hash clusters, so band-join + Hamming run once per DISTINCT
    * hash pair, never per doc pair — the doc-level pair list is
    * recovered by two equi-joins. At 100 TB this is the difference
    * between Hamming over |docs|²/band and |distinct hashes|²/band.
    * bits = the 64-bit hash as a long, so Hamming is one xor+popcount.
    * `hashes` must carry (doc_id, h) with h a 64-char bit string. */
  private def bandedHammingPairs(hashes: DataFrame, maxHamming: Int): DataFrame = {
    val bits = shiftleft(conv(substring(col("h"), 1, 32), 2, 10)
      .cast("long"), 32)
      .bitwiseOR(conv(substring(col("h"), 33, 32), 2, 10).cast("long"))
    val uniq = hashes.select(col("h")).distinct()
      .withColumn("bits", bits).persist()
    val bands = uniq.select(col("h"), col("bits"), posexplode(array(
      (0 until 8).map(b => substring(col("h"), b * 8 + 1, 8)): _*)))
      .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_key")
    val hp = bands.select(col("band_idx"), col("band_key"),
        col("h").as("ha"), col("bits").as("ba"))
      .join(bands.select(col("band_idx"), col("band_key"),
        col("h").as("hb"), col("bits").as("bb")), Seq("band_idx", "band_key"))
      .filter(col("ha") < col("hb"))
      .select(col("ha"), col("hb"), col("ba"), col("bb")).distinct()
      .withColumn("hamming",
        bit_count(col("ba").bitwiseXOR(col("bb"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("ha"), col("hb"), col("hamming"))
    // every ordered hash pair (incl. self at Hamming 0), so each output
    // doc pair appears exactly once under the doc_a < doc_b filter
    val sym = hp
      .union(hp.select(col("hb").as("ha"), col("ha").as("hb"), col("hamming")))
      .union(uniq.select(col("h").as("ha"), col("h").as("hb"),
        lit(0L).as("hamming")))
    sym
      .join(hashes.select(col("doc_id").as("doc_a"), col("h").as("ha")), Seq("ha"))
      .join(hashes.select(col("doc_id").as("doc_b"), col("h").as("hb")), Seq("hb"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))
  }


  /** HLL small-range correction table: est(zeros) = 64·ln(64/zeros) for
    * zeros ∈ 1..64, computed ONCE on the JVM and embedded as literals in
    * BOTH engines (element_at lookup here, a list literal in the oracle
    * SQL) — Double.toString round-trips exactly, so the two engines use
    * bit-identical constants and the libm-vs-JVM ln ulp gap vanishes. */
  private[graft] val HllSmallRange: Seq[Double] =
    (1 to 64).map(z => 64.0 * math.log(64.0 / z))
  private[graft] val HllSmallRangeSql: String =
    HllSmallRange.map(_.toString).mkString("[", ", ", "]")

  /** Winnowing k-gram/window sizes (Schleimer et al., SIGMOD'03): word
    * 5-grams, window 4 — fingerprint density ≈ 2/(w+1) of all grams. */
  private val WinK = 5
  private val WinW = 4

  /** q116 blocklist: fixed phrase/word patterns over the synthetic corpus
    * vocabulary (stands in for a PII/contamination blocklist). */
  private val Blocklist = Seq(
    "batch part", "fast merge", "hash value", "key agg", "line sort",
    "merge batch", "row scan", "sort table", "spark", "table window",
    "value fast", "window key")

  /** Gopher-style stopword list shared with q95 (Rae et al. 2021). */
  private val Stops = Seq("the", "be", "to", "of", "and", "that", "have", "with", "a")

  /** q127/q133 quota frame: per-source token budget via capped-
    * proportional weights + largest-remainder rounding (Σ quota == B
    * exactly, all integer). Sources-sized; callers broadcast it. */
  private def mixQuotas(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = docs(s, dir)
      .groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("toks"))
      .withColumn("m", least(col("toks"), lit(1500L)))
      .persist()
    try {
    val tot = per.agg(sum(col("m")).as("mm"))
    val q = per.crossJoin(broadcast(tot))
      .withColumn("base", expr("(100000 * m) div mm"))
      .withColumn("rem", expr("(100000 * m) % mm"))
    val leftover = q.agg((lit(100000L) - sum(col("base"))).as("leftover"))
    q.crossJoin(broadcast(leftover))
      .withColumn("rk", row_number().over(
        Window.orderBy(col("rem").desc, col("source"))).cast("long"))
      .withColumn("quota",
        col("base") + when(col("rk") <= col("leftover"), 1L).otherwise(0L))
      .select(col("source"), col("toks"), col("quota"),
        expr("quota div toks").as("full_epochs"),
        expr("quota % toks").as("tail_toks"))
      .localCheckpoint() // eager |sources|-row result; finally frees per
    } finally { per.unpersist(); () }
  }

  /** The matching oracle chain, ending in CTE `quota`. */
  private def mixQuotaSql: String = """
        WITH per AS (
          SELECT source,
                 CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks,
                 least(CAST(sum(len(string_split(text, ' '))) AS BIGINT),
                       1500) AS m
          FROM documents GROUP BY source),
        tot AS (SELECT CAST(sum(m) AS BIGINT) AS mm FROM per),
        q AS (
          SELECT per.source, per.toks, per.m,
                 CAST((100000 * per.m) // tot.mm AS BIGINT) AS base,
                 CAST((100000 * per.m) % tot.mm AS BIGINT) AS rem
          FROM per, tot),
        l AS (SELECT CAST(100000 - sum(base) AS BIGINT) AS leftover FROM q),
        r AS (
          SELECT q.source, q.toks, q.base, q.rem, l.leftover,
                 row_number() OVER (ORDER BY q.rem DESC, q.source) AS rk
          FROM q, l),
        quota AS (
          SELECT source, toks,
                 CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                   AS BIGINT) AS quota,
                 CAST((base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
                   // toks AS BIGINT) AS full_epochs,
                 CAST((base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
                   % toks AS BIGINT) AS tail_toks
          FROM r)"""

  /** q131 phrase set: 2- and 3-word phrases drawn from the corpus
    * vocabulary (the trigrams verified present), plus a guaranteed
    * zero-hit phrase to exercise the left-join audit path. */
  private val Phrases = Seq(
    "table hash", "batch part", "slow hash batch", "part filter scan",
    "window fast query", "absent phrase probe")

  /** q117 hyperparameters — unrolled identically in the oracle SQL.
    * lr=10/iters=16 chosen by measured convergence: training accuracy
    * 0.830 vs the 0.696 keep base rate at sf0.01 (lr 20+ oscillates,
    * lr 1 barely moves off the majority class in 8 steps). */
  private val LrIters = 16
  private val Lr = 10.0

  /** 6dp round-lift: the house half-up that is exact in both engines. */
  private def r6(c: Column): Column = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)

  /** q128: number of BPE merges to train. */
  private val BpeMerges = 6

  /** q129: merges for the sample-trained tokenizer — deliberately past
    * the q128 toy count; batched supersteps keep the barrier count far
    * below one-per-merge (VERDICT r7 #5). */
  private[graft] val BpeSampleMerges = 32

  /** One leftmost-greedy merge scan — the kernel both the trainer's
    * per-generation pass and the encoder's rank-ordered apply share. */
  /** One-pass encoder: applies a rank-ordered merge list with EXACTLY the
    * semantics of composing `mergeScan` once per merge (the q129 contract
    * the DuckDB oracle replays), without the 32 sequential Seq-rebuilding
    * scans per document that made q129 the suite's most expensive query.
    *
    * Tokens live in a slot array threaded as a linked list; one initial
    * scan buckets each adjacent-pair position by its merge rank. Ranks
    * process in order, each bucket in ascending slot order (= leftmost-
    * first), entries validated against the live list at pop time (a merge
    * invalidates overlapping entries by rewriting/killing their slots — a
    * stale entry simply fails the string check). A merge at rank r forms
    * two new adjacencies; they enqueue ONLY for ranks > r: rank-r's scan
    * has already moved past them (mergeScan skips the merged token), and
    * passes < r are over — the exact pass-boundary semantics sequential
    * composition has. O(tokens + merges-applied) per doc vs O(ranks ×
    * tokens); `BpeEncodeSpec` pins equivalence on crafted overlap runs
    * and the real corpus.
    */
  private[graft] def encodeWithMerges(toks: Seq[String], ms: Seq[(String, String)]): Seq[String] = {
    val n = toks.length
    if (n < 2 || ms.isEmpty) return toks
    val ranks = scala.collection.mutable.HashMap.empty[(String, String), Int]
    ms.zipWithIndex.foreach { case (p, r) => if (!ranks.contains(p)) ranks.update(p, r) }
    if (ranks.size != ms.length) // duplicate trained pair (collision corner):
      return ms.foldLeft(toks) { case (cur, (x, y)) => mergeScan(cur, x, y) }
    val tok = toks.toArray
    val next = Array.tabulate(n)(_ + 1)
    val prev = Array.tabulate(n)(_ - 1)
    val alive = Array.fill(n)(true)
    val buckets = Array.fill(ms.length)(scala.collection.mutable.ArrayBuffer.empty[Int])
    var i = 0
    while (i + 1 < n) {
      ranks.get((tok(i), tok(i + 1))).foreach(r => buckets(r) += i)
      i += 1
    }
    var r = 0
    while (r < ms.length) {
      val (x, y) = ms(r)
      val b = buckets(r).sortInPlace()
      var k = 0
      while (k < b.length) {
        val p = b(k)
        if (alive(p) && tok(p) == x) {
          val j = next(p)
          if (j < n && alive(j) && tok(j) == y) {
            tok(p) = x + "_" + y
            alive(j) = false
            val nj = next(j)
            next(p) = nj
            if (nj < n) prev(nj) = p
            val pp = prev(p)
            if (pp >= 0 && alive(pp))
              ranks.get((tok(pp), tok(p))).foreach(rr => if (rr > r) buckets(rr) += pp)
            if (nj < n && alive(nj))
              ranks.get((tok(p), tok(nj))).foreach(rr => if (rr > r) buckets(rr) += p)
          }
        }
        k += 1
      }
      r += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var c = 0
    while (c < n) { if (alive(c)) out += tok(c); c += 1 }
    out.toSeq
  }

  private[graft] def mergeScan(toks: Seq[String], x: String, y: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < toks.length) {
      if (i + 1 < toks.length && toks(i) == x && toks(i + 1) == y) {
        out += toks(i) + "_" + toks(i + 1); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.toSeq
  }

  /** q128/q129 shared trainer: runs the merge loop and returns the merge
    * table plus the final tokenization frame (persisted; caller unpersists).
    * `sampleOnly` trains on the doc_id % 4 == 0 quarter — the
    * sample-train half of q129's sample-train / full-apply split.
    * See q128's comment for the superstep design rationale. */
  private[graft] def bpeTrain(s: SparkSession, dir: String,
                              sampleOnly: Boolean = false,
                              target: Int = BpeMerges,
                              maxBatch: Int = 32,
                              supersteps: Option[java.util.concurrent.atomic.AtomicInteger] = None)
      : (Seq[(Long, String, String, Long, Long)], DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    // one-pass linked-list encoder, NOT a mergeScan-per-merge loop: the
    // r11 certified-chain batches run to 20+ merges, and composing
    // mergeScan is O(batch × tokens) Seq rebuilds per doc per superstep
    // (measured 1.9 s for a 21-merge checkpoint). encodeWithMerges is
    // the same composition in O(tokens + applied) — equivalence pinned
    // by BpeEncodeSpec on crafted overlap runs and the real corpus.
    val applyBatch = udf((toks: Seq[String], xs: Seq[String], ys: Seq[String]) =>
      encodeWithMerges(toks, xs.zip(ys)))
    val base = docs(s, dir)
      // a NULL text row yields a NULL toks array, which NPEs the
      // batch-apply UDF (r12 hostile-content finding) — and a tokenizer
      // trains on content, so absence rows are dropped, not imputed
      .filter(col("text").isNotNull)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    var t = (if (sampleOnly) base.filter(col("doc_id") % 4 === 0) else base)
      .persist()
    // The superstep queries are many SMALL multi-stage jobs over the
    // cached chain; AQE's per-stage re-planning round-trips and 32-wide
    // micro-shuffles dominated wall clock (measured ~3 s/superstep on a
    // KB-sized sample — main thread parked in withFinalPlanUpdate).
    // Train with classic planning and narrow shuffles, restore after.
    // 4 partitions, not 8: KB-sized exchanges are pure task overhead
    // (r10 measured: q129 isolated 5.41 s at 8 → 4.86 s at 4, REPS=3;
    // on a real cluster the trainer input is a per-executor SAMPLE, so
    // narrow is correct there too).
    // SERIALIZED conf mutation (r11 review): Verify runs q128 and q129
    // concurrently on ONE SparkSession from its dump pool, and an
    // unsynchronized save/set/restore races — one trainer's finally
    // could restore mid-training of the other, then the other's finally
    // would leave the TRAINING conf (AQE off, 4 partitions) live for
    // every remaining query of the session. The JVM-wide lock makes the
    // save/mutate/train/restore atomic; the two BPE queries simply
    // serialize (seconds) instead of corrupting the session.
    BpeConfLock.synchronized {
    val prevAqe = s.conf.get("spark.sql.adaptive.enabled", "true")
    val prevParts = s.conf.get("spark.sql.shuffle.partitions", "32")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions",
      sys.env.getOrElse("SPARK_GRAFT_BPE_PARTS", "4"))
    try {
    var total = t.agg(sum(size(col("toks"))).cast("long")).collect()(0).getLong(0)
    val merges = Seq.newBuilder[(Long, String, String, Long, Long)]
    var trained = 0
    var exhausted = false
    // ONE definition shared by the stats job's .limit and the floorC
    // completeness test below: `floorC = MinValue when top.length <
    // statsLimitK` is only sound because top.length < limit PROVES the
    // collected set is the complete pair table — two copies of the
    // expression drifting apart would silently break the batch-soundness
    // stop rule (r11 review finding)
    val statsLimitK = math.max(maxBatch * 4, 8)
    while (trained < target && !exhausted) {
      supersteps.foreach(_.incrementAndGet())
      // ── superstep: ONE pair-stats job, then a BATCH of merges whose
      // sequential equivalence is provable from that single snapshot.
      // Selection rule (each clause is load-bearing for batched ≡
      // sequential, pinned by BpeBatchSpec):
      //  * the batch is a count-ordered PREFIX that is pairwise
      //    token-disjoint — disjoint merges cannot change each other's
      //    candidate sets OR each other's counts, so every selected
      //    pair's count is still its sequential-argmax count; the first
      //    CONFLICTING pair ends the batch because its post-merge count
      //    is unknown (it may still be the true next argmax);
      //  * a later pair enters only while its count STRICTLY exceeds
      //    the largest count any NEW pair minted by the already-selected
      //    merges could have. Every new pair has the minted token x_y as
      //    an endpoint and consumes one applied (x,y) occurrence per
      //    instance, so its count is bounded by the max NEIGHBOR-triple
      //    count of (x,y): max over w of #(w,x,y) and #(x,y,w) — and
      //    those triples are countable from the SAME snapshot (the
      //    occurrence explode carries each pair's prev/next token).
      //    (The applied-count bound alone is vacuous: for x≠y pairs
      //    applied = count, and c2 > c1 never holds.)
      // Applied occurrences (exact, not bounded): x≠y occurrences can
      // never overlap (an overlap would force x == y), so applied =
      // count; self-pairs overlap only on consecutive runs, where
      // leftmost-greedy keeps ceil(run/2).
      // Pair counts ride ONE light explode over the cached tokenization.
      // (An explicit wide occurrence frame — pos/neighbors included,
      // persisted, three consumers — was measured SLOWER: materializing
      // ~1M wide rows per superstep cost more than the consumers cost to
      // re-explode the 12.5k cached arrays, and `bound` touches only the
      // candidate-filtered sliver anyway.)
      // Pair counts AND mint bounds ride ONE action (round-10 verdict
      // #4: the superstep floor was barrier-bound — 10 × (top 0.20 s +
      // bound 0.30 s) of driver round-trips over KB-sized jobs). The
      // candidate table is no longer collected between the two
      // aggregations: the neighbor-triple max aggregates over ALL pairs
      // (the 8-token-ish vocabulary keeps the triple domain the same
      // order as the pair domain) and left-joins the counts, so one job
      // returns (x, y, c, mintBound) directly. A broadcast-the-top-N
      // in-plan variant was measured SLOWER (0.65 vs 0.50 s/step): with
      // no exchange reuse the limit subtree evaluates twice. Both
      // subtrees still re-explode the cached tokenization (measured
      // cheaper than materializing a wide occurrence frame, r9 note
      // below); column pruning gives the counts branch the light
      // x/y-only explode. (A pre-explode InSet filter on concat'd pair
      // keys was also measured SLOWER — 0.40 vs 0.30 s/step: 64-way
      // string concat+probe per token loses to vectorized aggregation.)
      // ONE aggregation chain for counts AND mint bounds: every pair
      // occurrence explodes to a 'c' marker row plus its non-null
      // neighbor rows, the fine groupBy counts (x, y, side, w) groups,
      // and the regroup derives c = the 'c' group's count (exactly the
      // occurrence count) and mx = max over the neighbor groups — the
      // same values the former two-branch plan (counts ⋈ tripleMax)
      // computed, but the exploded subtree evaluates ONCE and the join
      // disappears (the two branches' exchanges had different keys, so
      // ReuseExchange could never fire and the explode ran twice).
      val stats =
        t.select(explode(expr(
          "transform(slice(toks, 1, size(toks) - 1)," +
            " (t, i) -> struct(t AS x, toks[i + 1] AS y," +
            "   CASE WHEN i > 0 THEN toks[i - 1] ELSE NULL END AS wp," +
            "   get(toks, i + 2) AS wn))")).as("p"))
          .select(col("p.x").as("x"), col("p.y").as("y"), explode(array(
            struct(lit("c").as("side"), lit(null).cast("string").as("w")),
            struct(lit("p").as("side"), col("p.wp").as("w")),
            struct(lit("n").as("side"), col("p.wn").as("w")))).as("e"))
          .filter(col("e.side") === "c" || col("e.w").isNotNull)
          .groupBy(col("x"), col("y"), col("e.side"), col("e.w"))
          .agg(count(lit(1)).as("cnt"))
          .groupBy(col("x"), col("y"))
          .agg(max(when(col("side") === "c", col("cnt"))).as("c"),
            max(when(col("side") =!= "c", col("cnt"))).as("mx"))
          .orderBy(col("c").desc, col("x"), col("y"))
          .limit(statsLimitK)
          .collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2),
            if (r.isNullAt(3)) 0L else r.getLong(3)))
      val top = stats.map { case (x, y, c, _) => (x, y, c) }
      val newBound: Map[(String, String), Long] =
        stats.map { case (x, y, _, m) => (x, y) -> m }.toMap
      // applied counts for self-pairs are only needed for SELECTED pairs
      // (for the toks_after telescoping) — computed lazily after
      // selection, so the run-length job runs only on the rare superstep
      // that actually selects an x==x pair
      def selfApplied(selfSel: Seq[String]): Map[String, Long] =
        if (selfSel.isEmpty) Map.empty
        else t.select(col("doc_id"), explode(expr(
          "transform(slice(toks, 1, size(toks) - 1)," +
            " (t, i) -> struct(i AS pos, t AS x, toks[i + 1] AS y))")).as("p"))
          .select(col("doc_id"), col("p.pos").as("pos"),
            col("p.x").as("x"), col("p.y").as("y"))
          .filter(col("x") === col("y") && col("x").isin(selfSel: _*))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("doc_id"), col("x")).orderBy(col("pos"))))
          .groupBy(col("x"), col("doc_id"), (col("pos") - col("rn")).as("grp"))
          .agg(count(lit(1)).as("len"))
          .groupBy(col("x"))
          .agg(sum(expr("CAST(ceil(len / 2.0) AS BIGINT)")).as("applied"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      if (top.isEmpty) exhausted = true
      else {
        // ── batch selection: DRIVER-SIDE SEQUENTIAL SIMULATION with exact
        // count maintenance (round-11 verdict #4). The r10 rule stopped
        // the batch at the FIRST pair sharing a token with a selected
        // merge; r11 instrumentation showed every superstep stop was that
        // conflict rule (avg batch 3.2 of 16) while the mint bound never
        // bound (next count ~800 vs mint ~42) — and in the common case
        // (hot shared LEFT token: (the,quick) then (the,brown)) the
        // conflicting pair's count is provably UNCHANGED. So: simulate
        // the sequential argmax loop on the driver, updating counts
        // EXACTLY from the snapshot's neighbor-triple table.
        //
        // Exactness argument (each clause load-bearing, pinned by
        // BpeBatchSpec equality + the end-of-training token audit):
        //  * merging (x,y)→x_y never INCREASES an existing pair's count
        //    (the minted token sits between its neighbors; no new
        //    adjacency between existing tokens is ever created);
        //  * for x≠y the only existing pairs destroyed are (w,x) — by
        //    exactly #(w,x,y) occurrences — and (y,z) — by #(x,y,z);
        //    sites partition by the third token, so decreases from
        //    multiple merges never double-count;
        //  * those triple counts are snapshot-EXACT unless an earlier
        //    simulated merge touched them. Conservative poisoning covers
        //    every staleness channel: a decrease row whose third token w
        //    is dirty (an endpoint of an earlier admitted merge) poisons
        //    its target instead of updating it — this also kills the
        //    reversed-pair (y,x) double-count, since p's own endpoints
        //    enter `dirty` before p's effects apply; a pair admitted
        //    after being decreased (δ>0: some of its occurrences are
        //    gone, so ITS OWN effect triples are stale by unknowable
        //    4-gram amounts) poisons every pair sharing one of its
        //    tokens; a self-pair (runs, leftmost-greedy overlap) poisons
        //    its token's whole neighborhood. A poisoned pair carries its
        //    last-known count as an UPPER bound (counts only decrease),
        //    so selection stays sound: the batch ends when the ordered
        //    argmax lands on a poisoned pair.
        //  * sequential's argmax ranges over ALL pairs; ours over the
        //    collected top-K. Uncollected pairs are ≤ floorC (the K-th
        //    count) and only decrease, minted pairs are ≤ mintMax (the
        //    max neighbor-triple count of applied merges, still an upper
        //    bound post-destruction) — the batch ends when the argmax
        //    count stops strictly exceeding both.
        // The triple table is fetched LAZILY (one extra narrow job,
        // pairs ∈ top-K ∧ w ∈ tokens(top-K)) only when the simulation
        // first needs effects — a naturally-disjoint batch never pays.
        val capacity = math.min(maxBatch, target - trained)
        val floorC = if (top.length < statsLimitK) Long.MinValue else top.map(_._3).min
        def byteLt(a: String, b: String): Boolean = {
          val ab = a.getBytes("UTF-8"); val bb = b.getBytes("UTF-8")
          var i = 0
          while (i < ab.length && i < bb.length) {
            val c = (ab(i) & 0xff) - (bb(i) & 0xff)
            if (c != 0) return c < 0
            i += 1
          }
          ab.length < bb.length
        }
        // (count desc, x asc, y asc) in Spark's binary string order — the
        // exact ORDER BY of the stats job / sequential selection
        def before(a: ((String, String), Long), b: ((String, String), Long)): Boolean =
          a._2 > b._2 || (a._2 == b._2 && (byteLt(a._1._1, b._1._1) ||
            (a._1._1 == b._1._1 && byteLt(a._1._2, b._1._2))))
        val cur = scala.collection.mutable.LinkedHashMap.from(
          top.map { case (x, y, c) => (x, y) -> c })
        val poisoned = scala.collection.mutable.Set.empty[(String, String)]
        val decreased = scala.collection.mutable.Set.empty[(String, String)]
        val dirty = scala.collection.mutable.Set.empty[String]
        var fine: Map[(String, String, String, String), Long] = null
        def fetchFine(): Unit = if (fine == null) fine = {
          val pairKeys = top.map { case (x, y, _) => x + "\u0001" + y }
          val toks = top.flatMap { case (x, y, _) => Seq(x, y) }.distinct
          t.select(explode(expr(
            "transform(slice(toks, 1, size(toks) - 1)," +
              " (t, i) -> struct(t AS x, toks[i + 1] AS y," +
              "   CASE WHEN i > 0 THEN toks[i - 1] ELSE NULL END AS wp," +
              "   get(toks, i + 2) AS wn))")).as("p"))
            .filter(concat_ws("\u0001", col("p.x"), col("p.y"))
              .isInCollection(pairKeys))
            .select(col("p.x").as("x"), col("p.y").as("y"), explode(array(
              struct(lit("p").as("side"), col("p.wp").as("w")),
              struct(lit("n").as("side"), col("p.wn").as("w")))).as("e"))
            .filter(col("e.w").isNotNull && col("e.w").isInCollection(toks))
            .groupBy(col("x"), col("y"), col("e.side"), col("e.w"))
            .agg(count(lit(1)).as("cnt"))
            .collect()
            .map(r => (r.getString(0), r.getString(1), r.getString(2),
              r.getString(3)) -> r.getLong(4)).toMap
        }
        val picked = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
        var mintMax = -1L // upper bound on any pair minted so far
        var stop = false
        while (!stop && picked.size < capacity && cur.nonEmpty) {
          val (p, cP) = cur.foldLeft(cur.head) { (b, e) => if (before(e, b)) e else b }
          if ((picked.nonEmpty && (cP <= mintMax || cP <= floorC)) || poisoned(p) ||
              (p._1 == p._2 && dirty(p._1))) stop = true
          else {
            picked += ((p._1, p._2, cP))
            cur.remove(p)
            mintMax = math.max(mintMax, newBound.getOrElse(p, 0L))
            if (picked.size < capacity) { // effects only needed if continuing
              if (p._1 == p._2) {
                // self-merge: run/overlap dynamics — poison the whole
                // token neighborhood, admit only disjoint pairs after
                dirty += p._1
                cur.keysIterator.filter(q => q._1 == p._1 || q._2 == p._1)
                  .foreach(poisoned += _)
              } else if (decreased(p)) {
                // p lost occurrences to earlier merges: its own effect
                // triples are stale (4-gram territory) — poison neighbors
                dirty += p._1; dirty += p._2
                cur.keysIterator.filter(q => q._1 == p._1 || q._2 == p._1 ||
                  q._1 == p._2 || q._2 == p._2).foreach(poisoned += _)
              } else {
                fetchFine()
                dirty += p._1; dirty += p._2 // BEFORE effects: reversed-pair guard
                // NEVER touch a poisoned pair's stored value: it is the
                // last certified count, kept as an UPPER bound (counts
                // only decrease). Decreasing it further with a possibly-
                // overcounted stale delta could push it BELOW the true
                // count, and the ends-on-poisoned-argmax stop rule is
                // only sound while stored ≥ true.
                cur.keysIterator.toSeq.filterNot(poisoned).foreach { q =>
                  // decrease of (w, p.x) = #(w, p.x, p.y); of (p.y, z) = #(p.x, p.y, z)
                  val touchesP = q._2 == p._1 || q._1 == p._2
                  if (touchesP) {
                    val viaDirty = (q._2 == p._1 && dirty(q._1)) ||
                      (q._1 == p._2 && dirty(q._2))
                    if (viaDirty) {
                      // the triple's third token was itself rewritten by an
                      // earlier merge — its snapshot count is untrustworthy
                      poisoned += q
                    } else {
                      val dp = if (q._2 == p._1)
                        fine.getOrElse((p._1, p._2, "p", q._1), 0L) else 0L
                      val dn = if (q._1 == p._2)
                        fine.getOrElse((p._1, p._2, "n", q._2), 0L) else 0L
                      if (dp + dn > 0) { cur(q) = cur(q) - dp - dn; decreased += q }
                    }
                  }
                }
              }
            }
          }
        }
        val selfA = selfApplied(picked.collect { case (x, y, _) if x == y => x }.toSeq)
        val sel = picked.map { case (x, y, c) =>
          (x, y, c, if (x == y) selfA(x) else c) }
        // localCheckpoint, NOT persist: persist caches rows but keeps the
        // full lineage, so by generation ~20 every superstep job re-
        // analyzes a UDF chain of all prior generations and the
        // optimizer cost goes superlinear (measured: 32-merge training
        // ran minutes instead of seconds). The eager checkpoint cuts the
        // plan at each generation and doubles as the superstep barrier.
        val next = t.select(col("doc_id"),
          applyBatch(col("toks"), typedlit(sel.map(_._1).toSeq),
            typedlit(sel.map(_._2).toSeq)).as("toks"))
          .localCheckpoint() // eager: the superstep barrier
        // per-merge toks_after telescopes from the exact applied counts;
        // the END-OF-TRAINING measurement below cross-checks the whole
        // telescope (equivalent invariant to a per-batch count, minus
        // one full-scan job per superstep — measured 0.12 s × 10 steps).
        // SPARK_GRAFT_BPE_AUDIT=per-batch restores the per-superstep
        // count so a failing end-of-training audit can be localized to
        // the offending batch (debug mode only — costs the full-scan
        // job per superstep the end-of-training form exists to avoid).
        var running = total
        sel.foreach { case (x, y, c, applied) =>
          running -= applied
          merges += ((trained.toLong, x, y, c, running))
          trained += 1
        }
        total = running
        if (sys.env.get("SPARK_GRAFT_BPE_AUDIT").contains("per-batch")) {
          val batchMeasured = next.agg(sum(size(col("toks"))).cast("long"))
            .collect()(0).getLong(0)
          require(batchMeasured == total,
            s"BPE per-batch audit: telescoped $total != measured $batchMeasured " +
              s"after batch ending at merge ${trained - 1} (${sel.size} merges: " +
              s"${sel.map { case (x, y, _, a) => s"($x,$y)→$a" }.mkString(", ")})")
        }
        t.unpersist()
        t = next
      }
    }
    val measured = t.agg(sum(size(col("toks"))).cast("long"))
      .collect()(0).getLong(0)
    require(measured == total,
      s"BPE training audit: telescoped token count $total != measured " +
        s"$measured — an applied-occurrence count is wrong somewhere in ${merges.result().size} merges")
    (merges.result(), t)
    } finally {
      s.conf.set("spark.sql.adaptive.enabled", prevAqe)
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    }
  }

  private object BpeConfLock

  /** q128 oracle: one BPE merge iteration as chained CTEs. Leftmost-greedy
    * merging of overlapping occurrences (the only overlaps are consecutive
    * positions, possible only when x == y) is replayed as gaps-and-islands:
    * within each maximal run of consecutive candidate positions, keep the
    * odd-ranked ones. Simulated against a positional reference scan on both
    * the real corpus and crafted `a a a a` runs — identical merges and
    * final tokenizations. MATERIALIZED is load-bearing: each t$i is
    * referenced ~5 times and naive inlining is exponential in iterations. */
  private def bpeTopSql(i: Int, pfx: String): String = s"""
        p$i AS MATERIALIZED (
          SELECT a.tok AS x, b.tok AS y, count(*) AS c
          FROM $pfx$i a JOIN $pfx$i b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
          GROUP BY 1, 2),
        top$i AS MATERIALIZED (
          SELECT x, y, c FROM p$i ORDER BY c DESC, x, y LIMIT 1)"""

  /** One merge application over the `pfx` chain, using top$i (which may
    * have been learned on a DIFFERENT chain — q129 trains on the sample
    * chain `s` and applies to the full chain `t`). */
  private def bpeMergeSql(i: Int, pfx: String): String = s"""
        cand$pfx$i AS (
          SELECT a.doc_id, a.pos
          FROM $pfx$i a JOIN $pfx$i b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1,
               top$i tp
          WHERE a.tok = tp.x AND b.tok = tp.y),
        keep$pfx$i AS MATERIALIZED (
          SELECT doc_id, pos FROM (
            SELECT doc_id, pos,
                   row_number() OVER (PARTITION BY doc_id, pos - rn
                                      ORDER BY pos) AS k
            FROM (SELECT doc_id, pos,
                         row_number() OVER (PARTITION BY doc_id
                                            ORDER BY pos) AS rn
                  FROM cand$pfx$i) c1) c2
          WHERE k % 2 = 1),
        $pfx${i + 1} AS MATERIALIZED (
          SELECT doc_id,
                 CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                   AS BIGINT) AS pos,
                 tok
          FROM (
            SELECT s.doc_id, s.pos,
                   CASE WHEN k.pos IS NOT NULL THEN s.tok || '_' || nx.tok
                        ELSE s.tok END AS tok
            FROM $pfx$i s
            LEFT JOIN keep$pfx$i k ON s.doc_id = k.doc_id AND s.pos = k.pos
            LEFT JOIN $pfx$i nx ON s.doc_id = nx.doc_id AND nx.pos = s.pos + 1
            LEFT JOIN keep$pfx$i k2 ON s.doc_id = k2.doc_id AND s.pos = k2.pos + 1
            WHERE k2.pos IS NULL) m)"""

  private def bpeIterSql(i: Int): String =
    bpeTopSql(i, "t") + "," + bpeMergeSql(i, "t")

  /** q117/q130 engine-side trainer pieces: the feature frame, the micro-
    * unit z column for a weight vector, and the gradient-descent loop.
    * Kept bit-identical to the oracle chain below. */
  /** `tag` = per-CALLER cache identity (the minhashBands discipline):
    * q117 and q130 both persist this frame, and Spark's cache manager
    * dedupes persist() by canonicalized plan — untagged, the two queries
    * share ONE cache entry under Verify's concurrent pool and either's
    * `finally unpersist` drops it under the other (the r17 q130 flake's
    * enabling condition). The literal keeps the entries disjoint. */
  private[graft] def logregFeatures(s: SparkSession, dir: String,
                                    tag: String = "shared"): DataFrame =
    docs(s, dir)
      .withColumn("_q", lit(tag))
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("wc", size(col("toks")))
      .filter(col("wc") > 0)
      .withColumn("nstop",
        size(filter(col("toks"), t => t.isInCollection(Stops))))
      .withColumn("ndist", size(array_distinct(col("toks"))))
      // LONG accumulator (oracle sums BIGINT): an Int would silently wrap
      // on a pathological >2^31-char document in Spark only (r11 review)
      .withColumn("tot", aggregate(col("toks"), lit(0L), (a, t) => a + length(t).cast("long")))
      .withColumn("nalpha", size(filter(col("toks"), t => t.rlike("[a-z]"))))
      .select(
        r6(least(col("wc"), lit(300)).cast("double") / lit(300.0)).as("x1"),
        r6(col("nstop").cast("double") / col("wc")).as("x2"),
        r6(col("ndist").cast("double") / col("wc")).as("x3"),
        r6(col("tot").cast("double") / (col("wc") * lit(10.0))).as("x4"),
        when(col("wc").between(30, 100000) &&
          (col("tot").cast("double") / col("wc")).between(3.8, 10.0) &&
          col("nalpha").cast("double") / col("wc") >= 0.8 &&
          col("nstop") >= 2, lit(1.0)).otherwise(lit(0.0)).as("y"))
      // Narrow the PERSISTED frame, not the compute: tokenization/HOF
      // feature extraction above runs at full scan width, then this
      // exchange ships 5 doubles/row so the 16 sequential GD jobs scan
      // few cached partitions instead of 32. The r13 AbConst attribution
      // put q130's cost in exactly those jobs (2.8 of 3.9 s = per-task
      // overhead on KB-sized cached data, 17 × 33 tasks); same
      // narrow-training rationale as bpeTrain's window. The target is
      // CLUSTER-PROPORTIONAL (r13 review: a hardcoded 4 capped a
      // corpus-sized frame at 4-way parallelism at any cluster size):
      // an eighth of defaultParallelism, floored at the measured-best
      // local 4 — a 1000-executor run keeps hundreds of partitions for
      // the cache and the GD aggregates. Results are
      // partition-independent (integer-lifted sums).
      .repartition(math.max(4, s.sparkContext.defaultParallelism / 8))

  private[graft] def zCol(w: Array[Long]): Column =
    lit(w(0)) / lit(1e6) + lit(w(1)) / lit(1e6) * col("x1") +
      lit(w(2)) / lit(1e6) * col("x2") + lit(w(3)) / lit(1e6) * col("x3") +
      lit(w(4)) / lit(1e6) * col("x4")

  /** The algebraic sigmoid shared by trainer and calibration scoring. */
  private[graft] def sigCol: Column =
    lit(0.5) * (lit(1.0) + col("z") / (lit(1.0) + abs(col("z"))))

  private[graft] def logregTrain(f: DataFrame, n: Long): Array[Long] = {
    val w = Array.fill(5)(0L) // micro-unit ints: bias, w1..w4
    def liftSum(c: Column): Column = sum(floor(c * lit(1e6) + lit(0.5)).cast("long"))
    // Same classic-planning window as bpeTrain, same lock: 16 sequential
    // KB-sized aggregate jobs over the 4-partition cached feature frame
    // are exactly the shape where AQE's per-stage re-planning round-trips
    // dominate (the r13 AbConst attribution put q130's cost here). The
    // shared lock serializes every trainer's save/mutate/restore so a
    // concurrent trainer's finally can't restore mid-window.
    val s = f.sparkSession
    BpeConfLock.synchronized {
      val prevAqe = s.conf.get("spark.sql.adaptive.enabled", "true")
      s.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        for (_ <- 1 to LrIters) {
          val staged = f.withColumn("z", zCol(w)).withColumn("s", sigCol)
          val g = staged.select(
            liftSum(col("s") - col("y")).as("gb"),
            liftSum(col("x1") * (col("s") - col("y"))).as("g1"),
            liftSum(col("x2") * (col("s") - col("y"))).as("g2"),
            liftSum(col("x3") * (col("s") - col("y"))).as("g3"),
            liftSum(col("x4") * (col("s") - col("y"))).as("g4")).head()
          for (j <- 0 to 4)
            w(j) = w(j) - math.floor(Lr * g.getLong(j).toDouble / n + 0.5).toLong
        }
      } finally s.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    w
  }

  private def lrZSql(w: String) =
    s"""(($w.wb / 1000000.0) + ($w.w1 / 1000000.0) * x1 + ($w.w2 / 1000000.0) * x2 +
        ($w.w3 / 1000000.0) * x3 + ($w.w4 / 1000000.0) * x4)"""

  /** q117/q130 oracle: the full-batch gradient-descent recurrence unrolled
    * as chained CTEs in exact micro-unit integer space (the q97 PageRank
    * pattern). Weights live as BIGINT micro-units; z and the algebraic
    * sigmoid are fixed-order double expressions; every per-row gradient
    * term is lifted to an integer BEFORE the sum so accumulation order
    * cannot matter. `logregChainSql` is the shared WITH-chain through the
    * trained weights; q117 and q130 append their own final CTEs.
    */
  private def logregChainSql: String = {
    def zSql(w: String) = lrZSql(w)
    val iters = (1 to LrIters).map { t =>
      val p = s"w${t - 1}"
      s"""
      s$t AS MATERIALIZED (SELECT x1, x2, x3, x4, y,
                     0.5 * (1.0 + z / (1.0 + abs(z))) AS s
              FROM (SELECT f.*, ${zSql(p)} AS z FROM feat f CROSS JOIN $p)),
      g$t AS MATERIALIZED (SELECT
                sum(CAST(floor((s - y) * 1000000.0 + 0.5) AS BIGINT)) AS gb,
                sum(CAST(floor(x1 * (s - y) * 1000000.0 + 0.5) AS BIGINT)) AS g1,
                sum(CAST(floor(x2 * (s - y) * 1000000.0 + 0.5) AS BIGINT)) AS g2,
                sum(CAST(floor(x3 * (s - y) * 1000000.0 + 0.5) AS BIGINT)) AS g3,
                sum(CAST(floor(x4 * (s - y) * 1000000.0 + 0.5) AS BIGINT)) AS g4
              FROM s$t),
      w$t AS MATERIALIZED (SELECT
                $p.wb - CAST(floor($Lr * CAST(gb AS DOUBLE) / nn.n + 0.5) AS BIGINT) AS wb,
                $p.w1 - CAST(floor($Lr * CAST(g1 AS DOUBLE) / nn.n + 0.5) AS BIGINT) AS w1,
                $p.w2 - CAST(floor($Lr * CAST(g2 AS DOUBLE) / nn.n + 0.5) AS BIGINT) AS w2,
                $p.w3 - CAST(floor($Lr * CAST(g3 AS DOUBLE) / nn.n + 0.5) AS BIGINT) AS w3,
                $p.w4 - CAST(floor($Lr * CAST(g4 AS DOUBLE) / nn.n + 0.5) AS BIGINT) AS w4
              FROM $p CROSS JOIN g$t CROSS JOIN nn)"""
    }.mkString(",")
    val stopsList = Stops.map(s => s"'$s'").mkString("(", ", ", ")")
    s"""
      WITH raw AS (
        SELECT ${TextOps.tokensSql("text")} AS toks FROM documents),
      base AS (
        SELECT len(toks) AS wc,
               len(list_filter(toks, t -> t IN $stopsList)) AS nstop,
               len(list_distinct(toks)) AS ndist,
               CAST(list_sum(list_transform(toks, t -> len(t))) AS BIGINT) AS tot,
               CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                 AS BIGINT) AS nalpha
        FROM raw WHERE len(toks) > 0),
      feat AS MATERIALIZED (
        SELECT floor(least(wc, 300) / 300.0 * 1000000.0 + 0.5) / 1000000.0 AS x1,
               floor(CAST(nstop AS DOUBLE) / wc * 1000000.0 + 0.5) / 1000000.0 AS x2,
               floor(CAST(ndist AS DOUBLE) / wc * 1000000.0 + 0.5) / 1000000.0 AS x3,
               floor(CAST(tot AS DOUBLE) / (wc * 10.0) * 1000000.0 + 0.5) / 1000000.0 AS x4,
               CASE WHEN wc BETWEEN 30 AND 100000
                     AND CAST(tot AS DOUBLE) / wc BETWEEN 3.8 AND 10.0
                     AND CAST(nalpha AS DOUBLE) / wc >= 0.8
                     AND nstop >= 2
                    THEN 1.0 ELSE 0.0 END AS y
        FROM base),
      nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM feat),
      w0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS wb, CAST(0 AS BIGINT) AS w1,
                    CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3,
                    CAST(0 AS BIGINT) AS w4),
      $iters"""
  }

  private def logregSql: String = s"""
      $logregChainSql,
      accq AS (
        SELECT floor(CAST(sum(CASE WHEN (z >= 0) = (y = 1.0) THEN 1 ELSE 0 END)
                       AS DOUBLE) / nn.n * 1000000.0 + 0.5) / 1000000.0 AS acc
        FROM (SELECT f.y, ${lrZSql(s"w$LrIters")} AS z
              FROM feat f CROSS JOIN w$LrIters) CROSS JOIN nn
        GROUP BY nn.n)
      SELECT term, value FROM (
        SELECT 'bias' AS term, wb / 1000000.0 AS value FROM w$LrIters
        UNION ALL SELECT 'w_len', w1 / 1000000.0 FROM w$LrIters
        UNION ALL SELECT 'w_stop', w2 / 1000000.0 FROM w$LrIters
        UNION ALL SELECT 'w_distinct', w3 / 1000000.0 FROM w$LrIters
        UNION ALL SELECT 'w_wordlen', w4 / 1000000.0 FROM w$LrIters
        UNION ALL SELECT 'train_acc', acc FROM accq)
      ORDER BY term"""

  val defs: Seq[QueryDef] = Seq(

    // ── q115: winnowing fingerprints (Schleimer et al., SIGMOD'03 —
    //   the MOSS index): word-5-gram rolling hashes, and from every
    //   window of 4 consecutive gram hashes select the minimum (rightmost
    //   on ties). The guarantee: any shared run of ≥ k+w-1 words between
    //   two documents shares at least one FINGERPRINT — so the pair join
    //   happens in the ~2/(w+1)-density fingerprint space, never the full
    //   gram space (q114's inverted index, an order of magnitude
    //   smaller). Engine picks each window's rightmost-min in ONE
    //   aggregation via min(struct(h, -pos)) — lexicographic struct
    //   ordering gives min-hash-then-max-pos; the oracle states the same
    //   selection as a min-join. Everything up to the pair join is
    //   doc-local; the pair join shuffles fingerprints only. ──
    QueryDef("q115_winnowing",
      (s, dir) => {
        val grams = docs(s, dir)
          .withColumn("words", split(col("text"), " "))
          .filter(size(col("words")) >= WinK + WinW - 1)
          .withColumn("m", (size(col("words")) - lit(WinK - 1)).cast("long"))
          .withColumn("pos", explode(expr(s"sequence(1, size(words) - ${WinK - 1})")))
          .select(col("doc_id"), col("m"), col("pos").cast("long").as("pos"),
            XHash.hash60(expr(s"concat_ws(' ', slice(words, pos, $WinK))")).as("h"))
        // each gram at pos serves windows i ∈ [max(1,pos-w+1), min(pos, m-w+1)]
        val wins = grams.withColumn("i", explode(expr(
          s"sequence(greatest(1L, pos - ${WinW - 1}), least(pos, m - ${WinW - 1}))")))
        val sel = wins
          .groupBy(col("doc_id"), col("i"))
          .agg(min(struct(col("h"), (-col("pos")).as("np"))).as("s"))
          .select(col("doc_id"), col("s.h").as("h"), (-col("s.np")).as("pos"))
        // persisted: fp feeds BOTH sides of the pair self-join, and each
        // side prunes differently so ReuseExchange can't fire — uncached
        // the whole gram+window subtree derived twice (the q114 lesson)
        val fp = sel.select(col("doc_id"), col("pos"), col("h")).distinct().persist()
        val a = fp.select(col("doc_id").as("doc_a"), col("h"))
        val b = fp.select(col("doc_id").as("doc_b"), col("h"))
        a.join(b, Seq("h"))
          .filter(col("doc_a") < col("doc_b"))
          .groupBy(col("doc_a"), col("doc_b"))
          .agg(countDistinct(col("h")).as("n_shared"))
          .orderBy(col("n_shared").desc, col("doc_a"), col("doc_b"))
          .limit(20)
      },
      Some(s"""
        WITH wrd AS (
          SELECT doc_id, string_split(text, ' ') AS words FROM documents
          WHERE len(string_split(text, ' ')) >= ${WinK + WinW - 1}),
        grams AS (
          SELECT doc_id, CAST(len(words) - ${WinK - 1} AS BIGINT) AS m,
                 CAST(t.pos AS BIGINT) AS pos,
                 ${XHash.hash60Sql(s"array_to_string(words[t.pos:t.pos+${WinK - 1}], ' ')")} AS h
          FROM wrd, unnest(range(1, len(words) - ${WinK - 1} + 1)) AS t(pos)),
        wins AS (
          SELECT doc_id, pos, h, CAST(i.i AS BIGINT) AS i
          FROM grams, unnest(range(greatest(1, pos - ${WinW - 1}),
                                   least(pos, m - ${WinW - 1}) + 1)) AS i(i)),
        wm AS (SELECT doc_id, i, min(h) AS wmin FROM wins GROUP BY doc_id, i),
        sel AS (
          SELECT w.doc_id, w.i, max(w.pos) AS pos, min(w.h) AS h
          FROM wins w JOIN wm ON w.doc_id = wm.doc_id AND w.i = wm.i
                              AND w.h = wm.wmin
          GROUP BY w.doc_id, w.i),
        fp AS (SELECT DISTINCT doc_id, pos, h FROM sel)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               count(DISTINCT a.h) AS n_shared
        FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        ORDER BY n_shared DESC, doc_a, doc_b LIMIT 20""")),

    // ── q116: Aho-Corasick blocklist filtering — ONE automaton pass per
    //   document finds every pattern of the list (overlaps, nested
    //   suffixes, phrases across spaces), versus the P-scans-per-doc the
    //   oracle's contains() join states. The automaton is built once on
    //   the driver and ships in the task closure (pattern lists are
    //   KB-sized; documents never shuffle at all — this is a map-only
    //   plan ending in a vocabulary-sized aggregate). The scan
    //   early-exits once every pattern has been seen. ──
    QueryDef("q116_blocklist_ac",
      (s, dir) => {
        val ac = AhoCorasick.build(Blocklist)
        val pats = Blocklist.zipWithIndex
        val scan = udf((t: String) => ac.matchedPatterns(if (t == null) "" else t))
        val patDf = s.createDataFrame(pats.map { case (p, i) => (i, p) })
          .toDF("pid", "pattern")
        docs(s, dir)
          .select(explode(scan(col("text"))).as("pid"))
          .groupBy(col("pid")).agg(count(lit(1)).as("n_docs"))
          .join(broadcast(patDf), Seq("pid"))
          .select(col("pattern"), col("n_docs"))
          .orderBy(col("pattern"))
      },
      Some(s"""
        WITH pats AS (
          SELECT * FROM (VALUES ${Blocklist.map(p => s"('$p')").mkString(", ")}) p(pattern))
        SELECT p.pattern, count(*) AS n_docs
        FROM documents d JOIN pats p ON contains(d.text, p.pattern)
        GROUP BY p.pattern ORDER BY p.pattern""")),

    // ── q117: logistic-regression quality classifier TRAINED INSIDE THE
    //   ENGINE — the fastText-style quality filter every curation
    //   pipeline runs (CCNet, DCLM), expressed as what it really is at
    //   100 TB: full-batch gradient descent where each step is one
    //   map-side-combinable aggregation over the (persisted) feature
    //   frame and the weight vector is a handful of driver scalars
    //   broadcast into the next step's expressions (the q97 superstep
    //   pattern — the driver loop is control flow; all data work stays
    //   distributed). Bit-exact across engines BY CONSTRUCTION: weights
    //   live as micro-unit integers, per-row gradient terms are lifted
    //   to integers before summing (order-free), and the sigmoid is the
    //   algebraic 0.5·(1 + z/(1+|z|)) — no libm transcendentals, so the
    //   16-step recurrence lands on identical bits in Spark and DuckDB.
    //   Features: length, stopword ratio, distinct-token ratio, mean
    //   word length. Label: q95's Gopher rule verdict — the classifier
    //   DISTILLS the hard rule filter into a smooth scorer (the
    //   DCLM/fastText quality-filter pattern: train on rule-labeled
    //   data, deploy the score). Trains to 0.830 accuracy vs the 0.696
    //   majority base at sf0.01 — it genuinely learns the rule's
    //   threshold geometry from correlated-but-different features.
    //   Output: trained weights + training accuracy. ──
    QueryDef("q117_logreg_quality",
      (s, dir) => {
        import s.implicits._
        val f = logregFeatures(s, dir, "q117").persist()
        try {
          val n = f.count()
          val w = logregTrain(f, n)
          val correct = f.withColumn("z", zCol(w))
            .select(sum(when((col("z") >= 0) === (col("y") === 1.0), 1L)
              .otherwise(0L)).as("c")).head().getLong(0)
          val acc = math.floor(correct.toDouble / n * 1e6 + 0.5) / 1e6
          Seq(
            ("bias", w(0).toDouble / 1e6),
            ("w_len", w(1).toDouble / 1e6),
            ("w_stop", w(2).toDouble / 1e6),
            ("w_distinct", w(3).toDouble / 1e6),
            ("w_wordlen", w(4).toDouble / 1e6),
            ("train_acc", acc)).toDF("term", "value").orderBy(col("term"))
        } finally f.unpersist()
      },
      Some(logregSql)),

    // ── q130: CALIBRATION audit for the distilled quality classifier —
    //   the eval a filter model needs before its scores gate a corpus:
    //   reliability bins (predicted-confidence deciles vs observed keep
    //   rate) plus expected calibration error, all in micro-unit integer
    //   space so the audit is bit-identical cross-engine (per-row scores
    //   integer-lift BEFORE summing; bin means and gaps are integer
    //   divisions; ECE is the n-weighted gap sum div N). Re-trains
    //   q117's weights (same superstep loop), then ONE scoring pass and
    //   a 10-group reduce — the corpus never shuffles, only decile
    //   partials do. The ece row rides along as bin = -1. ──
    QueryDef("q130_calibration",
      (s, dir) => {
        import s.implicits._
        val f = logregFeatures(s, dir, "q130").persist()
        try {
          val n = f.count()
          val w = logregTrain(f, n)
          val b = f.withColumn("z", zCol(w)).withColumn("sg", sigCol)
            .withColumn("bin", least(floor(col("sg") * 10).cast("long"), lit(9L)))
            .groupBy(col("bin"))
            .agg(count(lit(1)).as("n_docs"),
              sum(floor(col("sg") * lit(1e6) + lit(0.5)).cast("long")).as("pred_micro"),
              sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("pos"))
            .withColumn("conf_micro", expr("pred_micro div n_docs"))
            .withColumn("obs_micro", expr("(pos * 1000000) div n_docs"))
            .withColumn("gap_micro", abs(col("conf_micro") - col("obs_micro")))
            .select(col("bin"), col("n_docs"), col("conf_micro"),
              col("obs_micro"), col("gap_micro"))
          // ONE evaluation of the ≤10-row decile frame, through the
          // Bounded contract; the ece rollup is exact integer arithmetic
          // over those driver-local rows. History: the r17 gate flaked
          // this query to 1 row (lazy union over a persisted-then-
          // unpersisted bin frame), and the r18 eager-checkpoint rewrite
          // STILL collapsed once under VerifyStressSpec's clearCache
          // hammering (the union's ece branch re-read the bin frame's
          // cache entry mid-drop). A driver-computed ece has no second
          // read to race: the corpus is touched exactly once past
          // training, and the returned frame is a local Seq.
          val bins = Bounded.collectBounded(b, 16,
            "calibration deciles (≤10 bins by construction)")
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4)))
            .sortBy(_._1)
          require(bins.map(_._2).sum == n,
            s"calibration bins lost rows: ${bins.map(_._2).sum} != $n " +
              "— a cache race returned a partial decile frame")
          val gapSum = bins.map(bb => bb._5 * bb._2).sum // ≤ 1e6·n, fits long
          val ece = (-1L, n, 0L, 0L, gapSum / n)
          (ece +: bins).toSeq // bin asc, ece (bin = -1) first, as ORDER BY bin
            .toDF("bin", "n_docs", "conf_micro", "obs_micro", "gap_micro")
        } finally f.unpersist()
      },
      Some(s"""
        $logregChainSql,
        sc AS MATERIALIZED (
          SELECT y, 0.5 * (1.0 + z / (1.0 + abs(z))) AS s
          FROM (SELECT f.*, ${lrZSql(s"w$LrIters")} AS z
                FROM feat f CROSS JOIN w$LrIters)),
        b AS MATERIALIZED (
          SELECT least(CAST(floor(s * 10.0) AS BIGINT), 9) AS bin,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(CAST(floor(s * 1000000.0 + 0.5) AS BIGINT))
                   AS BIGINT) AS pred_micro,
                 CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
          FROM sc GROUP BY 1),
        pb AS (
          SELECT bin, n_docs,
                 pred_micro // n_docs AS conf_micro,
                 (pos * 1000000) // n_docs AS obs_micro,
                 abs(pred_micro // n_docs - (pos * 1000000) // n_docs)
                   AS gap_micro
          FROM b)
        SELECT bin, n_docs, conf_micro, obs_micro, gap_micro FROM pb
        UNION ALL
        SELECT CAST(-1 AS BIGINT), nn.n, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               CAST((SELECT sum(gap_micro * n_docs) FROM pb) // nn.n AS BIGINT)
        FROM nn
        ORDER BY bin""")),

    // ── q150: classifier AUC (r18) — the third leg of the quality-filter
    //   eval triad: q117 trains, q130 calibrates, this ranks. AUC is the
    //   Mann-Whitney pair statistic, computed HISTOGRAM-first so it needs
    //   no global sort of the corpus: scores quantize to integer
    //   micro-units (the q130 lift), so the score DOMAIN is ≤ 1e6+1
    //   distinct values BY CONSTRUCTION — corpus-independent — and the
    //   cumulative-negatives window runs on that bounded frame, never on
    //   data-sized rows. Ties get the standard half credit (each pos=neg
    //   tie contributes 1 to the 2×-scaled pair sum); per-bucket pair
    //   products lift to DECIMAL before multiplying (npos·nneg overflows
    //   a long at ~10^10 docs), and the single division that produces the
    //   AUC runs on exact integers in both engines. 100 TB shape: one
    //   map-side-combinable groupBy(s_micro), one ≤1e6-row window, one
    //   1-row aggregate. ──
    QueryDef("q150_classifier_auc",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.types.DecimalType
        val D = DecimalType(38, 0)
        val f = logregFeatures(s, dir, "q150").persist()
        try {
          val n = f.count()
          val w = logregTrain(f, n)
          val hist = f.withColumn("z", zCol(w)).withColumn("sg", sigCol)
            .withColumn("s_micro", floor(col("sg") * lit(1e6) + lit(0.5)).cast("long"))
            .groupBy(col("s_micro"))
            .agg(sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("np"),
              sum(when(col("y") === 1.0, 0L).otherwise(1L)).as("nn"))
          // global-order window, but over the BOUNDED quantized domain
          // (≤ 1e6+1 rows at any corpus size) — not a corpus sort
          val wcum = Window.orderBy(col("s_micro"))
            .rowsBetween(Window.unboundedPreceding, -1)
          PlanProbe.probe("q150_classifier_auc",
            hist
              .withColumn("cneg", coalesce(sum(col("nn")).over(wcum), lit(0L)))
              .agg(sum(col("np")).as("n_pos"), sum(col("nn")).as("n_neg"),
                sum(col("np").cast(D) *
                  (lit(2L) * col("cneg") + col("nn")).cast(D)).as("u2"))
              .select(col("n_pos"), col("n_neg"),
                // AUC is undefined when either class is empty (a hostile
                // or degenerate corpus) — NULL, not a divide-by-zero
                // (ANSI mode throws on the bare division)
                when(col("n_pos") > 0 && col("n_neg") > 0,
                  round(col("u2").cast("double") /
                    (lit(2.0) * col("n_pos") * col("n_neg")), 6))
                  .otherwise(lit(null).cast("double")).as("auc")))
            .localCheckpoint() // eager 1-row result; f freed below
        } finally f.unpersist()
      },
      Some(s"""
        $logregChainSql,
        sc AS MATERIALIZED (
          SELECT y, 0.5 * (1.0 + z / (1.0 + abs(z))) AS s
          FROM (SELECT f.*, ${lrZSql(s"w$LrIters")} AS z
                FROM feat f CROSS JOIN w$LrIters)),
        hist AS (
          SELECT CAST(floor(s * 1000000.0 + 0.5) AS BIGINT) AS s_micro,
                 CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS np,
                 CAST(sum(CASE WHEN y = 1.0 THEN 0 ELSE 1 END) AS BIGINT) AS nn
          FROM sc GROUP BY 1),
        cum AS (
          SELECT s_micro, np, nn,
                 CAST(coalesce(sum(nn) OVER (ORDER BY s_micro
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS cneg
          FROM hist)
        SELECT CAST(sum(np) AS BIGINT) AS n_pos,
               CAST(sum(nn) AS BIGINT) AS n_neg,
               CASE WHEN sum(np) > 0 AND sum(nn) > 0 THEN
                 round(CAST(sum(CAST(np AS DECIMAL(18,0)) *
                              CAST(2*cneg + nn AS DECIMAL(18,0))) AS DOUBLE)
                       / (2.0 * CAST(sum(np) AS BIGINT)
                              * CAST(sum(nn) AS BIGINT)), 6)
               ELSE NULL END AS auc
        FROM cum""")),

    // ── q118: INCREMENTAL dedup — the production shape of q27: a new
    //   batch (doc_id % 5 = 0 stands in for today's crawl) joins the
    //   banded MinHash index of the EXISTING corpus, asymmetric
    //   (batch → corpus, no corpus self-pairs). This is what a daily
    //   ingest actually runs: the corpus bands are the persisted index,
    //   only the batch re-signs, and the band join's left side is
    //   batch-sized — the already-indexed 100 TB never re-shuffles, the
    //   new day's slice does. Signature/banding/verify parameters are
    //   q27's exactly (16 perms, 4×4 bands, Jaccard ≥ 0.5 verify on the
    //   true shingle sets). ──
    QueryDef("q118_incremental_dedup",
      (s, dir) => {
        val perms = XHash.permParams(16)
        // d feeds the signature path AND the verify joins; bands feeds
        // both sides of the band join — persist both or the shingle+sig
        // subtree derives four times (the q114 lesson)
        val d = docs(s, dir)
          .withColumn("toks", TextOps.tokens(col("text")))
          .withColumn("sh", ShingleHash60(col("toks"), 3))
          .filter(size(col("sh")) > 0)
          .withColumn("h31", transform(col("sh"), h => h % 2147483647L))
          .persist()
        val sig = d.withColumn("sigv", MinHashSig(col("h31"), perms.length))
          .select(col("doc_id") +:
            perms.indices.map(i => element_at(col("sigv"), i + 1).as(s"mh_$i")): _*)
        val bands = sig.select(col("doc_id"), posexplode(array(
          (0 until 4).map(bd => concat_ws("_",
            (0 until 4).map(r => col(s"mh_${bd * 4 + r}")): _*)): _*)))
          .withColumnRenamed("pos", "band_idx").withColumnRenamed("col", "band_key")
          .persist()
        val batch = bands.filter(col("doc_id") % 5 === 0)
          .select(col("band_idx"), col("band_key"), col("doc_id").as("new_id"))
        val index = bands.filter(col("doc_id") % 5 =!= 0)
          .select(col("band_idx"), col("band_key"), col("doc_id").as("dup_of"))
        val cand = batch.join(index, Seq("band_idx", "band_key"))
          .select(col("new_id"), col("dup_of")).distinct()
        val shSets = d.select(col("doc_id"), col("sh"))
        cand
          .join(shSets.select(col("doc_id").as("new_id"), col("sh").as("sh_a")), Seq("new_id"))
          .join(shSets.select(col("doc_id").as("dup_of"), col("sh").as("sh_b")), Seq("dup_of"))
          .withColumn("jac", round(
            size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
              size(array_union(col("sh_a"), col("sh_b"))), 6))
          .filter(col("jac") >= 0.5)
          .select(col("new_id"), col("dup_of"), col("jac"))
          .orderBy(col("new_id"), col("dup_of"))
      },
      Some {
        val perms = XHash.permParams(16)
        val toks = TextOps.tokensSql("text")
        val sigs = perms.zipWithIndex.map { case ((a, b), i) =>
          s"list_min(list_transform(h31, h -> ((($a * h) + $b) % 2147483647))) AS mh_$i"
        }.mkString(",\n               ")
        val bandList = (0 until 4).map { bd =>
          (0 until 4).map(r => s"mh_${bd * 4 + r}::VARCHAR").mkString("concat_ws('_', ", ", ", ")")
        }.mkString("[", ", ", "]")
        s"""
        WITH tk AS (SELECT doc_id, $toks AS toks FROM documents),
        shg AS (
          SELECT doc_id, list_distinct(list_transform(
            list_distinct(CASE WHEN len(toks) < 3 THEN []::VARCHAR[] ELSE
              list_transform(range(0, len(toks) - 2), i ->
                array_to_string(list_slice(toks, i + 1, i + 3), ' ')) END),
            sh -> (('0x' || substr(md5(sh), 1, 15))::BIGINT))) AS sh
          FROM tk),
        hd AS (
          SELECT doc_id, sh, list_transform(sh, h -> (h % 2147483647)) AS h31
          FROM shg WHERE len(sh) > 0),
        sig AS (
          SELECT doc_id, sh,
               $sigs
          FROM hd),
        bands AS (
          SELECT doc_id, sh, i - 1 AS band_idx, ($bandList)[i] AS band_key
          FROM sig, UNNEST(range(1, 5)) AS u(i)),
        cand AS (
          SELECT DISTINCT a.doc_id AS new_id, b.doc_id AS dup_of,
                          a.sh AS sh_a, b.sh AS sh_b
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
          WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 != 0)
        SELECT new_id, dup_of,
               round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
                     len(list_distinct(list_concat(sh_a, sh_b))), 6) AS jac
        FROM cand
        WHERE round(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE) /
                    len(list_distinct(list_concat(sh_a, sh_b))), 6) >= 0.5
        ORDER BY new_id, dup_of"""
      }),

    // ── q119: rendezvous (HRW) shard layout + rebalancing delta — the
    //   consistent-placement primitive a 100 TB store needs when the
    //   shard count changes: doc d lands on argmax_s hash(d:s), so
    //   growing 8 → 9 shards moves ONLY the docs whose new shard's hash
    //   beats their old maximum — an expected 1/9 of the data, vs ~8/9
    //   under mod-hashing. Pure per-row projection (the argmax is an
    //   array_max over 9 structs — no explode, no shuffle) feeding an
    //   8-group rollup; the oracle states the same argmax via per-doc
    //   arg_max aggregation. ──
    QueryDef("q119_shard_rebalance",
      (s, dir) => {
        def hrw(shard: Int): Column =
          struct(XHash.hash60(concat_ws(":", col("doc_id"), lit(shard))).as("h"),
            lit(shard.toLong).as("s"))
        val arr9 = array((0 until 9).map(hrw): _*)
        docs(s, dir)
          .withColumn("shard8", array_max(slice(arr9, 1, 8)).getField("s"))
          .withColumn("shard9", array_max(arr9).getField("s"))
          .groupBy(col("shard8").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("shard9") =!= col("shard8"), 1L).otherwise(0L)).as("n_moved"))
          .orderBy(col("shard"))
      },
      Some {
        def h(sh: Int) = XHash.hash60Sql(s"(doc_id::VARCHAR || ':$sh')")
        val legs = (0 until 9).map(sh =>
          s"SELECT doc_id, ${h(sh)} AS h, CAST($sh AS BIGINT) AS s FROM documents")
        s"""
        WITH ex AS MATERIALIZED (
          ${legs.mkString("\n          UNION ALL ")}),
        asg AS (
          SELECT doc_id,
                 arg_max(CASE WHEN s < 8 THEN s END, CASE WHEN s < 8 THEN h END) AS shard8,
                 arg_max(s, h) AS shard9
          FROM ex GROUP BY doc_id)
        SELECT shard8 AS shard, count(*) AS n_docs,
               CAST(sum(CASE WHEN shard9 != shard8 THEN 1 ELSE 0 END) AS BIGINT) AS n_moved
        FROM asg GROUP BY shard8 ORDER BY shard"""
      }),

    // ── q121: SCD type-2 dimension build — collapse each user's event
    //   stream into validity intervals of its state (event_type):
    //   [valid_from, valid_to) rows with a version number and a
    //   current-row flag, the slowly-changing-dimension history a
    //   warehouse maintains for every mutable attribute. Run detection
    //   is the lag-break + running-sum islands pattern (q109's machinery
    //   pointed at state CHANGES instead of time gaps); one exchange on
    //   user_id serves both windows and the rollup. Exact integer
    //   microseconds end to end; timestamps leave as formatted strings
    //   (house rule — engine timestamp binaries don't cross engines). ──
    QueryDef("q121_scd2_build",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val wOrd = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
        val wRun = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val runs = events(s, dir)
          .select(col("user_id"), col("event_id"), col("event_type"),
            unix_micros(col("ts")).as("us"))
          .withColumn("prev_type", lag(col("event_type"), 1).over(wOrd))
          .withColumn("brk",
            when(col("prev_type").isNull ||
              col("prev_type") =!= col("event_type"), 1L).otherwise(0L))
          .withColumn("run", sum(col("brk")).over(wRun))
          .groupBy(col("user_id"), col("run"))
          .agg(max(col("event_type")).as("event_type"), // constant per run
            min(col("us")).as("from_us"), count(lit(1)).as("n_events"))
        runs
          .withColumn("to_us", lead(col("from_us"), 1).over(
            Window.partitionBy(col("user_id")).orderBy(col("run"))))
          .select(col("user_id"), col("run").as("scd_version"), col("event_type"),
            date_format(timestamp_micros(col("from_us")),
              "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_from"),
            date_format(timestamp_micros(col("to_us")),
              "yyyy-MM-dd HH:mm:ss.SSSSSS").as("valid_to"),
            col("n_events"),
            when(col("to_us").isNull, 1L).otherwise(0L).as("is_current"))
          .orderBy(col("user_id"), col("scd_version"))
      },
      Some("""
        WITH ev AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        marked AS (
          SELECT user_id, event_id, event_type, us,
                 lag(event_type) OVER (PARTITION BY user_id
                   ORDER BY us, event_id) AS prev_type
          FROM ev),
        runs0 AS (
          SELECT user_id, event_type, us,
                 CAST(sum(CASE WHEN prev_type IS NULL OR prev_type != event_type
                               THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
          FROM marked),
        runs AS (
          SELECT user_id, run, max(event_type) AS event_type,
                 min(us) AS from_us, count(*) AS n_events
          FROM runs0 GROUP BY user_id, run),
        scd AS (
          SELECT user_id, run, event_type, from_us, n_events,
                 lead(from_us) OVER (PARTITION BY user_id ORDER BY run) AS to_us
          FROM runs)
        SELECT user_id, run AS scd_version, event_type,
               strftime(make_timestamp(from_us), '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
               strftime(make_timestamp(to_us), '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
               n_events,
               CAST(CASE WHEN to_us IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        FROM scd ORDER BY user_id, scd_version""")),

    // ── q122: per-group HLL — q110's from-scratch sketch keyed by
    //   source, which is the property that makes HLL the distributed
    //   distinct-count structure: registers merge by MAX, so per-group
    //   (and per-partition, and per-day) sketches combine without
    //   re-reading data. The whole estimate (small-range correction
    //   included) is column arithmetic — nothing collects; the shuffle
    //   carries ≤ groups×64 register rows. The oracle replays identical
    //   register math; true counts ride along for the rel-err audit. ──
    QueryDef("q122_hll_by_group",
      (s, dir) => {
        val m = 64.0
        val alpha = 0.7213 / (1.0 + 1.079 / m)
        val toks = docs(s, dir)
          .select(col("source"), explode(TextOps.tokens(col("text"))).as("t"))
          .persist() // feeds the sketch AND the exact-count audit
        val regs = toks
          .select(col("source"), XHash.hash60(col("t")).as("h"))
          .withColumn("bucket", expr("h div 18014398509481984")) // 2^54: top 6 bits
          .withColumn("w", pmod(col("h"), lit(18014398509481984L)))
          .withColumn("rank",
            when(col("w") === 0L, lit(55L))
              .otherwise(lit(54L) - length(expr("bin(w)")) + lit(1L)))
          .groupBy(col("source"), col("bucket")).agg(max(col("rank")).as("r"))
        val est = regs.groupBy(col("source")).agg(
          // Integer-lift: sum(2^-r) as an EXACT long sum of 2^(55-r)
          // (r ∈ [1,55], ≤64 buckets → ≤ 64·2^54 < 2^63), then ONE
          // deterministic long→double conversion + exact /2^55. A raw
          // double SUM here is accumulation-order dependent once rank
          // spread exceeds the 53-bit mantissa (a w=0 bucket's rank 55
          // beside rank-1 buckets).
          sum(expr("shiftleft(CAST(1 AS BIGINT), CAST(55 - r AS INT))")).as("zl"),
          count(lit(1)).as("mp"),
          sum(when(col("r") === 0L, 1L).otherwise(0L)).as("z0p"))
          .withColumn("zp", col("zl").cast("double") / lit(36028797018963968.0))
          .withColumn("z", col("zp") + (lit(m) - col("mp")))
          .withColumn("zeros", col("z0p") + (lit(m) - col("mp")))
          .withColumn("raw", lit(alpha) * lit(m) * lit(m) / col("z"))
          .withColumn("est",
            // small-range correction via the SHARED constant table: ln is
            // a libm transcendental that can differ by 1 ulp between the
            // JVM and DuckDB (the file's own cross-engine rule) — zeros
            // has only 64 possible values, so both engines index the
            // identical JVM-computed literals instead (r11 review)
            when(col("raw") <= lit(2.5 * m) && col("zeros") > 0,
              element_at(typedlit(HllSmallRange), col("zeros").cast("int")))
              .otherwise(col("raw")))
        val truth = toks.select(col("source"), col("t")).distinct()
          .groupBy(col("source")).agg(count(lit(1)).as("true_distinct"))
        est.join(truth, Seq("source"))
          .withColumn("hll_estimate", floor(col("est") * lit(1e6) + lit(0.5)) / lit(1e6))
          .withColumn("rel_err",
            floor(abs(col("est") - col("true_distinct").cast("double")) /
              col("true_distinct") * lit(1e6) + lit(0.5)) / lit(1e6))
          .select(col("source"), col("true_distinct"), col("hll_estimate"), col("rel_err"))
          .orderBy(col("source"))
      },
      Some(s"""
        WITH toks AS MATERIALIZED (
          SELECT source, t.t AS t
          FROM (SELECT source, ${TextOps.tokensSql("text")} AS tk FROM documents),
               unnest(tk) AS t(t)),
        regs AS (
          SELECT source, h // 18014398509481984 AS bucket,
                 max(CASE WHEN h % 18014398509481984 = 0 THEN 55
                          ELSE 54 - length(bin(h % 18014398509481984)) + 1
                     END) AS r
          FROM (SELECT source, ${XHash.hash60Sql("t")} AS h FROM toks)
          GROUP BY source, bucket),
        agg AS (
          -- same integer lift as the Spark side: exact integer sum of
          -- 2^(55-r), one conversion to double, exact /2^55
          SELECT source,
                 CAST(sum(CAST(1 AS BIGINT) << (55 - r)) AS DOUBLE)
                   / 36028797018963968.0 AS zp,
                 count(*) AS mp,
                 sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS z0p
          FROM regs GROUP BY source),
        est AS (
          SELECT source,
                 CASE WHEN (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 /
                             (zp + (64.0 - mp)) <= 2.5 * 64.0
                       AND (z0p + (64 - mp)) > 0
                      THEN ($HllSmallRangeSql)[CAST(z0p + (64 - mp) AS INT)]
                      ELSE (0.7213 / (1.0 + 1.079 / 64.0)) * 64.0 * 64.0 /
                             (zp + (64.0 - mp))
                 END AS est
          FROM agg),
        t AS (
          SELECT source, CAST(count(DISTINCT t) AS BIGINT) AS true_distinct
          FROM toks GROUP BY source)
        SELECT e.source, t.true_distinct,
               floor(e.est * 1000000.0 + 0.5) / 1000000.0 AS hll_estimate,
               floor(abs(e.est - t.true_distinct) / t.true_distinct
                 * 1000000.0 + 0.5) / 1000000.0 AS rel_err
        FROM est e JOIN t ON e.source = t.source ORDER BY e.source""")),

    // ── q123: perceptual-hash IMAGE dedup — the multimodal twin of
    //   SimHash text dedup (q26/q31), end to end through a REAL codec:
    //   each doc renders a deterministic 16×16 grayscale image (content
    //   keyed by doc_id % 97, a per-doc uniform brightness shift, and a
    //   white corner patch on every 10th doc), encodes it as an actual
    //   PNG, and the engine decodes (SimplePng: real inflate + defilter)
    //   → aHash (ImageHash: exact-integer 8×8 average hash, brightness-
    //   invariant by construction) → 8×8-bit band join → Hamming ≤ 6
    //   verify. Same content at different brightness collides at Hamming
    //   0; the patched variants land within the threshold; different
    //   content doesn't. The ORACLE never sees a PNG — it recomputes the
    //   hash from the pixel formula in pure SQL, so a decoder or hash
    //   that corrupts one bit anywhere hash-mismatches. Banding keeps
    //   candidates ≈ true near-dups (pigeonhole: Hamming ≤ 7 over 8
    //   bands guarantees a clean band); the hash frame persists and
    //   feeds both join sides. ──
    QueryDef("q123_phash_dedup",
      (s, dir) => {
        // content = a block-level light/dark fingerprint drawn from the
        // shared md5 primitive keyed on (group, block) — genuinely
        // distinct patterns per group (a linear/multiplicative formula
        // mod 256 degenerates to correlated bit flips and floods the
        // join with cross-group collisions; measured before switching);
        // + a per-doc uniform brightness shift (aHash is EXACTLY
        // invariant to it — no wraparound: 200+6 < 256); + a white
        // corner patch on every 10th doc (a small edit the Hamming
        // threshold absorbs)
        val mkPng = udf { (docId: Long) =>
          val md = java.security.MessageDigest.getInstance("MD5")
          def h60(s: String): Long = {
            val hex = md.digest(s.getBytes("UTF-8"))
              .map(b => f"$b%02x").mkString.take(15)
            java.lang.Long.parseLong(hex, 16)
          }
          val g = docId % 97
          // one md5 per 2x2 BLOCK, not per pixel (4 pixels share a block)
          val light = Array.tabulate(64)(b => h60(s"$g:$b") % 2 == 1)
          val px = Array.tabulate(256) { i =>
            (if (docId % 10 == 9 && i / 16 < 4 && i % 16 < 4) 255
             else {
               val b = (i / 16 / 2) * 8 + (i % 16) / 2
               (if (light(b)) 200 else 40) + (docId % 7).toInt
             }).toByte
          }
          SimplePng.encode(SimplePng.Image(16, 16, 1, px))
        }
        // planner fence (see q124's lumSums note): without it the
        // h.isNotNull filter pushes below the projection and re-evaluates
        // the PNG encode+decode chain per row (2x the codec work)
        val phash = udf { (payload: Array[Byte]) =>
          ImageHash.aHashPng(payload).orNull
        }.asNondeterministic()
        val hashes = docs(s, dir)
          .select(col("doc_id"), phash(mkPng(col("doc_id"))).as("h"))
          .filter(col("h").isNotNull)
          .persist() // feeds the expansion joins on both sides (q114 lesson)
        // Exact-dedup BEFORE the quadratic stage: near-dup images arrive in
        // exact-hash clusters (brightness shifts collide at Hamming 0), so
        // band-join + Hamming run once per DISTINCT hash pair, never per doc
        // pair — the doc-level pair list is recovered by two equi-joins. At
        // 100 TB this is the difference between Hamming over |docs|^2/band
        // and over |distinct images|^2/band. bits = the 64-bit hash as a
        // long, so Hamming is one xor + popcount instead of 64 substrings.
        bandedHammingPairs(hashes, maxHamming = 6)
      },
      Some("""
        WITH px AS (
          SELECT doc_id, t.i AS i,
                 CASE WHEN doc_id % 10 = 9 AND (t.i // 16) < 4 AND (t.i % 16) < 4
                      THEN 255
                      ELSE (CASE WHEN (('0x' || substr(md5(
                               (doc_id % 97)::VARCHAR || ':' ||
                               (((t.i // 16) // 2) * 8 + (t.i % 16) // 2)::VARCHAR
                             ), 1, 15))::BIGINT) % 2 = 1
                            THEN 200 ELSE 40 END) + doc_id % 7
                 END AS v
          FROM documents, unnest(range(0, 256)) AS t(i)),
        tot AS (SELECT doc_id, sum(v) AS ts FROM px GROUP BY doc_id),
        blk AS (
          SELECT doc_id, ((i // 16) // 2) * 8 + (i % 16) // 2 AS b, sum(v) AS bs
          FROM px GROUP BY doc_id, b),
        hash AS MATERIALIZED (
          SELECT blk.doc_id,
                 string_agg(CASE WHEN bs * 64 >= ts THEN '1' ELSE '0' END, ''
                   ORDER BY b) AS h
          FROM blk JOIN tot ON blk.doc_id = tot.doc_id
          GROUP BY blk.doc_id),
        bands AS (
          SELECT doc_id, b.b AS band_idx, substr(h, b.b * 8 + 1, 8) AS band_key
          FROM hash, unnest(range(0, 8)) AS b(b)),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
        ham AS (
          SELECT c.doc_a, c.doc_b,
                 CAST(list_sum(list_transform(range(1, 65),
                   p -> CASE WHEN substr(ha.h, CAST(p AS INT), 1)
                             != substr(hb.h, CAST(p AS INT), 1)
                        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
          FROM cand c JOIN hash ha ON c.doc_a = ha.doc_id
                      JOIN hash hb ON c.doc_b = hb.doc_id)
        SELECT doc_a, doc_b, hamming FROM ham
        WHERE hamming <= 6 ORDER BY doc_a, doc_b""")),

    // ── q125: audio-fingerprint near-dup — the AUDIO leg of multimodal
    //   dedup, end to end through the real WAV codec (SimpleWav RIFF
    //   roundtrip, q80's decoder). Each doc synthesizes 65 frames × 32
    //   samples of 16-bit PCM whose content is keyed by doc_id % 89; the
    //   per-doc gain (×1..3) is a perturbation the fingerprint is EXACTLY
    //   invariant to (bit f compares energy(frame f) > energy(frame f+1),
    //   and a uniform gain scales every energy by k² — the Shazam-style
    //   energy-delta trick, integer-exact with sums of squares); every
    //   10th doc injects an additive burst into frame 7, a small edit the
    //   Hamming ≤ 3 threshold absorbs (it can only move bits 6 and 7).
    //   Same scale shape as q123: canonicalize to DISTINCT fingerprints
    //   before the band join, popcount Hamming once per fingerprint pair,
    //   recover doc pairs by equi-join. The oracle recomputes the frame
    //   energies from the PCM formula in pure SQL — a decoder that drops a
    //   sample or misreads the fmt chunk flips a bit somewhere and
    //   hash-mismatches. ──
    QueryDef("q125_audio_fingerprint",
      (s, dir) => {
        val mkWav = udf { (docId: Long) =>
          val g = docId % 89
          val k = (1 + docId % 3).toInt
          val burst = docId % 10 == 7
          val samples = Array.tabulate(65 * 32) { i =>
            // f*(g+11)*131 gives each group a distinct per-frame energy
            // profile (simulated: 89/89 distinct fingerprints, zero
            // cross-group pairs at Hamming <= 3; the additive-only keying
            // collapsed to 32 distinct and 794 cross-group collisions)
            val f = i / 32
            val base =
              ((g * 37 + f * (g + 11) * 131 + i.toLong * i * 11) % 16000 - 8000).toInt
            k * base + (if (burst && f == 7) 5000 else 0)
          }
          SimpleWav.encode(SimpleWav.Audio(16000, 1, 16, samples))
        }
        // planner fence (see q124's lumSums note): keeps the WAV
        // encode+decode chain out of the pushed h.isNotNull filter
        val fp = udf { (payload: Array[Byte]) =>
          SimpleWav.decode(payload).map { a =>
            val e = Array.tabulate(65) { f =>
              var acc = 0L
              var j = 0
              while (j < 32) {
                val v = a.samples(f * 32 + j).toLong; acc += v * v; j += 1
              }
              acc
            }
            (0 until 64).map(f => if (e(f) > e(f + 1)) '1' else '0').mkString
          }.orNull
        }.asNondeterministic()
        val hashes = docs(s, dir)
          .select(col("doc_id"), fp(mkWav(col("doc_id"))).as("h"))
          .filter(col("h").isNotNull)
          .persist()
        bandedHammingPairs(hashes, maxHamming = 3)
      },
      Some("""
        WITH p AS (
          SELECT doc_id, doc_id % 89 AS g, 1 + doc_id % 3 AS k,
                 CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END AS burst
          FROM documents),
        s AS (
          SELECT p.doc_id, t.i // 32 AS f,
                 p.k * ((p.g * 37 + (t.i // 32) * (p.g + 11) * 131
                         + t.i * t.i * 11) % 16000 - 8000)
                 + CASE WHEN p.burst = 1 AND t.i // 32 = 7 THEN 5000 ELSE 0 END AS v
          FROM p, unnest(range(0, 2080)) AS t(i)),
        e AS (SELECT doc_id, f, sum(v * v) AS en FROM s GROUP BY doc_id, f),
        hash AS MATERIALIZED (
          SELECT a.doc_id,
                 string_agg(CASE WHEN a.en > b.en THEN '1' ELSE '0' END, ''
                   ORDER BY a.f) AS h
          FROM e a JOIN e b ON a.doc_id = b.doc_id AND b.f = a.f + 1
          GROUP BY a.doc_id),
        bands AS (
          SELECT doc_id, b.b AS band_idx, substr(h, b.b * 8 + 1, 8) AS band_key
          FROM hash, unnest(range(0, 8)) AS b(b)),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
               AND a.doc_id < b.doc_id),
        ham AS (
          SELECT c.doc_a, c.doc_b,
                 CAST(list_sum(list_transform(range(1, 65),
                   p -> CASE WHEN substr(ha.h, CAST(p AS INT), 1)
                             != substr(hb.h, CAST(p AS INT), 1)
                        THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
          FROM cand c JOIN hash ha ON c.doc_a = ha.doc_id
                      JOIN hash hb ON c.doc_b = hb.doc_id)
        SELECT doc_a, doc_b, hamming FROM ham
        WHERE hamming <= 3 ORDER BY doc_a, doc_b""")),

    // ── q126: sequence PACKING — the step between curation and the
    //   trainer: concatenate documents into fixed-capacity training
    //   sequences (C = 256 tokens) with next-fit in doc_id order.
    //   Packing is inherently sequential, so the scalable unit is the
    //   SUB-SHARD: each source splits into doc_id ranges of
    //   `PackRangeDocs` docs (`range_id = doc_id div PackRangeDocs` — pure
    //   per-row arithmetic, no rank window), every (source, range)
    //   packs independently in ONE mapPartitions pass, and shard-local
    //   bins re-base to global seq_ids by an exclusive prefix sum over
    //   the RANGE-cardinality rollup. Round 7 packed each source on a
    //   single task — a ceiling once one source dominates (web crawl ≫
    //   everything); now a 90%-skewed source still spreads across
    //   |source|/PackRangeDocs tasks, at the cost of ≤ 1 partial tail sequence
    //   per range (`PackSkewSpec` pins both properties). The oracle
    //   replays the same two-level recurrence: a recursive CTE per
    //   (source, range) plus the window-summed base. ──
    QueryDef("q126_seq_pack",
      (s, dir) => {
        val toks = docs(s, dir)
          .select(col("source"), col("doc_id"),
            // NULL text → NULL size would violate PackRIn's non-nullable
            // n_tok (r12 hostile-content finding); an absent doc packs as
            // zero tokens — it occupies a slot in doc_id order but never
            // opens a new sequence
            coalesce(size(split(col("text"), " ")).cast("long"), lit(0L))
              .as("n_tok"))
        rebasePacked(seqPackRanges(toks))
          .orderBy(col("source"), col("doc_id"))
      },
      Some(SeqPackOracleSql)),

    // ── q127: mixture RESAMPLING manifest — turn per-source token
    //   counts into an exact token budget per source (B = 100k) using
    //   capped-proportional weights (cap 1500 stops any one source from
    //   dominating, the standard mixing guard) and LARGEST-REMAINDER
    //   rounding, so Σ quota == B exactly — all in integer arithmetic
    //   (base = B·m div M, remainder rank breaks ties by source name).
    //   Emits epochs/tail per source: quota div/mod available tokens —
    //   the repetition factors a trainer's data loader consumes
    //   (epoching à la Muennighoff et al., data-constrained scaling).
    //   Everything past the first agg is a 20-row frame; the corpus is
    //   read ONCE (per persists and feeds tot/quota/leftover). ──
    QueryDef("q127_mix_resample",
      (s, dir) => mixQuotas(s, dir).orderBy(col("source")),
      Some(s"""
        $mixQuotaSql
        SELECT source, toks, quota, full_epochs, tail_toks
        FROM quota ORDER BY source""")),

    // ── q128: BPE tokenizer TRAINING as distributed aggregation — the
    //   merge loop of Sennrich et al. run for 6 iterations over the word
    //   stream: count adjacent pairs, take the most frequent (ties break
    //   lexicographically), merge every leftmost-greedy occurrence,
    //   repeat on the RE-TOKENIZED corpus. Merging is the subtle part:
    //   overlapping occurrences (only possible at consecutive positions,
    //   i.e. x == y runs like `a a a a`) must merge leftmost-first, which
    //   is gaps-and-islands — keep the odd-ranked candidates within each
    //   maximal consecutive run. The top pair is a 1-row argmax collect —
    //   the superstep barrier every BPE trainer has (see below); each
    //   re-tokenized generation persists (it feeds the next generation's
    //   pair count, candidate scan, AND the token-count audit), and every
    //   window partitions by doc_id, so at 100 TB the merge step is
    //   embarrassingly parallel over docs while the pair-count reduce is
    //   vocabulary-sized. Real BPE trainers sample the corpus for exactly
    //   this reason — the shape is the same either way. Output: the merge
    //   table (rank, pair, frequency) + corpus token count after each
    //   merge, i.e. the compression curve. ──
    QueryDef("q128_bpe_train",
      (s, dir) => {
        // Distributed shape: ONE ROW PER DOC carrying its token array.
        // The merge step is a per-row leftmost-greedy scan — zero
        // shuffles, embarrassingly parallel over docs — and the only
        // shuffle per generation is the vocabulary-sized pair-count
        // reduce. (A token-per-row windowed formulation was measured
        // first: 10 s at sf0.1 from six window sorts per generation vs
        // ~4 s here; the oracle keeps that islands formulation because
        // SQL has no per-row sequential scan.) Pregel-style supersteps
        // with EAGER barriers: the bounded top-pairs collect is the
        // merge DECISION that gates the next pass — the same barrier
        // every BPE trainer has, now amortized over a provably-
        // sequential-equivalent BATCH of disjoint merges — and the
        // token-sum audit job doubles as the cache force; lazily-
        // persisted generations raced instead (measured 69 s: the
        // multi-rooted merge table re-derived every chain).
        val (merges, finalToks) = bpeTrain(s, dir)
        finalToks.unpersist()
        import s.implicits._
        merges.toDF("merge_idx", "x", "y", "pair_count", "toks_after")
          .orderBy(col("merge_idx"))
      },
      Some(s"""
        WITH t0 AS MATERIALIZED (
          SELECT doc_id, CAST(u.i AS BIGINT) AS pos, d.w[u.i] AS tok
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
               unnest(range(1, len(d.w) + 1)) AS u(i)),
        ${(0 until BpeMerges).map(bpeIterSql).mkString(",\n")}
        SELECT * FROM (
          ${(0 until BpeMerges).map(i =>
            s"""SELECT CAST($i AS BIGINT) AS merge_idx, x, y, c AS pair_count,
               (SELECT count(*) FROM t${i + 1}) AS toks_after FROM top$i""")
            .mkString("\n          UNION ALL\n          ")}
        ) ORDER BY merge_idx""")),

    // ── q129: sample-train / full-apply tokenizer FERTILITY audit — the
    //   100 TB tokenizer workflow: TRAIN the merges on the doc_id % 4
    //   sample (tokenizer trainers always sample; the merge loop's
    //   barriers then touch a quarter of the data), ENCODE the whole
    //   corpus in ONE map-only pass applying the learned merges in rank
    //   order, and report per-language compression (words per token),
    //   token counts, and merged-token usage. Fertility-by-lang is the
    //   standard multilingual-tokenizer health check (a tokenizer
    //   trained on one slice inflates another's token counts). The
    //   oracle runs TWO chains: `s` (sample, learns top$i) and `t`
    //   (full corpus, applies top$i) — the engine's rank-ordered
    //   single-pass encoder is the same composition per doc. ──
    QueryDef("q129_bpe_fertility",
      (s, dir) => {
        val (merges, sampleToks) =
          bpeTrain(s, dir, sampleOnly = true, target = BpeSampleMerges)
        sampleToks.unpersist()
        val ms = merges.map(m => (m._2, m._3))
        val encode = udf { (toks: Seq[String]) => encodeWithMerges(toks, ms) }
        docs(s, dir)
          .filter(col("text").isNotNull) // same contract as bpeTrain (r12)
          .select(col("lang"), split(col("text"), " ").as("w"))
          .withColumn("toks", encode(col("w")))
          .select(col("lang"), size(col("w")).cast("long").as("nw"),
            size(col("toks")).cast("long").as("nt"),
            size(filter(col("toks"), t => t.contains("_"))).cast("long").as("nm"))
          .groupBy(col("lang"))
          .agg(sum(col("nw")).as("n_words"), sum(col("nt")).as("n_tokens"),
            sum(col("nm")).as("n_merged"))
          .withColumn("compression",
            r6(col("n_words").cast("double") / col("n_tokens")))
          .orderBy(col("lang"))
      },
      Some(s"""
        WITH t0 AS MATERIALIZED (
          SELECT doc_id, CAST(u.i AS BIGINT) AS pos, d.w[u.i] AS tok
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
               unnest(range(1, len(d.w) + 1)) AS u(i)),
        s0 AS MATERIALIZED (SELECT * FROM t0 WHERE doc_id % 4 = 0),
        ${(0 until BpeSampleMerges).map(i =>
          bpeTopSql(i, "s") + "," + bpeMergeSql(i, "s") + "," +
            bpeMergeSql(i, "t")).mkString(",\n")},
        w AS (
          SELECT d.lang, count(*) AS n_words
          FROM t0 JOIN documents d USING (doc_id) GROUP BY d.lang),
        k AS (
          SELECT d.lang, count(*) AS n_tokens,
                 sum(CASE WHEN contains(tok, '_') THEN 1 ELSE 0 END) AS n_merged
          FROM t$BpeSampleMerges JOIN documents d USING (doc_id) GROUP BY d.lang)
        SELECT w.lang, w.n_words, k.n_tokens,
               CAST(k.n_merged AS BIGINT) AS n_merged,
               floor(CAST(w.n_words AS DOUBLE) / k.n_tokens * 1000000.0 + 0.5)
                 / 1000000.0 AS compression
        FROM w JOIN k ON w.lang = k.lang ORDER BY w.lang""")),

    // ── q131: positional inverted index + PHRASE search — the
    //   index-shaped retrieval leg next to q87's BM25 scoring and q116's
    //   automaton scan. Postings are (word, doc, pos); a phrase matches
    //   at base b iff every (offset, word) of the phrase has a posting
    //   at (doc, b + offset), so ONE broadcast join of postings against
    //   the exploded phrase table plus ONE (phrase, doc, base) count-==-
    //   length reduce answers EVERY phrase at once — no per-phrase scan,
    //   no LIKE, and at 100 TB the postings build is the same explode
    //   the index would persist. Zero-hit phrases surface with 0s via
    //   the left join (the audit an index build needs). ──
    QueryDef("q131_phrase_search",
      (s, dir) => {
        import s.implicits._
        val phr = Phrases.zipWithIndex
          .map { case (p, i) => (i.toLong, p) }.toDF("phrase_id", "phrase")
        val pw = phr
          .select(col("phrase_id"), col("phrase"),
            posexplode(split(col("phrase"), " ")))
          .select(col("phrase_id"), col("phrase"),
            col("pos").cast("long").as("off"), col("col").as("word"))
        val postings = docs(s, dir)
          .select(col("doc_id"), posexplode(split(col("text"), " ")))
          .select(col("doc_id"), col("pos").cast("long").as("pos"),
            col("col").as("word"))
        val hits = postings.join(broadcast(pw), Seq("word"))
          .withColumn("base", col("pos") - col("off"))
          .groupBy(col("phrase_id"), col("phrase"), col("doc_id"), col("base"))
          .agg(count(lit(1)).as("matched"))
          .filter(col("matched") === size(split(col("phrase"), " ")).cast("long"))
        phr.join(hits.groupBy(col("phrase_id"))
            .agg(countDistinct(col("doc_id")).as("n_docs"),
              count(lit(1)).as("n_hits")),
            Seq("phrase_id"), "left")
          .select(col("phrase"),
            coalesce(col("n_docs"), lit(0L)).as("n_docs"),
            coalesce(col("n_hits"), lit(0L)).as("n_hits"))
          .orderBy(col("phrase"))
      },
      Some(s"""
        WITH ph AS (
          SELECT * FROM (VALUES ${Phrases.zipWithIndex
            .map { case (p, i) => s"($i, '$p')" }.mkString(", ")})
            AS v(phrase_id, phrase)),
        pw AS (
          SELECT phrase_id, phrase, CAST(u.i - 1 AS BIGINT) AS off,
                 p.w[u.i] AS word
          FROM (SELECT phrase_id, phrase, string_split(phrase, ' ') AS w
                FROM ph) p,
               unnest(range(1, len(p.w) + 1)) AS u(i)),
        po AS (
          SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pos, d.w[u.i] AS word
          FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents) d,
               unnest(range(1, len(d.w) + 1)) AS u(i)),
        m AS (
          SELECT pw.phrase_id, pw.phrase, po.doc_id, po.pos - pw.off AS base,
                 count(*) AS matched
          FROM po JOIN pw ON po.word = pw.word
          GROUP BY 1, 2, 3, 4),
        ok AS (
          SELECT * FROM m WHERE matched = len(string_split(phrase, ' '))),
        agg AS (
          SELECT phrase_id, count(DISTINCT doc_id) AS n_docs,
                 count(*) AS n_hits
          FROM ok GROUP BY phrase_id)
        SELECT ph.phrase,
               CAST(coalesce(agg.n_docs, 0) AS BIGINT) AS n_docs,
               CAST(coalesce(agg.n_hits, 0) AS BIGINT) AS n_hits
        FROM ph LEFT JOIN agg USING (phrase_id)
        ORDER BY ph.phrase""")),

    // ── q134: deterministic EPOCH SHUFFLE manifest — the "globally
    //   reshuffle the corpus every epoch" primitive a training data
    //   loader consumes, which the curation family had every neighbor
    //   of (packing q126, mixing q127, placement q119) but not the
    //   shuffle itself. Per (epoch, doc): h = hash60(doc_id ':' epoch)
    //   is the doc's pseudo-random sort key for that epoch; shard =
    //   h mod nShards assigns it to a loader shard; pos = rank of h
    //   within the shard is its read position. Different epochs hash to
    //   unrelated keys, so consecutive epochs decorrelate without any
    //   stored permutation state (EpochShuffleSpec pins exactly-once
    //   per epoch + cross-epoch decorrelation + shard balance).
    //
    //   100 TB shape: NO global sort anywhere — the assignment is a
    //   pure per-row projection, and ordering happens only INSIDE a
    //   shard (a rank window partitioned by (epoch, shard)). nShards is
    //   the scale knob: choose corpus_size/shard_budget so each shard's
    //   window sort stays executor-sized (at the gate it is pinned to 8
    //   for stable oracle output); the shuffle then moves each row
    //   exactly once to its shard, the same cost as writing the epoch's
    //   file layout. Contrast: a row_number over the whole corpus —
    //   the naive "shuffled index" — would serialize 100 TB through
    //   one window partition. ──
    QueryDef("q134_epoch_shuffle",
      (s, dir) => epochShuffleManifest(s, dir)
        .orderBy(col("epoch"), col("shard"), col("pos")),
      Some(s"""
        WITH $epochManifestSqlCte
        SELECT epoch, shard, pos, doc_id
        FROM man ORDER BY epoch, shard, pos""")),

    // ── q137: per-sequence ATTENTION-BOUNDARY manifest — the artifact a
    //   block-diagonal-attention loader actually reads next to q126's
    //   packed sequences: for each (source, seq_id), how many docs it
    //   holds, its token count, its padding waste against the capacity,
    //   and the ordered doc END offsets (the attention-mask reset
    //   points). The per-doc offsets need NO window: the packer's
    //   cursor already carries the within-sequence inclusive fill
    //   (seq_fill), so end_off IS seq_fill — a pure projection over the
    //   q126 plan — and the only added work is one aggregation whose
    //   groups are capacity-bounded (a 256-token sequence holds at most
    //   a few dozen docs, at ANY corpus scale). sort_array makes the
    //   collected offsets deterministic regardless of partial-agg merge
    //   order. ──
    QueryDef("q137_pack_manifest",
      (s, dir) => {
        val toks = docs(s, dir)
          .select(col("source"), col("doc_id"),
            coalesce(size(split(col("text"), " ")).cast("long"), lit(0L))
              .as("n_tok"))
        rebasePacked(seqPackRanges(toks))
          .groupBy(col("source"), col("seq_id"))
          .agg(count(lit(1)).as("n_docs"),
            max(col("seq_fill")).as("seq_toks"),
            // sort NUMERICALLY first, then stringify for the join —
            // sorting the strings would order "100" before "99"
            array_join(transform(sort_array(collect_list(col("seq_fill"))),
              x => x.cast("string")), ",").as("bounds"))
          .withColumn("pad_toks",
            greatest(lit(256L) - col("seq_toks"), lit(0L)))
          .select(col("source"), col("seq_id"), col("n_docs"),
            col("seq_toks"), col("pad_toks"), col("bounds"))
          .orderBy(col("source"), col("seq_id"))
      },
      Some(s"""
        SELECT source, seq_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(max(seq_fill) AS BIGINT) AS seq_toks,
               CAST(greatest(256 - max(seq_fill), 0) AS BIGINT) AS pad_toks,
               string_agg(seq_fill::VARCHAR, ',' ORDER BY seq_fill) AS bounds
        FROM ($SeqPackOracleSql)
        GROUP BY source, seq_id
        ORDER BY source, seq_id""")),

    // ── q138: TAIL-EPOCH token-budget selection — the executable step
    //   between q127 (how many tokens each source contributes:
    //   full_epochs whole passes + a tail_toks remainder) and q134
    //   (what order an epoch reads): which docs the PARTIAL tail epoch
    //   takes. Docs are consumed in seeded-hash order until the
    //   source's tail budget is filled (the doc that crosses the
    //   boundary is included — budgets fill, not truncate).
    //
    //   100 TB shape: the running token total is the q126 rebase
    //   pattern, not a per-source global window — shard = h mod 8
    //   splits each source, the cumulative sum windows only WITHIN
    //   (source, shard), and shard-local cumsums re-base by the
    //   exclusive prefix of the |sources|·8-row shard-total rollup
    //   (broadcast). The selection order is therefore shard-major —
    //   self-consistent and deterministic, which is what a manifest
    //   needs; it deliberately differs from q134's per-epoch order the
    //   way any two epoch draws differ. Quota lookup is the broadcast
    //   sources-sized mixQuotas frame. ──
    QueryDef("q138_token_budget",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val nShards = 8L
        val local = docs(s, dir)
          .select(col("source"), col("doc_id"),
            coalesce(size(split(col("text"), " ")).cast("long"), lit(0L))
              .as("n_tok"))
          .withColumn("h", XHash.hash60(
            concat(lit("budget:"), col("doc_id").cast("string"))))
          .withColumn("shard", pmod(col("h"), lit(nShards)))
          .withColumn("cum_local", sum(col("n_tok")).over(
            Window.partitionBy(col("source"), col("shard"))
              .orderBy(col("h").asc, col("doc_id").asc)))
        val bases = local.groupBy(col("source"), col("shard"))
          .agg(sum(col("n_tok")).as("stoks"))
          .withColumn("base", coalesce(
            sum(col("stoks")).over(Window.partitionBy(col("source"))
              .orderBy(col("shard"))
              .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .select(col("source").as("b_source"), col("shard").as("b_shard"),
            col("base"))
          .localCheckpoint() // eager |sources|·8-row rollup, never corpus
        local
          .join(broadcast(bases),
            col("source") === col("b_source") && col("shard") === col("b_shard"))
          .join(broadcast(mixQuotas(s, dir)
              .select(col("source").as("q_source"), col("tail_toks"))),
            col("source") === col("q_source"))
          .withColumn("cum_toks", col("base") + col("cum_local"))
          .filter(col("cum_toks") - col("n_tok") < col("tail_toks"))
          .select(col("source"), col("shard"), col("doc_id"), col("n_tok"),
            col("cum_toks"))
          .orderBy(col("source"), col("cum_toks"))
      },
      Some(s"""
        $mixQuotaSql,
        d AS (
          SELECT source, doc_id,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                 ${XHash.hash60Sql("'budget:' || doc_id::VARCHAR")} AS h
          FROM documents),
        c AS (
          SELECT source, h % 8 AS shard, doc_id, n_tok,
                 CAST(sum(n_tok) OVER (PARTITION BY source
                   ORDER BY h % 8, h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_toks
          FROM d)
        SELECT c.source, c.shard, c.doc_id, c.n_tok, c.cum_toks
        FROM c JOIN quota q ON q.source = c.source
        WHERE c.cum_toks - c.n_tok < q.tail_toks
        ORDER BY c.source, c.cum_toks""")),

    // ── q139: train/val/test SPLIT manifest with an exact-duplicate
    //   leak guard — the split every pipeline runs before training,
    //   made deterministic (hash-bucketed on a salted doc_id: 80/10/10)
    //   and audited: an eval doc whose exact text also appears in the
    //   train split is contamination (Lee et al.'s dedup argument
    //   applied at the split seam) and gets flagged, not silently
    //   shipped. The guard is ONE shuffle by text hash — a window over
    //   hash-groups (duplicate-cluster-sized partitions, no self-join,
    //   no driver collect); a 100 TB corpus pays the same single
    //   exchange its exact-dedup pass already pays. The gate corpus has
    //   no cross-split duplicates, so the oracle pins all-zero flags
    //   plus the split assignment itself; TrainManifestSpec injects
    //   duplicates to prove the guard fires. ──
    QueryDef("q139_split_leakguard",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        docs(s, dir)
          .select(col("doc_id"), col("text"))
          .withColumn("bucket", pmod(XHash.hash60(
            concat(lit("split:"), col("doc_id").cast("string"))), lit(100L)))
          .withColumn("split",
            when(col("bucket") < 80L, "train")
              .when(col("bucket") < 90L, "val").otherwise("test"))
          .withColumn("th", XHash.hash60(col("text")))
          .withColumn("n_train", sum(
            when(col("split") === "train", 1L).otherwise(0L))
            .over(Window.partitionBy(col("th"))))
          .withColumn("leaked",
            when(col("split") =!= "train" && col("n_train") > 0L, 1L)
              .otherwise(0L))
          .select(col("doc_id"), col("split"), col("leaked"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH b AS (
          SELECT doc_id, text,
                 ${XHash.hash60Sql("'split:' || doc_id::VARCHAR")} % 100
                   AS bucket,
                 ${XHash.hash60Sql("text")} AS th
          FROM documents),
        sp AS (
          SELECT doc_id, th,
                 CASE WHEN bucket < 80 THEN 'train'
                      WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
          FROM b)
        SELECT doc_id, split,
               CAST(CASE WHEN split != 'train'
                         AND sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
                             OVER (PARTITION BY th) > 0
                    THEN 1 ELSE 0 END AS BIGINT) AS leaked
        FROM sp ORDER BY doc_id""")),

    // ── q142: checkpoint-RESUME manifest — the last loader artifact the
    //   q134→q137/q138 family was missing: a trainer checkpoints after
    //   each worker has drawn `consumed` samples from its shard; on
    //   restart every worker needs (resume_epoch, resume_pos) WITHOUT
    //   replaying the stream. Shards consume epoch 0's items in pos
    //   order, then epoch 1's (the hash reshards per epoch, so per-shard
    //   epoch lengths DIFFER — the cumulative chain is per shard, not
    //   global); consumed=62 straddles the epoch boundary at gate scale
    //   (mean epoch-0 shard length 62.5), exercising both resume paths.
    //   100 TB shape: the manifest windows stay per-(epoch, shard); the
    //   length rollup is nShards×nEpochs rows; the cumulative window and
    //   the resume pick run on THAT tiny frame; the 3-doc preview
    //   (within the resume epoch) broadcasts the ≤nShards resume rows
    //   into a map-only range filter — nothing above shard granularity
    //   ever shuffles. ──
    QueryDef("q142_resume_manifest",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val consumed = 62L // samples drawn per shard before the checkpoint
        val man = epochShuffleManifest(s, dir).persist()
        try {
        val wsh = Window.partitionBy(col("shard")).orderBy(col("epoch"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val resume = man.groupBy(col("shard"), col("epoch"))
          .agg(count(lit(1)).as("len"))
          .withColumn("cum_before", coalesce(sum(col("len")).over(wsh), lit(0L)))
          .filter(col("cum_before") <= consumed &&
            lit(consumed) < col("cum_before") + col("len"))
          // fresh key names: resume derives FROM man, so joining back on
          // same-named columns would be an ambiguous self-join
          .select(col("shard").as("r_shard"), col("epoch").as("resume_epoch"),
            (lit(consumed) - col("cum_before") + lit(1L)).as("resume_pos"))
        man.join(broadcast(resume),
            col("shard") === col("r_shard") &&
              col("epoch") === col("resume_epoch") &&
              col("pos").between(col("resume_pos"), col("resume_pos") + lit(2L)))
          .select(col("shard"), col("resume_epoch"), col("resume_pos"),
            col("pos"), col("doc_id"))
          .groupBy(col("shard"), col("resume_epoch"), col("resume_pos"))
          .agg(array_join(transform(
            sort_array(collect_list(struct(col("pos"), col("doc_id")))),
            p => p.getField("doc_id").cast("string")), ",").as("next_docs"))
          .orderBy(col("shard"))
          .transform(PlanProbe.probe("q142_resume_manifest", _))
          .localCheckpoint() // eager ≤nShards rows; man freed below
        } finally man.unpersist()
      },
      Some(s"""
        WITH $epochManifestSqlCte,
        lens AS (SELECT shard, epoch, count(*) AS len FROM man GROUP BY 1, 2),
        cum AS (
          SELECT shard, epoch, len,
                 coalesce(sum(len) OVER (PARTITION BY shard ORDER BY epoch
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
          FROM lens),
        res AS (
          SELECT shard, epoch AS resume_epoch,
                 CAST(62 - cum_before + 1 AS BIGINT) AS resume_pos
          FROM cum WHERE cum_before <= 62 AND 62 < cum_before + len)
        SELECT m.shard AS shard, r.resume_epoch AS resume_epoch,
               r.resume_pos AS resume_pos,
               string_agg(m.doc_id::VARCHAR, ',' ORDER BY m.pos) AS next_docs
        FROM man m JOIN res r ON m.shard = r.shard
          AND m.epoch = r.resume_epoch
          AND m.pos BETWEEN r.resume_pos AND r.resume_pos + 2
        GROUP BY 1, 2, 3 ORDER BY shard""")),

    // ── q153: PREFIX-CACHE sharing manifest (r18) — the serving/eval-era
    //   twin of the loader manifests (q137/q138/q142): modern inference
    //   stacks (vLLM / SGLang-style automatic prefix caching) reuse the
    //   KV computation of a shared prompt prefix, so batch planning wants
    //   to know, per source, how many docs share an exact 32-token prefix
    //   and how many prefill tokens dedup away. Grouping is by the hash
    //   of the first 32 tokens (docs shorter than the window are
    //   ineligible — a partial prefix is its own full prompt); within a
    //   shared group the FIRST doc (min doc_id) pays the prefill and
    //   every other member saves exactly 32 tokens. 100 TB shape
    //   (r19 rewrite, aggregation-BEFORE-join): the r18 shape joined the
    //   full instance table back to the hash-keyed rollup — at 100 TB a
    //   corpus-scale shared prefix is ONE join key carrying half the
    //   probe side into a single reduce task, and AQE's skew split
    //   cannot save that plan (OptimizeSkewedJoin only matches a join
    //   whose children are bare Sort+ShuffleStage; the co-partitioned
    //   rollup side reads through its final HashAggregate — measured in
    //   SkewAuditSpec's r19 diagnosis, SCALE.md#round-19-skew-audit).
    //   So the instance table collapses FIRST: one map-side-combinable
    //   groupBy to (ph, source, cnt, smin) — the hot key shrinks to
    //   |sources| rows BEFORE any exchange-crossing join — the group
    //   rollup derives from THAT (sum/min re-aggregation, saving the
    //   second corpus scan the old shape paid), and the flag join moves
    //   rollup-sized rows only. saved_tokens folds the member-count
    //   arithmetic: 32·(cnt − 1 if this source holds the group min).
    //   Skew-immune by construction; no pair joins, no windows. ──
    QueryDef("q153_prefix_cache",
      (s, dir) => {
        val pre = docs(s, dir)
          .withColumn("toks", TextOps.tokens(col("text")))
          .filter(size(col("toks")) >= 32)
          .select(col("doc_id"), col("source"),
            XHash.hash60(concat_ws(" ", slice(col("toks"), 1, 32))).as("ph"))
        val bySrc = pre.groupBy(col("ph"), col("source"))
          .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("smin"))
        val grp = bySrc.groupBy(col("ph"))
          .agg(sum(col("cnt")).as("gn"), min(col("smin")).as("gmin"))
        bySrc.join(grp, Seq("ph"))
          .groupBy(col("source"))
          .agg(sum(col("cnt")).as("n_eligible"),
            sum(when(col("gn") >= 2, col("cnt")).otherwise(0L)).as("n_shared"),
            sum(when(col("gn") >= 2,
                (col("cnt") - when(col("smin") === col("gmin"), 1L).otherwise(0L)) * 32L)
              .otherwise(0L)).as("saved_tokens"))
          .orderBy(col("source"))
      },
      Some {
        val toks = TextOps.tokensSql("text")
        s"""
        WITH t AS (
          SELECT doc_id, source, $toks AS toks FROM documents),
        pre AS (
          SELECT doc_id, source,
                 ${XHash.hash60Sql("array_to_string(toks[1:32], ' ')")} AS ph
          FROM t WHERE len(toks) >= 32),
        grp AS (
          SELECT ph, count(*) AS gn, min(doc_id) AS gmin
          FROM pre GROUP BY ph)
        SELECT p.source AS source, count(*) AS n_eligible,
               CAST(sum(CASE WHEN g.gn >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_shared,
               CAST(sum(CASE WHEN g.gn >= 2 AND p.doc_id <> g.gmin
                 THEN 32 ELSE 0 END) AS BIGINT) AS saved_tokens
        FROM pre p JOIN grp g USING (ph)
        GROUP BY 1 ORDER BY 1"""
      })
  )
}
