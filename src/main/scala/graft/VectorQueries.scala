package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{VectorKernels, VectorOps}
import graft.vector.IvfKMeans

/** Vector search + embedding-space dedup (SURVEY.md T1/J4/V2-V5 plus the
  * scale extensions: ANN, near-duplicate detection).
  *
  * Engine notes for 100 TB:
  *   - Brute-force top-k for a SMALL query set is a broadcast of the query
  *     vectors against a single scan of the collection → TakeOrdered per
  *     query, no shuffle of the big side (q11).
  *   - All-pairs similarity is never global at scale: it is BLOCKED on a
  *     key (here `label`, standing in for an IVF/LSH bucket) so the
  *     cross-product happens within partitions (q13).
  *   - Scores compared cross-engine are computed in double and rounded to
  *     6 dp; ranking ties break on vec_id so order is total.
  */
object VectorQueries {

  /** DuckDB twin of VectorOps.dot over two FLOAT[] list columns (double math). */
  private def dotSql(a: String, b: String, dim: Int = 64): String =
    s"list_sum(list_transform(range(1, ${dim + 1}), i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))"

  private def normSql(a: String, dim: Int = 64): String =
    s"sqrt(${dotSql(a, a, dim)})"

  private def cosSql(a: String, b: String, dim: Int = 64): String =
    s"(${dotSql(a, b, dim)} / (${normSql(a, dim)} * ${normSql(b, dim)}))"

  private def score6(a: Column, b: Column): Column =
    round(VectorKernels.cosineFast(a, b), 6)

  /** The per-query top-5 tail over scored (qid, nid, score) pairs: rank
    * by (score DESC, nid ASC), keep 5 — q11/q15/q45/q73. SQL twin:
    * `topKTailSql`. */
  private def top5(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid").asc)
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("nid"), col("score"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** DuckDB twin of `top5` (and of q12's 1-NN at k = 1): ranks a
    * `scored` (qid, nid, score) CTE by (score DESC, nid ASC) per query
    * and selects `cols` of the first k. */
  private def topKTailSql(k: Int, cols: String = "qid, rnk, nid, score"): String =
    s"""
      ranked AS (SELECT qid, nid, score,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY score DESC, nid ASC) AS rnk
                 FROM scored)
      SELECT $cols FROM ranked WHERE rnk <= $k ORDER BY qid, rnk"""

  /** ×1e6 round-half-up quantization to integer-valued doubles — the
    * domain in which the k-means, PQ and PCA sums are exact in both
    * engines (IvfKMeans object doc). SQL twin: `qCte`. */
  private def quantized(e: Column): Column =
    transform(e.cast("array<double>"), v => floor(v * 1e6 + 0.5).cast("double"))

  /** The quantized corpus (vec_id, qv), checkpointed because every
    * consumer (the k-means and PQ training collects, the assignment and
    * encode passes after them, PCA moments) re-reads it. */
  private def quantizedEmb(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(col("vec_id"), quantized(col("embedding")).as("qv"))
      .localCheckpoint()

  /** Corpus-validity seam (r12 hostile-content finding): a NULL vector,
    * a NaN/±Inf cell, or a cell past the 1e6 magnitude domain is corrupt
    * data — real embeddings are unit-normalized. Without this filter one
    * poisoned row kills the JOB, not the row: the trainers (Lloyd's, PQ,
    * PCA) collect() vectors driver-side and NPE on a null array, q14/q15's
    * integer-lifted exact sums overflow under ANSI on 1e38 cells, and
    * q93's exact decimal power sums overflow outright. Dropped once here,
    * for every vector query — the same contract as the r11 NULL-cell drop
    * in IvfKMeans, widened to the whole family. The per-row `exists` scan
    * is one pass over 64 floats, noise next to any dot product.
    */
  private[graft] def emb(s: SparkSession, dir: String): DataFrame =
    Par(s.read.parquet(s"$dir/embeddings.parquet"))
      .filter(col("embedding").isNotNull &&
        !exists(col("embedding"), c => isnan(c) || abs(c) > lit(1e6f)))

  /** q13 data-shape guard (round-11 verdict #2): q13 keeps the
    * reference's J4 contract — the within-label similarity MATRIX is the
    * output — so its work is Θ(Σ block²) with block sizes defined by the
    * DATA, not the plan. Every other pair enumeration in the engine
    * carries an enforced bound (q24 df-cap, q31 band-cap, q46 adaptive
    * width, q12 probed cells); q13 cannot bound without changing the
    * contracted output, so instead it refuses loudly — the SchemaGuard
    * pattern applied to data shape. One cheap count probe per execution
    * (a groupBy over the label column, ~ms); any label block above
    * `Q13BlockCap` throws, naming the offending labels and the env
    * override. Default 16384 is 8× the sf1 maximum block (2,065) —
    * far beyond it, block² cosine work is no longer the query the user
    * thinks they are running, and the scale path is q85's learned
    * blocking (SemDeDup). `SPARK_GRAFT_Q13_BLOCK_CAP` raises the bound
    * for a deliberate large-block run. */
  private[graft] def q13BlockCap: Int =
    sys.env.get("SPARK_GRAFT_Q13_BLOCK_CAP").map(_.toInt).getOrElse(16384)
  private[graft] def guardBlocks(e: DataFrame, cap: Int = q13BlockCap): Unit = {
    val worst = e.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .filter(col("n") > cap)
      .orderBy(col("n").desc, col("label")).limit(5)
      .collect().map(r => s"${r.get(0)}=${r.getLong(1)}")
    if (worst.nonEmpty)
      throw new IllegalStateException(
        s"q13 block guard: label block(s) exceed cap=$cap " +
          s"(${worst.mkString(", ")}). Within-label pair enumeration is " +
          "Θ(block²); for corpora at this scale use q85 (learned blocking) " +
          "or raise SPARK_GRAFT_Q13_BLOCK_CAP deliberately.")
  }

  /** q120 Matryoshka prefix dimension (of 64). */
  private val MrDim = 16

  // ── q67 constants + oracle generator (declared before `defs`, which
  //    evaluates them eagerly) ──
  private val KmK = 8
  /** Adaptive cluster count (the q46 adaptive-band pattern, applied to
    * the whole trained-kmeans family q12/q67/q73/q85/q88): nlist =
    * greatest(KmK, n div KmCell), derived integer-exactly from ONE
    * count in both engines (a kk CTE over count(*) in the oracle), so
    * mean cluster size stays ~KmCell as the corpus grows. With a FIXED
    * nlist both q85's intra-cluster pair enumeration (Θ(n²/nlist)) and
    * q12's probed candidate set (nprobe/nlist of the corpus per query)
    * are quadratic families; with nlist ∝ n both are linear — the
    * SemDeDup paper's own scale argument, and how a real IVF sizes
    * nlist. Gate scales resolve to the KmK floor (200 and 2000 vectors
    * → 8), so sf0.01/sf0.1 outputs are byte-identical to the fixed-k
    * semantics (verified against pre-change dumps). */
  private val KmCell = 250
  private[graft] def kmNlist(n: Long): Int = math.max(KmK, (n / KmCell).toInt)
  private val KmRounds = 2
  /** Distances are over ×1e6-quantized vectors; /1e12 restores original
    * units before the 6dp round. */
  private[graft] val KmScale = 1e12 // ClusterSampleSpec re-derives assignments

  /** DuckDB twin of `quantizedEmb`: the `q` CTE of (vec_id, qv). */
  private val qCte: String =
    """q AS (SELECT vec_id,
                   list_transform(embedding,
                     v -> floor(CAST(v AS DOUBLE) * 1000000 + 0.5)) AS qv
                 FROM embeddings)"""

  /** DuckDB twin of IvfKMeans's squared distance: same sequential
    * index-order fold as Spark's aggregate(zip_with(...)). */
  private def sqdistSql(a: String, b: String, dim: Int = 64): String =
    s"list_sum(list_transform(range(1, ${dim + 1}), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"

  /** 6dp-rounded unscaled distance in the quantized space — the argmin /
    * probe ranking key in both the training and probe CTEs. */
  private def kmDist6Sql(q: String, c: String): String =
    s"round(${sqdistSql(q, c)} / 1000000000000.0, 6)"

  /** Unrolled Lloyd's CTE chain: q = quantized vectors, c0 = seed
    * centroids, then per round an assignment CTE (argmin via row_number
    * over (dist6, cell)) and an update CTE (per-cell per-dim mean over
    * the EXACT integer-valued sums), KmRounds rounds from KmK-floored
    * seeds. Final assignment = a{KmRounds+1}, final centroids =
    * c{KmRounds}. Shared by q67 (training output), q85, q136 and the IVF
    * oracles of q12/q73/q88 (`ivfCandSql`).
    */
  private def kmeansCtes: String = {
    val stages = (1 to KmRounds + 1).map { i =>
      val assign = s"""
        a$i AS (SELECT vec_id, qv, cell, dist6 FROM (
          SELECT q.vec_id AS vec_id, q.qv AS qv, c.cell AS cell,
                 ${kmDist6Sql("q.qv", "c.cv")} AS dist6,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY ${kmDist6Sql("q.qv", "c.cv")} ASC, c.cell ASC) AS rn
          FROM q CROSS JOIN c${i - 1} c) WHERE rn = 1)"""
      val update = s"""
        c$i AS (SELECT cell, list(sx / n ORDER BY pos) AS cv FROM (
          SELECT a.cell AS cell, r.pos AS pos, sum(a.qv[r.pos]) AS sx, count(*) AS n
          FROM a$i a CROSS JOIN (SELECT CAST(range AS INT) AS pos FROM range(1, 65)) r
          GROUP BY a.cell, r.pos) GROUP BY cell)"""
      if (i <= KmRounds) s"$assign,$update" else assign
    }.mkString(",")
    s"""$qCte,
           kk AS (SELECT greatest($KmK, count(*) // $KmCell) AS k FROM q),
           c0 AS (SELECT vec_id AS cell, qv AS cv FROM q
                  WHERE vec_id < (SELECT k FROM kk)),
           $stages"""
  }

  private def kmeansSql: String =
    s"""
      WITH $kmeansCtes
      SELECT vec_id, cell, dist6 FROM a${KmRounds + 1} ORDER BY vec_id"""

  // ── q86 constants + oracle: M subspaces × k codes, same quantize→
  //    Lloyd's→6dp-argmin recipe as q67 applied per 16-dim slice ──
  private val PqM = 4
  private val PqSubDim = 16
  private val PqK = 16
  private val PqRounds = 1 // the oracle CTE chain is unrolled for exactly one round

  /** PQ CTE block shared by q86 (flat PQ+ADC) and q88 (IVF_PQ): one
    * Lloyd's round per subspace, unrolled like kmeansCtes but grouped by
    * (sub, code). Expects a `q` CTE of (vec_id, qv) quantized vectors in
    * scope; names are p-prefixed so the block composes with the coarse
    * kmeansCtes chain without collisions. Produces `pwide` (nid,
    * code0..code3) and `pdt` (qid, sub, code, d) — distance tables for
    * query ids < 10. Mirrors the Spark side exactly (see q86 comment). */
  private def pqCtes: String = {
    def sq(a: String, b: String): String = sqdistSql(a, b, PqSubDim)
    def d6(a: String, b: String): String =
      s"round(${sq(a, b)} / 1000000000000.0, 6)"
    s"""
      psub AS (SELECT vec_id, m.m AS sub,
              list_transform(range(1, ${PqSubDim + 1}), i -> qv[m.m * $PqSubDim + i]) AS sv
              FROM q, (SELECT unnest(range(0, $PqM)) AS m) m),
      pc0 AS (SELECT sub, vec_id AS code, sv AS cv FROM psub WHERE vec_id < $PqK),
      pa1 AS (SELECT vec_id, sub, sv, code FROM (
        SELECT s.vec_id, s.sub, s.sv, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.sub
                 ORDER BY ${d6("s.sv", "c.cv")} ASC, c.code ASC) AS rn
        FROM psub s JOIN pc0 c ON c.sub = s.sub) WHERE rn = 1),
      pc1 AS (SELECT sub, code, list(sx / n ORDER BY pos) AS cv FROM (
        SELECT a.sub AS sub, a.code AS code, r.pos AS pos,
               sum(a.sv[r.pos]) AS sx, count(*) AS n
        FROM pa1 a CROSS JOIN (SELECT CAST(range AS INT) AS pos
                              FROM range(1, ${PqSubDim + 1})) r
        GROUP BY 1, 2, 3) GROUP BY sub, code),
      pa2 AS (SELECT vec_id, sub, code FROM (
        SELECT s.vec_id, s.sub, c.code,
               row_number() OVER (PARTITION BY s.vec_id, s.sub
                 ORDER BY ${d6("s.sv", "c.cv")} ASC, c.code ASC) AS rn
        FROM psub s JOIN pc1 c ON c.sub = s.sub) WHERE rn = 1),
      pwide AS (SELECT vec_id AS nid,
               max(CASE WHEN sub = 0 THEN code END) AS code0,
               max(CASE WHEN sub = 1 THEN code END) AS code1,
               max(CASE WHEN sub = 2 THEN code END) AS code2,
               max(CASE WHEN sub = 3 THEN code END) AS code3
               FROM pa2 GROUP BY vec_id),
      pdt AS (SELECT qs.vec_id AS qid, qs.sub, c.code,
                    ${d6("qs.sv", "c.cv")} AS d
             FROM psub qs JOIN pc1 c ON c.sub = qs.sub WHERE qs.vec_id < 10)"""
  }

  /** The shared ADC + rank tail: table lookups per subspace joined in
    * FIXED order, 6dp-rounded fixed-order sum, rank ascending with nid
    * tiebreak. Expects a `cand` CTE of (qid, nid) candidate pairs — q86
    * scans everything (flat PQ), q88 only probed cells' members. */
  private def adcRankSql: String =
    s"""
      adc AS (SELECT c.qid AS qid, c.nid AS nid,
                     round(((d0.d + d1.d) + d2.d) + d3.d, 6) AS adist
              FROM cand c
              JOIN pwide w ON w.nid = c.nid
              JOIN pdt d0 ON d0.qid = c.qid AND d0.sub = 0 AND d0.code = w.code0
              JOIN pdt d1 ON d1.qid = c.qid AND d1.sub = 1 AND d1.code = w.code1
              JOIN pdt d2 ON d2.qid = c.qid AND d2.sub = 2 AND d2.code = w.code2
              JOIN pdt d3 ON d3.qid = c.qid AND d3.sub = 3 AND d3.code = w.code3),
      ranked AS (SELECT qid, nid, adist,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY adist ASC, nid ASC) AS rnk
                 FROM adc)
      SELECT qid, CAST(rnk AS BIGINT) AS rnk, nid, adist FROM ranked
      WHERE rnk <= 5 ORDER BY qid, rnk"""

  private def pqAdcSql: String =
    s"""
      WITH $qCte,
      $pqCtes,
      cand AS (SELECT qs.vec_id AS qid, n.vec_id AS nid
               FROM q qs CROSS JOIN q n
               WHERE qs.vec_id < 10 AND qs.vec_id <> n.vec_id),
      $adcRankSql"""

  /** q88 oracle: coarse k-means (shared q67 CTEs) + the shared IVF
    * candidate CTEs at nprobe=2 + PQ codebooks and ADC tables (shared
    * q86 CTEs) — candidates are ONLY the probed cells' members. */
  private def ivfPqSql: String =
    s"""
      WITH $kmeansCtes,
      ${ivfCandSql("vec_id < 10", 2)},
      $pqCtes,
      $adcRankSql"""

  /** The IVF candidate CTEs over the trained index (`kmeansCtes` in
    * scope) — SQL twin of `knnJoinCandidates`: `qq` = the queries
    * matching `queries`, `probe` = each query's nprobe nearest cells by
    * (dist6, cell id), `members` = the final assignment, `cand` = (qid,
    * nid) over the probed cells' members, self excluded. */
  private def ivfCandSql(queries: String, nprobe: Int): String =
    s"""
      qq AS (SELECT vec_id AS qid, qv FROM q WHERE $queries),
      probe AS (SELECT qid, cell FROM (
        SELECT qq.qid, c.cell,
               row_number() OVER (PARTITION BY qq.qid
                 ORDER BY ${kmDist6Sql("qq.qv", "c.cv")} ASC, c.cell ASC) AS crnk
        FROM qq CROSS JOIN c$KmRounds c) WHERE crnk <= $nprobe),
      members AS (SELECT vec_id AS nid, cell FROM a${KmRounds + 1}),
      cand AS (SELECT p.qid, m.nid FROM probe p JOIN members m USING (cell)
               WHERE p.qid <> m.nid)"""

  /** q12/q73 oracle: train (shared q67 CTEs) → the shared IVF candidate
    * CTEs → exact cosine top-k among the probed cells' members only,
    * selecting `cols`. */
  private def ivfCosineSql(queries: String, nprobe: Int, k: Int, cols: String): String =
    s"""
      WITH $kmeansCtes,
      ${ivfCandSql(queries, nprobe)},
      scored AS (SELECT cand.qid, cand.nid,
                        round(${cosSql("eq.embedding", "en.embedding")}, 6) AS score
                 FROM cand JOIN embeddings eq ON eq.vec_id = cand.qid
                           JOIN embeddings en ON en.vec_id = cand.nid),
      ${topKTailSql(k, cols)}"""

  // ── q46 constants: up to 48 sign-bit hyperplanes over the 64-dim
  //    space, 4 bands × adaptive 4..12 bits. ±1 entries come from a fixed
  //    LCG (bit 32, the low bit of an LCG alternates) so the Scala side
  //    and the literal arrays inlined into the oracle SQL are the same
  //    matrix. The matrix is a PREFIX extension of the 16-row round-4
  //    matrix: the LCG stream just keeps running, so rows 0..15 are
  //    byte-identical to the old constants and every corpus that
  //    resolves to 4-bit bands (both gate scales) produces unchanged
  //    output. ──
  private[graft] val RpBitsMax = 48 // 4 bands × 12-bit ceiling
  private val RpBands = 4
  private val RpDim = 64
  private val hyperplaneSigns: Array[Array[Double]] = {
    var s = 715225739L
    def next(): Long = {
      s = (s * 6364136223846793005L + 1442695040888963407L) & Long.MaxValue; s
    }
    Array.fill(RpBitsMax, RpDim)(if (((next() >>> 32) & 1L) == 1L) 1.0 else -1.0)
  }
  private def hyperplaneSign(b: Int, i: Int): Double = hyperplaneSigns(b)(i)
  private[graft] def Hyperplanes(b: Int): Array[Double] = hyperplaneSigns(b)

  /** q46 adaptive band width (defined semantics, oracle-mirrored): the
    * smallest b in 4..12 with 125·2^b ≥ n, else 12 — expected bucket
    * size stays ≤ ~125·skew, so candidate volume is Θ(n·bucket) —
    * LINEAR in n until the 12-bit ceiling at n = 512000·skew
    * (fixed-width LSH banding is Θ(n²/2^b) — AbQ46 measured the cliff:
    * 20.5 s steady at sf1 with 4-bit bands vs 4.2 s with 8-bit,
    * identical scheme; the r16 whole-suite sf3 audit then caught the
    * OLD 8-bit ceiling itself: 60k vectors sat past 32000·skew and
    * q46 read 10× on 3× data — raising the ceiling is exactly the
    * "extend RpBitsMax" note this scaladoc carried since r10). Every
    * corpus at or below sf1 resolves to the same width as before —
    * gate hashes and committed artifacts unchanged. Integer-exact on
    * both engines — no float log anywhere near a semantics boundary. */
  private[graft] def rpBandBits(n: Long): Int =
    (4 to 12).find(b => 125L * (1L << b) >= n).getOrElse(12)

  /** q93 power-iteration rounds — declared before `defs` (eager Seq). */
  private val PcaIters = 8

  // ── q12 bound: the kNN join probes the TRAINED coarse quantizer
  //    instead of scanning the corpus (the q73/q88 machinery; reference
  //    contract IVF_FLAT nlist/nprobe,
  //    `src/archive/chunking_strategy_docker.py:161-171`). Work per query
  //    drops from |corpus| to ~nprobe/nlist of it, and the all-pairs
  //    score matrix is never materialized — the round-9 verdict's last
  //    super-linear query gets the q24/q31/q98 treatment: the bound IS
  //    the semantics (the reference's IVF_FLAT search is approximate by
  //    the same contract), mirrored in the oracle, and Q12BoundSpec
  //    proves the unblocked path unreachable, probe==exact on clustered
  //    data, and a recall floor on the isotropic gate data. "Unchanged
  //    gate output" is unattainable here: measured on the driver's
  //    isotropic embeddings, recall ≈ scan fraction at every
  //    (nlist, nprobe) — exactness would mean scanning everything
  //    (SCALE.md, round-10 q12 entry). Exact brute force for a small
  //    query set remains q11. ──
  private val KnnNprobe = 2

  /** The IVF candidate frame over the trained index — (cell, nid, nv,
    * qid, qv_orig) for each query matching `queries` (a predicate on
    * `vec_id`) and the members of its nprobe probed cells
    * (`IvfKMeans.probeCells`), self excluded. Shared by q12, q73 and q88;
    * SQL twin `ivfCandSql`. Package-visible so Q12BoundSpec can assert
    * the blocking directly (unprobed-cell members never become
    * candidates). The quantized view is recomputed alongside the
    * original embedding column (a map-only transform) instead of joining
    * back to trainedKMeans's frame — no shuffle to re-attach vectors.
    * The probed side (qid, cell, qv_orig) is the broadcast: the query
    * sample times nprobe rows, small by construction, so the member scan
    * joins map-side and the corpus never shuffles for the join. */
  private[graft] def knnJoinCandidates(s: SparkSession, dir: String,
                                       queries: Column, nprobe: Int): DataFrame = {
    val (_, cents) = trainedKMeans(s, dir)
    val withQv = emb(s, dir).select(col("vec_id"), col("embedding"),
      quantized(col("embedding")).as("qv"))
    val members = IvfKMeans.assignCells(withQv, "qv", cents, KmScale)
      .select(col("vec_id").as("nid"), col("cell"), col("embedding").as("nv"))
    val probed = IvfKMeans.probeCells(withQv.filter(queries)
        .select(col("vec_id").as("qid"), col("qv"), col("embedding").as("qv_orig")),
        "qv", cents, KmScale, nprobe)
      .select(col("qid"), col("cell"), col("qv_orig"))
    members.join(broadcast(probed), Seq("cell"))
      .filter(col("qid") =!= col("nid"))
  }

  val defs: Seq[QueryDef] = Seq(

    // ── q11: brute-force cosine top-k for a small query set (T1) ──
    QueryDef("q11_ann_topk",
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        top5(e.select(col("vec_id").as("nid"), col("embedding").as("nv"))
          .join(broadcast(q), col("qid") =!= col("nid"))
          .withColumn("score", score6(col("qv"), col("nv"))))
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
             c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
             scored AS (
               SELECT qid, nid, round(${cosSql("qv", "nv")}, 6) AS score
               FROM q JOIN c ON qid <> nid),${topKTailSql(5)}""")),

    // ── q12: k-NN join (1-nn for a sampled left side; J4 at scale).
    //   BOUNDED since round 10: candidates come from the trained IVF
    //   coarse quantizer's probed cells (KnnNprobe of the adaptive
    //   nlist — see kmNlist; candidates per query ≈ nprobe·KmCell), never the
    //   whole corpus — see knnJoinCandidates. The 1-NN rerank runs
    //   through the native TopKAgg heap (k=1), so partial aggregation
    //   combines map-side and the scored candidates never shuffle as
    //   rows — only one (qid, best) pair per partition reaches the
    //   exchange. ──
    QueryDef("q12_knn_join",
      (s, dir) => {
        knnJoinCandidates(s, dir, col("vec_id") % 5 === 0, KnnNprobe)
          .withColumn("score", score6(col("qv_orig"), col("nv")))
          .select(col("qid"), col("nid"), col("score"))
          .groupBy(col("qid"))
          .agg(graft.operators.TopKAgg.topK(col("score"), col("nid"), 1).as("top"))
          .select(col("qid"), explode(col("top")).as("t"))
          .select(col("qid"), col("t.id").as("nid"), col("t.v").as("score"))
          .orderBy(col("qid"))
      },
      Some(ivfCosineSql("vec_id % 5 = 0", KnnNprobe, 1, "qid, nid, score"))),

    // ── q13: blocked near-duplicate pairs in embedding space ──
    QueryDef("q13_neardup_cosine",
      (s, dir) => {
        val e = emb(s, dir)
        guardBlocks(e) // Θ(block²) semantics: refuse a data-defined flood
        val a = e.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("va"))
        val b = e.select(col("label"), col("vec_id").as("id_b"), col("embedding").as("vb"))
        a.join(b, Seq("label")).filter(col("id_a") < col("id_b"))
          .withColumn("score", score6(col("va"), col("vb")))
          .filter(col("score") >= 0.4)
          .select(col("label"), col("id_a"), col("id_b"), col("score"))
          .orderBy(col("label"), col("id_a"), col("id_b"))
      },
      Some(s"""
        SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
               round(${cosSql("a.embedding", "b.embedding")}, 6) AS score
        FROM embeddings a JOIN embeddings b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE round(${cosSql("a.embedding", "b.embedding")}, 6) >= 0.4
        ORDER BY label, id_a, id_b""")),

    // ── q15: IVF-style ANN (reference S11: IVF_FLAT nlist/nprobe,
    //   `src/archive/chunking_strategy_docker.py:161-171`). Build phase:
    //   one centroid per label (the coarse quantizer; rounded to 6dp so
    //   both engines share the exact centroid). Probe phase: each query
    //   scans only the nprobe=2 nearest cells instead of the whole
    //   collection — the scan shrinks by nlist/nprobe, which is the whole
    //   point at 100 TB (cells = partition keys → partition pruning). ──
    QueryDef("q15_ivf_ann",
      (s, dir) => {
        val e = emb(s, dir)
        // centroids: per-label, per-position mean over ×1e6-QUANTIZED
        // elements — the q67 discipline applied here (r11 review): a raw
        // double sum is accumulation-order dependent under Spark's
        // partial-aggregate merge, so a mean within ulps of a 6dp
        // boundary could round differently run-to-run or vs DuckDB's
        // sequential sum. Integer sums are exact at any order.
        val cents = e
          .select(col("label"), posexplode(
            transform(col("embedding").cast("array<double>"),
              v => floor(v * lit(1e6) + lit(0.5)).cast("long"))))
          .groupBy(col("label"), col("pos"))
          .agg(round(sum(col("col")).cast("double") / count(lit(1)) / lit(1e6), 6).as("c"))
          .groupBy(col("label"))
          .agg(transform(sort_array(collect_list(struct(col("pos"), col("c")))),
            x => x.getField("c")).as("cv"))
        val q = e.filter(col("vec_id") < 20)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        // probe: 2 nearest centroids per query
        val wProbe = Window.partitionBy(col("qid")).orderBy(col("cscore").desc, col("label").asc)
        val probed = q.join(broadcast(cents), lit(true))
          .withColumn("cscore", round(VectorKernels.cosineFast(col("qv"), col("cv")), 6))
          .withColumn("crnk", row_number().over(wProbe))
          .filter(col("crnk") <= 2)
          .select(col("qid"), col("qv"), col("label"))
        // search only within probed cells
        top5(probed.join(e.select(col("label"), col("vec_id").as("nid"), col("embedding").as("nv")), Seq("label"))
          .filter(col("qid") =!= col("nid"))
          .withColumn("score", score6(col("qv"), col("nv"))))
      },
      Some(s"""
        WITH elems AS (
          SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v
          FROM embeddings, UNNEST(range(1, 65)) AS t(i)),
        cent AS (
          SELECT label, i,
                 round(CAST(sum(CAST(floor(v * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                       / count(*) / 1000000.0, 6) AS c
          FROM elems GROUP BY label, i),
        centv AS (SELECT label, list(c ORDER BY i) AS cv FROM cent GROUP BY label),
        q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 20),
        probed AS (
          SELECT qid, qv, label FROM (
            SELECT q.qid, q.qv, centv.label,
                   row_number() OVER (PARTITION BY q.qid
                     ORDER BY round(${cosSql("q.qv", "centv.cv")}, 6) DESC, centv.label ASC) AS crnk
            FROM q CROSS JOIN centv) WHERE crnk <= 2),
        scored AS (
          SELECT p.qid, e.vec_id AS nid, round(${cosSql("p.qv", "e.embedding")}, 6) AS score
          FROM probed p JOIN embeddings e ON p.label = e.label AND p.qid <> e.vec_id),${topKTailSql(5)}""")),

    // ── q45: scalar-quantized (SQ8) similarity — the memory-side scale
    //   path IVF_FLAT pairs with in real ANN systems: each stored vector
    //   compresses to per-vector (min, scale) + 64 int8 codes (4× smaller
    //   than float32, 8× smaller than the double math), and queries score
    //   full-precision-query × reconstructed-neighbor. floor(x + 0.5)
    //   instead of round() so both engines quantize identically (Spark
    //   round is HALF_UP via BigDecimal, DuckDB rounds half away from
    //   zero; floor is exact in both). Codes and reconstruction stage as
    //   separate projections — Catalyst does no CSE inside lambdas. ──
    QueryDef("q45_sq8_ann",
      (s, dir) => {
        val e = emb(s, dir)
        val coded = e
          .withColumn("mn", array_min(col("embedding")).cast("double"))
          // greatest(..., 1e-12): a constant vector has max=min → scale 0,
          // which divides by zero (ANSI throw / engine-divergent inf). The
          // floor guard keeps codes at 0 and recon at mn — exact either way.
          .withColumn("scale", greatest(
            (array_max(col("embedding")).cast("double") - col("mn")) / 255.0,
            lit(1e-12)))
          .withColumn("codes", transform(col("embedding").cast("array<double>"),
            v => floor((v - col("mn")) / col("scale") + 0.5)))
          .withColumn("recon", transform(col("codes"),
            c => col("mn") + col("scale") * c))
          .select(col("vec_id").as("nid"), col("recon"))
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        top5(coded.join(broadcast(q), col("qid") =!= col("nid"))
          .withColumn("score", round(VectorOps.cosine(col("qv"), col("recon")), 6)))
      },
      Some(s"""
        WITH base AS (
          SELECT vec_id, embedding,
                 CAST(list_aggregate(embedding, 'min') AS DOUBLE) AS mn,
                 greatest((CAST(list_aggregate(embedding, 'max') AS DOUBLE)
                  - CAST(list_aggregate(embedding, 'min') AS DOUBLE)) / 255.0,
                  1e-12) AS scale
          FROM embeddings),
        coded AS (
          SELECT vec_id AS nid,
                 list_transform(embedding,
                   v -> mn + scale * floor((CAST(v AS DOUBLE) - mn) / scale + 0.5)) AS recon
          FROM base),
        q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
        scored AS (
          SELECT qid, nid, round(${cosSql("qv", "recon")}, 6) AS score
          FROM q JOIN coded ON qid <> nid),${topKTailSql(5)}""")),

    // ── q46: random-hyperplane LSH near-dup over embeddings — the
    //   UNBLOCKED scale path q13's label-blocking can't give you (labels
    //   don't exist on a raw crawl). Sign bits against fixed ±1
    //   hyperplanes (SimHash-for-vectors), banded 4 × rpBandBits(n) →
    //   candidates are same-band collisions only, then exact cosine
    //   verification. The hyperplane matrix comes from the shared LCG
    //   and is inlined into the oracle SQL as literals, so both engines
    //   run the identical pipeline (collision sets and all — recall is
    //   a property of the scheme, determinism of the constants). Band
    //   WIDTH is adaptive (round 10, the q48 one-probe-pass regime):
    //   rpBandBits keeps the expected bucket ≤ ~125, so candidate
    //   volume stays linear instead of the fixed-width Θ(n²/2^b); both
    //   gate scales resolve to the old 4-bit semantics over the
    //   identical plane-matrix prefix, so their outputs are unchanged.
    //   The oracle derives the same width from count(*) — adaptive in
    //   both engines, never drifting. ──
    QueryDef("q46_rplsh_neardup",
      (s, dir) => {
        val e = emb(s, dir)
        // one cheap count sizes the band width — the q48 probe-pass
        // pattern; vec_id-only scan, negligible next to the signature
        val bits = rpBandBits(e.count())
        val bitCols = (0 until RpBands * bits).map { b =>
          (VectorKernels.dotFast(col("embedding"), Hyperplanes(b)) >= 0).cast("int")
        }
        val withBits = e.select(col("vec_id"), col("embedding"),
          array(bitCols: _*).as("bits"))
        val bandCols = (0 until RpBands).map { j =>
          struct(lit(j).as("band_idx"),
            (0 until bits).map(k =>
              element_at(col("bits"), j * bits + k + 1) * (1 << (bits - 1 - k)))
              .reduce(_ + _).as("band_val"))
        }
        // persisted: banded feeds BOTH sides of the band self-join, and
        // the signature pass is the expensive part — derive it once
        // (the q114 lesson; uncached this was the 2nd-slowest query in
        // the suite at 3.8 s). NARROW: the candidate join moves only
        // ids; embeddings re-attach per DISTINCT surviving pair by id
        // equi-joins — carrying both 64-dim embeddings through the
        // band join shuffled ~12 GB at sf1 (353 s, the round-8
        // full-sweep cliff).
        val banded = withBits
          .select(col("vec_id"), explode(array(bandCols: _*)).as("band"))
          .select(col("vec_id"),
            col("band.band_idx").as("band_idx"), col("band.band_val").as("band_val"))
          .persist()
        val a = banded.select(col("band_idx"), col("band_val"), col("vec_id").as("id_a"))
        val b = banded.select(col("band_idx"), col("band_val"), col("vec_id").as("id_b"))
        val cand = a.join(b, Seq("band_idx", "band_val"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"))
          .dropDuplicates("id_a", "id_b") // a pair may collide in several bands
        cand
          .join(e.select(col("vec_id").as("id_a"), col("embedding").as("va")), Seq("id_a"))
          .join(e.select(col("vec_id").as("id_b"), col("embedding").as("vb")), Seq("id_b"))
          .withColumn("score", score6(col("va"), col("vb")))
          .filter(col("score") >= 0.4)
          .select(col("id_a"), col("id_b"), col("score"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some {
        val planes = (0 until RpBitsMax).map { b =>
          (0 until RpDim).map(i => hyperplaneSign(b, i)).map(v =>
            if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
        }
        val bitsSql = planes.map { p =>
          s"CASE WHEN list_sum(list_transform(range(1, ${RpDim + 1}), i -> CAST(embedding[i] AS DOUBLE) * ($p)[i])) >= 0 THEN 1 ELSE 0 END"
        }.mkString("[", ",\n               ", "]")
        s"""
        WITH nb AS (SELECT count(*) AS n FROM embeddings),
        bw AS (
          SELECT COALESCE(min(t.b), 12) AS b
          FROM (VALUES (4), (5), (6), (7), (8), (9), (10), (11), (12)) t(b), nb
          WHERE 125 * (1::BIGINT << t.b) >= nb.n),
        sigs AS (
          SELECT vec_id, embedding,
                 $bitsSql AS bits
          FROM embeddings),
        banded AS (
          SELECT vec_id, embedding, j AS band_idx,
                 list_sum(list_transform(range(0, bw.b), k ->
                   bits[j * bw.b + k + 1] * (1::BIGINT << (bw.b - 1 - k)))) AS band_val
          FROM sigs, bw, UNNEST([0, 1, 2, 3]) AS t(j)),
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.band_val = b.band_val
           AND a.vec_id < b.vec_id)
        SELECT c.id_a, c.id_b,
               round(${cosSql("ea.embedding", "eb.embedding")}, 6) AS score
        FROM cand c
          JOIN embeddings ea ON ea.vec_id = c.id_a
          JOIN embeddings eb ON eb.vec_id = c.id_b
        WHERE round(${cosSql("ea.embedding", "eb.embedding")}, 6) >= 0.4
        ORDER BY id_a, id_b"""
      }),

    // ── q14: per-label embedding statistics (A8 generalization) ──
    QueryDef("q14_embed_stats",
      (s, dir) =>
        emb(s, dir)
          .select(col("label"),
            // per-row norm is a deterministic sequential fold; the
            // AVERAGE integer-lifts each 6dp-rounded norm before the sum
            // so the aggregate is accumulation-order independent — a raw
            // avg(double) depends on Spark's partial-merge order and can
            // cross a 6dp boundary vs DuckDB's sequential sum (r11
            // review; the q90/q101 lifting discipline applied here)
            floor(round(VectorOps.normL2(col("embedding")), 6) * lit(1e6) + lit(0.5))
              .cast("long").as("nrm6"),
            array_min(col("embedding")).cast("double").as("mn"),
            array_max(col("embedding")).cast("double").as("mx"))
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
               round(sum(col("nrm6")).cast("double") / count(lit(1)) / lit(1e6), 6)
                 .as("avg_norm"),
               min(col("mn")).as("min_elem"),
               max(col("mx")).as("max_elem"))
          .orderBy(col("label")),
      Some(s"""
        SELECT label, count(*) AS n,
               round(CAST(sum(CAST(floor(round(${normSql("embedding")}, 6) * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                     / count(*) / 1000000.0, 6) AS avg_norm,
               min(CAST(list_aggregate(embedding, 'min') AS DOUBLE)) AS min_elem,
               max(CAST(list_aggregate(embedding, 'max') AS DOUBLE)) AS max_elem
        FROM embeddings GROUP BY label ORDER BY label""")),

    // ── q67: trained IVF coarse quantizer — full Lloyd's k-means (the
    //   piece q15 stubbed with per-label centroids; reference trains
    //   IVF_FLAT with nlist k-means centroids,
    //   `src/archive/chunking_strategy_docker.py:161-171`). Both engines
    //   run the IDENTICAL algorithm: vectors quantized to integer-valued
    //   doubles (round-half-up ×1e6) so every centroid sum is EXACT (and
    //   order-independent) below 2^53; seeds = the k smallest vec_ids;
    //   per-round argmin on 6dp-rounded unscaled distances with cell-id
    //   tiebreak. The driver runs the rounds over one collect of the
    //   training rows (every row at gate scale — see IvfKMeans), the
    //   final assignment is one map-only CellArgMin pass in the plan;
    //   the oracle unrolls the rounds as CTEs. ──
    QueryDef("q67_ivf_kmeans",
      (s, dir) => {
        val (q, cents) = trainedKMeans(s, dir)
        IvfKMeans.assignCells(q, "qv", cents, KmScale)
          .select(col("vec_id"), col("cell"), col("dist6"))
          .orderBy(col("vec_id"))
      },
      Some(kmeansSql)),

    // ── q73: IVF probe search over the q67-trained index — the complete
    //   nlist/nprobe ANN the reference configures (IVF_FLAT, nprobe
    //   probing, `src/archive/chunking_strategy_docker.py:161-171`), with
    //   LEARNED cells end to end: train → per-query nprobe=2 nearest
    //   centroids → exact cosine top-5 among only those cells' members.
    //   The scan side shrinks by ~nprobe/nlist (here 2/8); at 100 TB the
    //   cells are hive partitions (Collection.buildIvf/searchIvf is that
    //   production path, partition-pruning spec-asserted). ──
    QueryDef("q73_ivf_probe",
      (s, dir) =>
        top5(knnJoinCandidates(s, dir, col("vec_id") < 10, 2)
          .withColumn("score", score6(col("qv_orig"), col("nv")))),
      Some(ivfCosineSql("vec_id < 10", 2, 5, "qid, rnk, nid, score"))),

    // ── q85: SemDeDup — semantic deduplication by k-means clustering +
    //   intra-cluster cosine pruning (Abbas et al., "SemDeDup: Data-
    //   efficient learning at web-scale through semantic deduplication",
    //   2023 — the embedding-space dedup LAION/DataComp pipelines run).
    //   Reuses the q67 trained coarse quantizer: pairwise similarity is
    //   computed ONLY within a learned cluster, never globally — the
    //   cluster count grows with the corpus so per-cluster work stays
    //   bounded, which is the paper's entire scale argument (vs q13's
    //   given-label blocking: here the blocking is LEARNED). A doc is
    //   removed when a lower-id doc in its cluster is ≥ τ cosine-similar;
    //   the keeper is the smallest such id, so output is deterministic.
    //   100 TB shape: one bounded training collect + one hash-partition
    //   on cell for the self-join; no global pair enumeration. ──
    QueryDef("q85_semdedup",
      (s, dir) => {
        val (q, cents) = trainedKMeans(s, dir)
        val assigned = IvfKMeans.assignCells(q, "qv", cents, KmScale)
          .select(col("vec_id"), col("cell"))
        val m = assigned.join(emb(s, dir).select(col("vec_id"), col("embedding")), Seq("vec_id"))
        val a = m.select(col("cell"), col("vec_id").as("keeper_id"), col("embedding").as("av"))
        val b = m.select(col("cell"), col("vec_id").as("removed_id"), col("embedding").as("bv"))
        val w = Window.partitionBy(col("removed_id")).orderBy(col("keeper_id").asc)
        a.join(b, Seq("cell")).filter(col("keeper_id") < col("removed_id"))
          .withColumn("score", score6(col("av"), col("bv")))
          .filter(col("score") >= 0.4)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("cell"), col("removed_id"), col("keeper_id"), col("score"))
          .orderBy(col("removed_id"))
      },
      Some(s"""
        WITH $kmeansCtes,
        m AS (SELECT a.vec_id AS vid, a.cell AS cell, e.embedding AS v
              FROM a${KmRounds + 1} a JOIN embeddings e ON e.vec_id = a.vec_id),
        pairs AS (
          SELECT x.cell AS cell, x.vid AS keeper_id, y.vid AS removed_id,
                 round(${cosSql("x.v", "y.v")}, 6) AS score
          FROM m x JOIN m y ON x.cell = y.cell AND x.vid < y.vid
          WHERE round(${cosSql("x.v", "y.v")}, 6) >= 0.4),
        r AS (SELECT cell, removed_id, keeper_id, score,
                     row_number() OVER (PARTITION BY removed_id
                       ORDER BY keeper_id ASC) AS rn
              FROM pairs)
        SELECT cell, removed_id, keeper_id, score FROM r
        WHERE rn = 1 ORDER BY removed_id""")),

    // ── q86: product quantization + ADC scan — the FAISS/Milvus PQ index
    //   (Jégou et al., "Product Quantization for Nearest Neighbor
    //   Search", TPAMI 2011) re-expressed. The 64-dim space splits into
    //   M=PqM (4) PqSubDim-dim subspaces; each trains its own k=PqK (16)
    //   codebook (the SAME quantize→Lloyd's→6dp-argmin recipe as q67:
    //   IvfKMeans.trainSubspaces runs trainCents' loop per slice of one
    //   collect), so every vector compresses to PqM codes. A query
    //   builds one PqK-entry distance
    //   TABLE per subspace (PqM×PqK = 4×16 entries total) and
    //   scores all candidates by table lookups only — the asymmetric
    //   distance computation that makes PQ memory-bound instead of
    //   compute-bound. Cross-engine determinism: each table entry is a
    //   6dp-rounded double computed by the identical op sequence, and the
    //   ADC sum adds the four entries in FIXED subspace order (d0+d1)+d2
    //   +d3 — bit-identical, so ranks can't flip. 100 TB shape: codes are
    //   4 bytes/vector (16× compression of the scan set); the ADC scan
    //   broadcasts 10 rows of tables and never shuffles the big side. ──
    QueryDef("q86_pq_adc",
      (s, dir) => {
        val q = quantizedEmb(s, dir)
        val (wide, dts) = pqTrained(s, q)
        val qids = q.filter(col("vec_id") < 10).select(col("vec_id").as("qid"))
        val cand = wide.crossJoin(broadcast(qids))
          .filter(col("qid") =!= col("nid"))
        adcRank(s, cand, dts)
      },
      Some(pqAdcSql)),

    // ── q88: IVF_PQ — the composition FAISS defaults to and Milvus ships
    //   as its scale index (Jégou TPAMI'11 §V.B "IVFADC"): the q67 coarse
    //   quantizer narrows the search to nprobe probed cells, and within
    //   them candidates are scored by q86's PQ distance-table lookups
    //   instead of full vectors. Both trainings reuse the exact q67/q86
    //   recipes (quantize→Lloyd's→6dp-argmin, on the driver), so the
    //   oracle is the two CTE chains composed; PQ here encodes RAW
    //   quantized vectors (FAISS by_residual=false) because residuals
    //   v−centroid are not integer-valued, so their sums would not be
    //   cross-engine exact —
    //   the residual-encoding variant (FAISS's default) is the engine
    //   API, Collection.buildIvfPq/searchIvfPq, recall-pinned in
    //   IvfKMeansSpec. 100 TB shape: candidates shrink by ~nprobe/nlist
    //   AND the scan reads 4-byte codes instead of vectors — the scan
    //   set compresses 16× and never shuffles; centroid + code tables
    //   broadcast. ──
    QueryDef("q88_ivfpq",
      (s, dir) => {
        val cand = knnJoinCandidates(s, dir, col("vec_id") < 10, 2)
          .select(col("qid"), col("nid"))
        val (wide, dts) = pqTrained(s, quantizedEmb(s, dir))
        adcRank(s, cand.join(wide, Seq("nid")), dts)
      },
      Some(ivfPqSql)),

    // ── q94: binary quantization ANN (1-bit-per-dim sign codes +
    //   Hamming-distance candidate scan + exact cosine rerank) — the
    //   memory floor of vector search (Qdrant/Milvus BQ; the scalar
    //   extreme of the SQ8 path in q45): 64 dims pack into ONE 64-bit
    //   word (two 32-bit halves here so neither engine touches the sign
    //   bit), the scan is xor+popcount per candidate — 32× smaller than
    //   SQ8, 256× smaller than float32 — and a 3× overfetch by Hamming
    //   is reranked exactly. Candidate cut is deterministic ((ham, nid)
    //   total order); rerank scores are 6dp-rounded with id tiebreak.
    //   100 TB shape: codes are a 8-byte column scanned flat (no index
    //   build at all); queries broadcast; per-query top-c and top-k are
    //   window-free bounded-heap cuts (`operators.TopK` — the corpus-wide
    //   Hamming pass streams an O(log c) heap per group instead of
    //   sorting each map task's candidate partition) and the exact
    //   rerank runs on the pre-shrunk c·|queries|-row frame. ──
    QueryDef("q94_binary_ann",
      (s, dir) => {
        import s.implicits._
        // codegen'd sign-pack (one fused 32-step loop per half, vs the
        // aggregate-HOF's 32 interpreted lambda steps — measured as the
        // dominant q94 cost); persisted because coded feeds the query
        // set, the Hamming scan AND the rerank join-back
        def half(off: Int) =
          graft.functions.VectorKernels.signPack(col("embedding"), off)
        val coded = emb(s, dir)
          .withColumn("c_lo", half(0)).withColumn("c_hi", half(32))
          .persist()
        val q = coded.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"),
            col("c_lo").as("q_lo"), col("c_hi").as("q_hi"))
        // Hamming scan cut: ham ASC ≡ value DESC under negation (exact —
        // ham ≤ 64); id tiebreak = nid ASC, the oracle's total order.
        // Only (qid, nid, ham) flows through the heap (the native
        // `operators.TopKAgg` — no typed-encoder boundary); qv/nv
        // re-attach by joining the 15·|queries|-row survivors back
        // against the corpus (broadcast side = the survivors, so the
        // corpus never shuffles).
        val cand = coded.select(col("vec_id").as("nid"), col("c_lo"), col("c_hi"))
          .join(broadcast(q.select(col("qid"), col("q_lo"), col("q_hi"))),
            col("qid") =!= col("nid"))
          .withColumn("ham",
            (expr("bit_count(c_lo ^ q_lo)") + expr("bit_count(c_hi ^ q_hi)")).cast("long"))
          .select(col("qid"), col("nid"), (-col("ham").cast("double")).as("negham"))
          .groupBy(col("qid"))
          .agg(graft.operators.TopKAgg.topK(col("negham"), col("nid"), 15).as("top"))
          .select(col("qid"), explode(col("top")).as("t"))
          .select(col("qid"), col("t.id").as("nid"),
            (-col("t.v")).cast("long").as("ham"))
        // exact rerank on the survivors; the final top-5 heap carries ham
        // packed into the id's low 7 bits (ham ≤ 64 < 128, nid·128 ≪ 2^53)
        // so no second pass over `cand` is needed — packing preserves the
        // nid ASC tie order because ham is unique per (qid, nid)
        val reranked = broadcast(cand.join(broadcast(q.select(col("qid"), col("qv"))), Seq("qid")))
          .join(coded.select(col("vec_id").as("nid"), col("embedding").as("nv")), Seq("nid"))
          .withColumn("score", score6(col("qv"), col("nv")))
        reranked
          .select(col("qid"), (col("nid") * lit(128L) + col("ham")).as("packed"), col("score"))
          .groupBy(col("qid"))
          .agg(graft.operators.TopKAgg.topK(col("score"), col("packed"), 5).as("top"))
          .select(col("qid"), posexplode(col("top")))
          .select(col("qid"), (col("pos") + 1).cast("long").as("rnk"),
            expr("col.id div 128").as("nid"),
            (col("col.id") % lit(128L)).as("ham"), col("col.v").as("score"))
          .orderBy(col("qid"), col("rnk"))
      },
      Some(s"""
        WITH coded AS (
          SELECT vec_id, embedding,
                 CAST(list_sum(list_transform(range(1, 33), i ->
                   CASE WHEN embedding[i] > 0 THEN power(2, i - 1)
                        ELSE CAST(0 AS DOUBLE) END)) AS BIGINT) AS c_lo,
                 CAST(list_sum(list_transform(range(1, 33), i ->
                   CASE WHEN embedding[i + 32] > 0 THEN power(2, i - 1)
                        ELSE CAST(0 AS DOUBLE) END)) AS BIGINT) AS c_hi
          FROM embeddings),
        q AS (SELECT vec_id AS qid, embedding AS qv, c_lo AS q_lo, c_hi AS q_hi
              FROM coded WHERE vec_id < 10),
        cand AS (
          SELECT qid, qv, nid, nv, ham,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY ham ASC, nid ASC) AS crnk
          FROM (SELECT q.qid, q.qv, c.vec_id AS nid, c.embedding AS nv,
                       CAST(bit_count(xor(c.c_lo, q.q_lo)) +
                            bit_count(xor(c.c_hi, q.q_hi)) AS BIGINT) AS ham
                FROM coded c JOIN q ON q.qid <> c.vec_id)),
        reranked AS (
          SELECT qid, nid, ham, round(${cosSql("qv", "nv")}, 6) AS score
          FROM cand WHERE crnk <= 15)
        SELECT qid, CAST(row_number() OVER (PARTITION BY qid
                 ORDER BY score DESC, nid ASC) AS BIGINT) AS rnk, nid, ham, score
        FROM reranked
        QUALIFY rnk <= 5 ORDER BY qid, rnk""")),

    // ── q93: PCA top component by distributed moments + power iteration
    //   — the whitening/decorrelation step embedding pipelines run
    //   before quantization (SemDeDup preprocesses with PCA; OPQ is PQ
    //   after a learned rotation). The heavy pass is ONE aggregation:
    //   per-dim rows (posexplode, 64× not 4096×) reduced map-side to a
    //   64-row × 65-sum moment table (counts, Σx_i, Σx_i·x_j) — the only
    //   shuffle is 64 partial rows per task, the classic closed-form
    //   covariance shape that scales to any n. The 64×64 eigensolve is
    //   driver-side arithmetic (like k-means centroid updates), then the
    //   projection is one broadcast-literal fold per row. Cross-engine
    //   exactness: moments are integer-exact over ×1e6-quantized values
    //   at ANY row count (decimal/HUGEINT partial sums — a double SUM
    //   would silently go order-dependent past ~9k rows since each pair
    //   product is ~1e12), covariance/power-iteration arithmetic is the
    //   IDENTICAL IEEE op sequence in both engines with the eigenvector
    //   re-rounded to 6dp each iteration, so convergence state is
    //   bit-identical; no sign fixup is needed because covariance is PSD
    //   and v0 is fixed. ──
    QueryDef("q93_pca_power",
      (s, dir) => {
        val q = quantizedEmb(s, dir)
        val dim = 64
        // moment sums accumulate as DECIMAL(38,0), not double: each pair
        // product reaches ~1e12 for ×1e6-quantized unit vectors, so a
        // double SUM loses integer exactness past ~9k rows (2^53/1e12) and
        // silently becomes accumulation-order dependent. Decimal partials
        // stay exact at any row count; the single exact→double conversion
        // below is correctly-rounded identically in both engines (the
        // oracle sums as HUGEINT and casts back to DOUBLE the same way).
        val aggs = sum(col("xi").cast("decimal(38,0)")).as("sx") +:
          (1 to dim).map(j => sum((col("xi") * element_at(col("qv"), j))
            .cast("decimal(38,0)")).as(s"p$j"))
        val momRows = q.select(col("qv"), posexplode(col("qv")).as(Seq("i0", "xi")))
          .groupBy(col("i0"))
          .agg(count(lit(1)).as("cnt"), aggs: _*)
          .collect()
        val n = momRows.head.getLong(1).toDouble
        val sx = new Array[Double](dim)
        val sxy = Array.ofDim[Double](dim, dim)
        momRows.foreach { r =>
          val i = r.getInt(0)
          sx(i) = r.getDecimal(2).doubleValue()
          var j = 0
          while (j < dim) { sxy(i)(j) = r.getDecimal(3 + j).doubleValue(); j += 1 }
        }
        val cov = Array.tabulate(dim, dim) { (i, j) =>
          (sxy(i)(j) - sx(i) * sx(j) / n) / n
        }
        var v = Array.fill(dim)(0.125)
        for (_ <- 1 to PcaIters) {
          val w = Array.tabulate(dim) { i =>
            var acc = 0.0; var j = 0
            while (j < dim) { acc += cov(i)(j) * v(j); j += 1 }
            acc
          }
          var sq = 0.0; var i = 0
          while (i < dim) { sq += w(i) * w(i); i += 1 }
          val norm = math.sqrt(sq)
          v = w.map(x => math.floor(x / norm * 1e6 + 0.5) / 1e6)
        }
        val mu = sx.map(_ / n)
        q.withColumn("mu", typedLit(mu.toSeq)).withColumn("pv", typedLit(v.toSeq))
          .withColumn("pc1", round(expr(
            """aggregate(sequence(1, 64), CAST(0 AS DOUBLE), (acc, i) ->
               acc + (element_at(qv, i) - element_at(mu, i)) * element_at(pv, i))""")
            / lit(1e6), 6))
          .select(col("vec_id"), col("pc1"))
          .orderBy(col("vec_id"))
      },
      Some(pcaSql)),

    // ── q120: Matryoshka truncated-dimension retrieval + recall audit
    //   (Kusupati et al. 2022): score candidates on the FIRST 16 of 64
    //   dims (4× fewer bytes and FLOPs — the cheap first pass an MRL-
    //   trained embedding buys), then audit recall@5 of the truncated
    //   ranking against the exact full-dim ranking. This is the operator
    //   that VALIDATES a truncation choice before a pipeline deploys it;
    //   at 100 TB the prefix pass is the scan (4× less IO with columnar
    //   prefix storage) and the audit runs on a sample exactly like this.
    //   One scored frame persists and feeds both rankings; both top-k
    //   cuts are per-query WindowGroupLimit shapes; the rank join
    //   touches |queries|·k rows. (On THIS corpus recall is low — the
    //   synthetic embeddings are isotropic random, so no dimension
    //   prefix is privileged; an MRL-trained model concentrates signal
    //   up front. The audit reporting that honestly is the point.) ──
    QueryDef("q120_matryoshka_recall",
      (s, dir) => {
        val e = emb(s, dir)
        val q = e.filter(col("vec_id") < 10)
          .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        val scored = e.select(col("vec_id").as("nid"), col("embedding").as("nv"))
          .join(broadcast(q), col("qid") =!= col("nid"))
          .withColumn("score_full", score6(col("qv"), col("nv")))
          .withColumn("score_pre", round(VectorKernels.cosineFast(
            slice(col("qv"), 1, MrDim), slice(col("nv"), 1, MrDim)), 6))
          .persist() // one scoring pass feeds BOTH rankings
        val wF = Window.partitionBy(col("qid"))
          .orderBy(col("score_full").desc, col("nid").asc)
        val wP = Window.partitionBy(col("qid"))
          .orderBy(col("score_pre").desc, col("nid").asc)
        val exact = scored.withColumn("rnk", row_number().over(wF))
          .filter(col("rnk") <= 5).select(col("qid"), col("nid"))
        val approx = scored.withColumn("rnk", row_number().over(wP))
          .filter(col("rnk") <= 5).select(col("qid"), col("nid"))
        val hits = exact.join(approx, Seq("qid", "nid"))
          .groupBy(col("qid")).agg(count(lit(1)).as("n_hit"))
        q.select(col("qid")).join(hits, Seq("qid"), "left")
          .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
          .withColumn("recall", col("n_hit").cast("double") / lit(5.0))
          .orderBy(col("qid"))
      },
      Some(s"""
        WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
                   WHERE vec_id < 10),
        c AS (SELECT vec_id AS nid, embedding AS nv FROM embeddings),
        scored AS MATERIALIZED (
          SELECT qid, nid,
                 round(${cosSql("qv", "nv")}, 6) AS sf,
                 round(${cosSql("qv", "nv", MrDim)}, 6) AS sp
          FROM q JOIN c ON qid <> nid),
        ex AS (SELECT qid, nid FROM (
                 SELECT qid, nid, row_number() OVER (
                   PARTITION BY qid ORDER BY sf DESC, nid ASC) AS rnk
                 FROM scored) WHERE rnk <= 5),
        ap AS (SELECT qid, nid FROM (
                 SELECT qid, nid, row_number() OVER (
                   PARTITION BY qid ORDER BY sp DESC, nid ASC) AS rnk
                 FROM scored) WHERE rnk <= 5),
        hits AS (
          SELECT e.qid, count(*) AS n_hit
          FROM ex e JOIN ap a ON e.qid = a.qid AND e.nid = a.nid
          GROUP BY e.qid)
        SELECT q.qid, coalesce(hits.n_hit, 0) AS n_hit,
               CAST(coalesce(hits.n_hit, 0) AS DOUBLE) / 5.0 AS recall
        FROM q LEFT JOIN hits ON q.qid = hits.qid ORDER BY q.qid""")),

    // ── q135: contrastive-pair mining — the negative-sampling manifest
    //   an embedding-model trainer consumes (SimCLR/DPR-style): per
    //   anchor, the 3 HARD negatives (highest cosine among
    //   different-label vectors — the near-misses that carry gradient
    //   signal) plus 2 UNIFORM negatives (deterministic hash-rank draw
    //   over the remaining different-label pool, so the sample is
    //   reproducible across runs/engines with zero stored RNG state —
    //   the q134 epoch-key idiom).
    //
    //   100 TB shape: TWO broadcast-join passes over the corpus — each
    //   pass's rank filter becomes a WindowGroupLimit that prunes to k
    //   rows per anchor per partition BEFORE the shuffle, so the wide
    //   edges carry O(anchors·k·partitions), never anchors×corpus. (A
    //   stacked two-window single pass would re-exchange the full cand
    //   frame between windows: the rand window partitions by (anchor,
    //   is-hard), a different key.) The hard result (anchors·3 rows) is
    //   PERSISTED and the exclusion joins it with an explicit
    //   broadcast() — without both, the r16 self-review caught the plan
    //   recomputing the hard leg for the anti-join side AND planning
    //   the exclusion as a SortMergeJoin that shuffled the full
    //   anchors×corpus cand frame, exactly the wide edge this comment
    //   rules out (an un-hinted 48-row aggregate side has no stats
    //   until AQE has already materialized the big side's exchange).
    //   The hard leg's corpus scan is the q11 brute-force baseline; at
    //   IVF scale the candidates come from the probed cells (q15/q88)
    //   and the rand leg from per-partition reservoirs. ──
    QueryDef("q135_hard_negatives",
      (s, dir) => {
        val e = emb(s, dir)
        val anchors = broadcast(e.filter(col("vec_id") < 16)
          .select(col("vec_id").as("anchor_id"), col("label").as("alabel"),
            col("embedding").as("av")))
        // different-label candidates, scored once per pass
        def cand = e.join(anchors, col("label") =!= col("alabel"))
          .select(col("anchor_id"), col("vec_id").as("neg_id"),
            score6(col("av"), col("embedding")).as("score"),
            graft.functions.XHash.hash60(concat(col("anchor_id").cast("string"),
              lit(":"), col("vec_id").cast("string"))).as("h"))
        val wHard = Window.partitionBy(col("anchor_id"))
          .orderBy(col("score").desc, col("neg_id").asc)
        val hard = cand
          .withColumn("rnk", row_number().over(wHard).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("anchor_id"), col("neg_id"), col("score"), col("rnk"))
          .persist() // anchors·3 rows: computed once, feeds union AND exclusion
        val wRand = Window.partitionBy(col("anchor_id"))
          .orderBy(col("h").asc, col("neg_id").asc)
        val rand = cand
          .join(broadcast(hard.select(col("anchor_id"), col("neg_id"))),
            Seq("anchor_id", "neg_id"), "left_anti")
          .withColumn("rnk", row_number().over(wRand).cast("long"))
          .filter(col("rnk") <= 2)
          .select(col("anchor_id"), col("neg_id"), col("score"), col("rnk"))
        hard.withColumn("kind", lit("hard"))
          .unionByName(rand.withColumn("kind", lit("rand")))
          .select(col("anchor_id"), col("kind"), col("rnk"), col("neg_id"), col("score"))
          .orderBy(col("anchor_id"), col("kind"), col("rnk"))
      },
      Some(s"""
        WITH anc AS (
          SELECT vec_id AS anchor_id, label AS alabel, embedding AS av
          FROM embeddings WHERE vec_id < 16),
        cand AS (
          SELECT a.anchor_id AS anchor_id, e.vec_id AS neg_id,
                 round(${cosSql("a.av", "e.embedding")}, 6) AS score,
                 ${graft.functions.XHash.hash60Sql(
                   "a.anchor_id::VARCHAR || ':' || e.vec_id::VARCHAR")} AS h
          FROM anc a JOIN embeddings e ON e.label != a.alabel),
        hard AS (
          SELECT anchor_id, neg_id, score,
                 CAST(row_number() OVER (PARTITION BY anchor_id
                   ORDER BY score DESC, neg_id ASC) AS BIGINT) AS rnk
          FROM cand),
        hardk AS (SELECT * FROM hard WHERE rnk <= 3),
        rand AS (
          SELECT c.anchor_id, c.neg_id, c.score,
                 CAST(row_number() OVER (PARTITION BY c.anchor_id
                   ORDER BY c.h ASC, c.neg_id ASC) AS BIGINT) AS rnk
          FROM cand c
          WHERE NOT EXISTS (SELECT 1 FROM hardk k
            WHERE k.anchor_id = c.anchor_id AND k.neg_id = c.neg_id)),
        randk AS (SELECT * FROM rand WHERE rnk <= 2)
        SELECT anchor_id, 'hard' AS kind, rnk, neg_id, score FROM hardk
        UNION ALL
        SELECT anchor_id, 'rand' AS kind, rnk, neg_id, score FROM randk
        ORDER BY anchor_id, kind, rnk""")),

    // ── q136: cluster-BALANCED sample — eval-set / annotation-batch
    //   construction over the q67 trained quantizer: per learned
    //   semantic cluster, the 5 members with the smallest deterministic
    //   hash rank (hash60('eval:' vec_id) — the q134/q135 seeded-draw
    //   idiom, zero RNG state). Uniform corpus sampling over-represents
    //   the dominant clusters; a per-cluster draw covers the corpus's
    //   semantic MODES — the standard eval-subset recipe for curation
    //   pipelines (cluster-then-sample, as in DataComp/SemDeDup-style
    //   audits). dist6 rides along so a consumer can also take
    //   medoid-like (smallest-distance) members by re-ranking.
    //
    //   100 TB shape: assignment is map-only against broadcast
    //   centroids (nlist grows with the corpus, q67's kmNlist); the
    //   draw is a per-cell rank window whose filter becomes a map-side
    //   WindowGroupLimit, so the only shuffle carries
    //   O(cells·5·partitions) rows. Oracle: the SAME unrolled Lloyd's
    //   CTE chain as q67 (shared kmeansCtes — zero drift) with the
    //   hash-rank draw on top. ──
    QueryDef("q136_cluster_sample",
      (s, dir) => {
        val (q, cents) = trainedKMeans(s, dir)
        clusterDraw(IvfKMeans.assignCells(q, "qv", cents, KmScale), 5)
          .orderBy(col("cell"), col("rnk"))
      },
      Some(s"""
        WITH $kmeansCtes,
        drawn AS (
          SELECT cell, vec_id, dist6,
                 CAST(row_number() OVER (PARTITION BY cell
                   ORDER BY ${graft.functions.XHash.hash60Sql("'eval:' || vec_id::VARCHAR")} ASC,
                     vec_id ASC) AS BIGINT) AS rnk
          FROM a${KmRounds + 1})
        SELECT cell, rnk, vec_id, dist6 FROM drawn WHERE rnk <= 5
        ORDER BY cell, rnk""")),

    // ── q151: embedding-space OUTLIER audit (r18) — the vector-side
    //   curation check the scalar passes (q95 rules, q104 MAD, q117/q130
    //   classifier) cannot see: a doc whose text stats look normal but
    //   whose embedding sits far from its label's centroid is mislabeled,
    //   adversarial, or a pipeline bug (truncated/garbled encodes land in
    //   a characteristic far-from-everything region). Per label: integer-
    //   lifted (milli-unit) centroid from EXACT per-dim long sums
    //   (integer division — both engines identical), squared L2 distance
    //   to it in pure integer space, then a z-score within the label from
    //   exact decimal power sums (the q143 discipline) and the top-3
    //   outliers per label. 100 TB shape: the centroid is ONE map-side-
    //   combinable groupBy(label, dim) over the exploded frame; centroids
    //   (labels×dim rows) broadcast back and the distance is a map-only
    //   HOF fold per row; the moment rollup is labels-sized; the rank
    //   window prunes map-side (WindowGroupLimit). No pairwise anything. ──
    QueryDef("q151_embed_outliers",
      (s, dir) => {
        import org.apache.spark.sql.types.DecimalType
        val D = DecimalType(38, 0)
        val lifted = emb(s, dir)
          .select(col("vec_id"), col("label"),
            transform(col("embedding"),
              x => floor(x.cast("double") * lit(1000.0) + lit(0.5)).cast("long"))
              .as("xi"))
        val cent = lifted
          .select(col("label"), posexplode(col("xi")))
          .groupBy(col("label"), col("pos"))
          .agg(sum(col("col")).as("sx"), count(lit(1)).as("n"))
          .withColumn("c", expr("sx div n"))
          .groupBy(col("label"))
          .agg(sort_array(collect_list(struct(col("pos"), col("c")))).as("cs"))
          .select(col("label"),
            expr("transform(cs, e -> e.c)").as("cv"))
        val dist = lifted.join(broadcast(cent), Seq("label"))
          .withColumn("d2", expr(
            "aggregate(zip_with(xi, cv, (x, c) -> (x - c) * (x - c)), 0L, (a, e) -> a + e)"))
          .select(col("vec_id"), col("label"), col("d2"))
        val mom = dist.groupBy(col("label")).agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("d2").cast(D)).cast("double").as("s1"),
          sum(col("d2").cast(D) * col("d2").cast(D)).cast("double").as("ss"))
        val wr = Window.partitionBy(col("label"))
          .orderBy(col("z").desc, col("vec_id").asc)
        dist.join(broadcast(mom), Seq("label"))
          .withColumn("z", round({
            val mean = col("s1") / col("n")
            val varr = col("ss") / col("n") - mean * mean
            when(varr <= 0.0, lit(0.0))
              .otherwise((col("d2").cast("double") - mean) / sqrt(varr))
          }, 6))
          .withColumn("rnk", row_number().over(wr).cast("long"))
          .filter(col("rnk") <= 3)
          .select(col("label"), col("rnk"), col("vec_id"), col("z"))
          .orderBy(col("label"), col("rnk"))
      },
      Some("""
        WITH lifted AS (
          SELECT vec_id, label,
                 list_transform(embedding, x ->
                   CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT)) AS xi
          FROM embeddings),
        pd AS (
          SELECT label, i.i AS pos,
                 CAST(sum(xi[i.i]) AS BIGINT) AS sx, count(*) AS n
          FROM lifted, unnest(range(1, len(xi) + 1)) AS i(i)
          GROUP BY 1, 2),
        cent AS (
          SELECT label, list(sx // n ORDER BY pos) AS cv
          FROM pd GROUP BY label),
        dist AS (
          SELECT vec_id, l.label AS label,
                 CAST(list_sum(list_transform(range(1, len(xi) + 1),
                   i -> (xi[i] - cv[i]) * (xi[i] - cv[i]))) AS BIGINT) AS d2
          FROM lifted l JOIN cent c ON l.label = c.label),
        mom AS (
          SELECT label, CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(CAST(d2 AS DECIMAL(18,0))) AS DOUBLE) AS s1,
                 CAST(sum(CAST(d2 AS DECIMAL(18,0)) * CAST(d2 AS DECIMAL(18,0)))
                   AS DOUBLE) AS ss
          FROM dist GROUP BY label),
        z AS (
          SELECT d.vec_id AS vec_id, d.label AS label,
                 round(CASE WHEN m.ss/m.n - (m.s1/m.n)*(m.s1/m.n) <= 0 THEN 0.0
                   ELSE (CAST(d.d2 AS DOUBLE) - m.s1/m.n) /
                        sqrt(m.ss/m.n - (m.s1/m.n)*(m.s1/m.n)) END, 6) AS z
          FROM dist d JOIN mom m ON d.label = m.label)
        SELECT label,
               CAST(row_number() OVER (PARTITION BY label
                 ORDER BY z DESC, vec_id ASC) AS BIGINT) AS rnk,
               vec_id, z
        FROM z QUALIFY rnk <= 3 ORDER BY label, rnk"""))
  )

  // ── q93 oracle: the same quantize → exact moments → covariance →
  //    PcaIters power-iteration rounds (6dp re-round each round) →
  //    centered projection, as unrolled CTEs ──
  private def pcaSql: String = {
    val iters = (1 to PcaIters).map { t =>
      s"""
      w$t AS (SELECT i, list_sum(list_transform(range(1, 65),
                j -> crow[j] * v[j])) AS w
              FROM covrow CROSS JOIN v${t - 1}),
      wl$t AS (SELECT list(w ORDER BY i) AS wl FROM w$t),
      v$t AS (SELECT list_transform(wl, x ->
                floor(x / sqrt(list_sum(list_transform(wl, y -> y * y)))
                  * 1000000.0 + 0.5) / 1000000.0) AS v FROM wl$t)"""
    }.mkString(",")
    s"""
      WITH $qCte,
      st AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM q),
      sx AS (SELECT t.i AS i, CAST(sum(CAST(qv[t.i] AS HUGEINT)) AS DOUBLE) AS s
             FROM q, unnest(range(1, 65)) AS t(i) GROUP BY t.i),
      cell AS (SELECT ti.i AS i, tj.j AS j,
                      CAST(sum(CAST(qv[ti.i] * qv[tj.j] AS HUGEINT)) AS DOUBLE) AS sxy
               FROM q, unnest(range(1, 65)) AS ti(i),
                       unnest(range(1, 65)) AS tj(j)
               GROUP BY ti.i, tj.j),
      cov AS (SELECT c.i AS i, c.j AS j,
                     (c.sxy - sxi.s * sxj.s / st.n) / st.n AS cv
              FROM cell c JOIN sx sxi ON sxi.i = c.i
                          JOIN sx sxj ON sxj.i = c.j CROSS JOIN st),
      covrow AS (SELECT i, list(cv ORDER BY j) AS crow FROM cov GROUP BY i),
      v0 AS (SELECT list_transform(range(1, 65), x -> 0.125) AS v),
      $iters,
      mu AS (SELECT list(s / n ORDER BY i) AS mu FROM sx CROSS JOIN st)
      SELECT vec_id,
             round(list_sum(list_transform(range(1, 65),
               i -> (qv[i] - mu[i]) * v[i])) / 1000000.0, 6) AS pc1
      FROM q CROSS JOIN mu CROSS JOIN v$PcaIters ORDER BY vec_id"""
  }

  /** PQ subspace training shared by q86 and q88 (`IvfKMeans`'s
    * subspace trainer and encoder over the ×1e6-quantized `q`, which the
    * caller checkpoints so the training collect and the encode read one
    * materialization; the PqM trainings share the one collect).
    * Returns (`wide`: nid, code0..code{M-1}; per-subspace ADC distance
    * tables for query ids < 10: qid, codeM, dM). */
  private[graft] def pqTrained(s: SparkSession, q: DataFrame): (DataFrame, Seq[DataFrame]) = {
    import s.implicits._
    val cbs = IvfKMeans.trainSubspaces(q, "vec_id", "qv", PqM, PqSubDim, PqK, PqRounds, KmScale)
    val wide = IvfKMeans.encodeSubspaces(q.select(col("vec_id"), col("qv")), "qv", cbs,
        PqSubDim, KmScale)
      .select(col("vec_id").as("nid") +: cbs.indices.map(m => col(s"code$m")): _*)
    val queries = q.filter(col("vec_id") < 10).select(col("vec_id").as("qid"), col("qv"))
    val dts = cbs.zipWithIndex.map { case (cb, m) =>
      queries.select(col("qid"), slice(col("qv"), m * PqSubDim + 1, PqSubDim).as("sv"))
        .join(broadcast(cb.toDF(s"code$m", "cv")), lit(true))
        .withColumn(s"d$m", round(
          VectorKernels.sqDistFast(col("sv"), col("cv")) / lit(KmScale), 6))
        .select(col("qid"), col(s"code$m"), col(s"d$m"))
    }
    (wide, dts)
  }

  /** The shared ADC tail: join each subspace's broadcast distance table
    * in FIXED order, sum d0..d3 in fixed order (bit-identical with the
    * oracle), rank ascending with nid tiebreak, top-5 per query.
    * `withCodes` must carry (qid, nid, code0..code{M-1}).
    *
    * The cut is the bounded-heap native aggregate `operators.TopKAgg`,
    * not a row_number window: the window compiles to WindowGroupLimit
    * (shuffle carries only k·tasks rows) but still fully SORTS each map
    * task's candidate partition — O(n log n) where the heap streams
    * O(n log k). (The earlier typed-Aggregator formulation had the same
    * asymptotics but paid a per-row encoder boundary; the native
    * expression reads InternalRow directly — VERDICT r7 finding #1.)
    * adist ASC maps onto the aggregator's value-DESC order by negation
    * (an exact IEEE sign flip, recovered exactly on output); the id ASC
    * tiebreak is nid ASC, the same total order the window used. */
  private[graft] def adcRank(s: SparkSession, withCodes: DataFrame,
                      dts: Seq[DataFrame]): DataFrame = {
    val looked = (0 until PqM).foldLeft(withCodes) {
      (acc, m) => acc.join(broadcast(dts(m)), Seq("qid", s"code$m"))
    }
    looked
      .withColumn("adist", round(col("d0") + col("d1") + col("d2") + col("d3"), 6))
      .select(col("qid"), col("nid"), (-col("adist")).as("negd"))
      .groupBy(col("qid"))
      .agg(graft.operators.TopKAgg.topK(col("negd"), col("nid"), 5).as("top"))
      .select(col("qid"), posexplode(col("top")))
      .select(col("qid"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.id").as("nid"), (-col("col.v")).as("adist"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** q136's per-cluster draw, factored so the gate query and the
    * sample-trained production twin (ClusterSampleSpec) execute the SAME
    * shape: a seeded-hash order within each cell (deterministic, no RNG
    * state), rank window partitioned BY CELL — map-side WindowGroupLimit
    * prunes to perCell rows per cell per task, so the shuffle carries
    * O(cells · perCell · tasks) rows, never the corpus. `assigned` must
    * carry (vec_id, cell, dist6) — the IvfKMeans.assignCells output. */
  private[graft] def clusterDraw(assigned: DataFrame, perCell: Int): DataFrame = {
    val w = Window.partitionBy(col("cell")).orderBy(col("h").asc, col("vec_id").asc)
    assigned
      .select(col("vec_id"), col("cell"), col("dist6"))
      .withColumn("h", graft.functions.XHash.hash60(
        concat(lit("eval:"), col("vec_id").cast("string"))))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= perCell)
      .select(col("cell"), col("rnk"), col("vec_id"), col("dist6"))
  }

  /** ×1e6 round-half-up quantized embeddings (`quantizedEmb`) +
    * centroids after KmRounds Lloyd's rounds of `IvfKMeans.trainCents`
    * (same loop the engine API uses — no drift; seeding by smallest ids
    * ≡ the oracle's `vec_id < k` on these dense ids). Called by q67,
    * q85 and q136, by q12, q73 and q88 through `knnJoinCandidates`, and
    * by ClusterSampleSpec. Deliberately NOT memoized: each query pays
    * its own training so the bench reports the true cost of each (a
    * cache would make min-of-reps report the assignment-only path).
    */
  private[graft] def trainedKMeans(s: SparkSession, dir: String,
      trainFrac: Double = 1.0, seed: Long = 0L)
      : (DataFrame, Seq[(Long, Seq[Double])]) = {
    val q = quantizedEmb(s, dir)
    // Production mode (r16 verdict #4): trainFrac < 1 trains Lloyd's on
    // a seeded Bernoulli sample — at 100 TB the trainer is ALWAYS a
    // sample (the training rows are collected to the driver, at most
    // 256 per cell; a full-corpus train is a gate-scale luxury), while
    // assignment stays the one map-only CellArgMin pass over the full
    // corpus against the broadcast centroids. nlist is still sized from
    // the FULL count — cell granularity is a property of the corpus the
    // index serves, not of how many rows taught the centroids. The gate
    // queries keep trainFrac=1.0 so oracles stay exact (house position
    // since r10); ClusterSampleSpec executes this mode and gates the
    // sample-vs-full assignment agreement recall-style.
    val trainers =
      if (trainFrac >= 1.0) q
      else q.sample(withReplacement = false, trainFrac, seed)
    // one count() probe sizes nlist (the q48 one-pass regime); q is
    // checkpointed so the count costs a cached-partition sweep, not a scan
    (q, IvfKMeans.trainCents(trainers, "vec_id", "qv",
      kmNlist(q.count()), KmRounds, KmScale))
  }
}
