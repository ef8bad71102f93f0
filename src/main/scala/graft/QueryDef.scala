package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable operator: a Spark implementation plus (when the
  * semantics are SQL-expressible) an equivalent DuckDB oracle query.
  *
  * Contract notes (driver correctness gate):
  *   - column names must match between the Spark result and the oracle —
  *     the compare sorts columns by name before hashing values;
  *   - double-typed outputs must be bit-identical across engines, so
  *     aggregates over doubles go through DECIMAL(18,2) (exact,
  *     order-independent) and similarity scores are rounded;
  *   - hashes that reach output use the shared md5-prefix primitive
  *     (graft.functions.XHash), identical in both engines.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Spread a small-file scan across the cluster before compute-heavy
  * per-row work (embedding, hashing, shingling, cosine). A single parquet
  * file arrives as ONE partition; without this every downstream projection
  * runs on one core — locally and, worse, on one executor of a thousand.
  * The shuffle moves only the raw rows (cheap) and buys full parallelism
  * for the expensive projection that follows.
  *
  * ADAPTIVE (r13, verdict-r12 #1): the rationale above only holds when the
  * source under-supplies partitions. At 100 TB a parquet scan arrives in
  * thousands of splits already, and an unconditional `repartition(n)` would
  * make every query pay a full read-shuffle-write of the corpus it doesn't
  * need (PLANS.md r12 q01 showed the RoundRobinPartitioning exchange sitting
  * below the partial aggregate). So probe first — the `streamParts` idiom
  * from StreamingIngest applied to batch — and insert the spread only when
  * the scan actually arrives narrow. The probe is driver-side plan
  * inspection; no job runs.
  */
object Par {
  import org.apache.spark.sql.DataFrame

  def apply(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // A STREAMING frame cannot be planned outside writeStream.start()
    // (the probe would throw UnsupportedOperationChecker); keep the
    // unconditional spread there — micro-batch sources size their own
    // partitions and the repartition is a per-batch hint, exactly the
    // pre-r13 behavior.
    if (df.isStreaming) df.repartition(target)
    else if (plannedPartitions(df).exists(_ >= target)) df
    else df.repartition(target)
  }

  /** Planned partition count, determined WITHOUT running a job.
    *
    * Two safe sources, tried in order:
    *   1. a static width: the optimized plan is a chain of
    *      partitioning-preserving unary ops over an explicit
    *      `repartition(n)` — the output width IS that n, read straight
    *      off the plan (covers already-Par'd frames handed to trainers,
    *      r13-advice #2);
    *   2. an `.rdd` probe, ONLY when the optimized LOGICAL plan is
    *      narrow end to end (leaf scans + narrow ops, no subqueries).
    *      There the count is a driver-side file-split computation: no
    *      shuffle stage exists for AQE to materialize.
    *
    * Everything else returns None and keeps the caller's explicit
    * repartition. The gate must be the LOGICAL plan, not
    * `queryExecution.sparkPlan`: sparkPlan is pre-EnsureRequirements, so
    * the shuffles an aggregate/join/window/sort REQUIRES are not yet
    * inserted and the plan looks exchange-free — probing such a frame
    * through `.rdd` under AQE materializes every upstream query stage,
    * running the query's cost twice (r13-advice #1, exercised by q43's
    * Par over an orderBy + global aggregate). The whitelist is
    * conservative: an unlisted node only ever costs the cheap spread the
    * pre-r13 code always paid.
    */
  private[graft] def plannedPartitions(df: DataFrame): Option[Int] = {
    val plan = df.queryExecution.optimizedPlan
    staticWidth(plan).orElse {
      val narrow = !plan.exists(n => !narrowNode(n)) && !plan.exists(
        _.expressions.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.PlanExpression[_]])))
      if (narrow) Some(df.rdd.getNumPartitions) else None
    }
  }

  import org.apache.spark.sql.catalyst.plans.logical._

  /** Output width read statically off the plan: narrow unary ops preserve
    * their child's partitioning, so the nearest explicit shuffle
    * `repartition(n)` below them fixes the width with zero execution. */
  @annotation.tailrec
  private def staticWidth(p: LogicalPlan): Option[Int] = p match {
    case r: Repartition if r.shuffle            => Some(r.numPartitions)
    case r: RepartitionByExpression             => r.optNumPartitions
    case u: UnaryNode if narrowNode(u)          => staticWidth(u.child)
    case _                                      => None
  }

  /** Nodes that neither shuffle nor change the partition count (Union
    * concatenates children's partitions — still jobless to probe).
    *
    * InMemoryRelation is a LeafNode but NOT probe-safe (r14 review): an
    * UNMATERIALIZED cache of a shuffle-bearing plan builds its buffer RDD
    * from cachedPlan.execute(), and under AQE that materializes the
    * cached subtree's stages at probe time — jobs running inside what
    * must be a driver-only inspection. No Par call site passes a
    * persisted frame today; keep the latent path closed. */
  private def narrowNode(p: LogicalPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => false
    case _: LeafNode | _: Project | _: Filter | _: Generate | _: Union |
         _: LocalLimit | _: Sample | _: TypedFilter | _: Expand => true
    case _: SerializeFromObject | _: DeserializeToObject |
         _: MapElements | _: MapPartitions => true
    case _ => false
  }
}

/** Shared events.parquet loader. The driver's generator has shipped two
  * on-disk encodings for `ts`: TIMESTAMP(NANOS), which Spark's parquet
  * reader only surfaces as a raw long via the legacy conf, and naive
  * TIMESTAMP(MICROS), which Spark reads as TIMESTAMP_NTZ. Either way the
  * query layer (date_trunc / window / unix_micros) and the DuckDB oracle
  * (`epoch_us(ts)`) were written against a session-TZ (UTC) TimestampType
  * `ts`, so normalize here — one owner, every family reads through it.
  */
object Events {
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.LongType

  def load(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalize(s.read.parquet(s"$dir/events.parquet"))
  }

  /** `ts` → TimestampType regardless of the on-disk encoding. The NTZ→TZ
    * cast is wall-clock-preserving under the UTC session every entrypoint
    * pins, matching DuckDB's naive reading of the same column.
    *
    * The LongType arm only ever means TIMESTAMP(NANOS) surfaced raw by
    * the legacy conf — a row-level magnitude guard (ns epochs for
    * 1973..2262 are ≥ 1e17; a micros-encoded plain INT64 would be ~1e15)
    * makes a THIRD unannotated encoding fail loudly instead of silently
    * shifting every timestamp 1000×.
    */
  private val MinPlausibleNanos = 100000000000000000L // 1e17 ≈ 1973-03 in ns

  def normalize(df: DataFrame): DataFrame = df.schema("ts").dataType match {
    case LongType => df.withColumn("ts", timestamp_micros(
      when(col("ts").isNull, lit(null).cast(LongType))
        .when(col("ts") >= lit(MinPlausibleNanos), expr("ts div 1000"))
        .otherwise(raise_error(concat(
          lit("events.ts: INT64 value below nanosecond magnitude ("),
          col("ts").cast("string"), lit(") — unknown encoding, refusing to divide"))))))
    case _        => df.withColumn("ts", col("ts").cast("timestamp"))
  }
}

/** Session-builder helpers shared by the driver-contract mains. */
object GraftSession {
  /** SPARK_GRAFT_EXTRA_CONF="k=v;k=v" → ad-hoc session confs (e.g.
    * spark.sql.codegen.factoryMode=NO_CODEGEN to gate interpreted paths,
    * or cluster-tuning knobs) for Verify.
    */
  def applyExtraConf(b: org.apache.spark.sql.SparkSession.Builder)
      : org.apache.spark.sql.SparkSession.Builder = {
    // 16m scan splits (default 128m): the driver ships each table as ONE
    // parquet file, so at sf1 a 114 MB lineitem scan under the default is
    // a SINGLE task — every pass over it serializes on one core while 31
    // idle (q48 measured 8.3 s isolated, ~3 single-threaded passes).
    // 16m re-splits big local files along row-group bounds (6 for sf1
    // lineitem) while gate-scale files (≤ 11 MB) stay one split, so
    // sf0.01/sf0.1 task layouts — and outputs, which are engineered
    // partition-independent anyway — are untouched. On a real cluster
    // the same setting only trims the high end of split sizes.
    b.config("spark.sql.files.maxPartitionBytes", "16m")
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv => val Array(k, v) = kv.split("=", 2); b.config(k, v) })
    b
  }
}

/** Exact sort-based percentiles shared by q19/q48: window rank within the
  * key group, endpoint rows picked at floor/ceil of p·(n−1), linear
  * interpolation lower + (upper−lower)·frac — the formula both Spark's
  * `percentile` and DuckDB's `quantile_cont` use, without the boxed
  * value→count map Spark's aggregate builds.
  */
object ExactPercentiles {
  import org.apache.spark.sql.{Column, DataFrame}
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._

  /** Below this many TOTAL input rows the plain per-key window sort wins:
    * even a single key sorting every row is one sub-second task, and the
    * bucketed path's extra boundary pass + offsets join is pure overhead
    * (it took q48 from 1.69 s to 4.22 s at sf0.1). Above it, single-task
    * per-key sorts become the sf1 cliff (q48 65 s) and bucketing wins. */
  private val SmallSortRows = 1500000L

  /** Probe-collect cardinality ceiling — see the guard in
    * rankedWithApprox. */
  private val MaxProbeKeys = 65536

  /** (key, v, rn, n): 0-based rank of v within key, and the group size —
    * for the rows that can carry a requested percentile's endpoints.
    *
    * `ps` declares WHICH percentiles the caller will pick endpoints for
    * (r22): every consumer of this helper (q19/q48/q104) aggregates the
    * ranked frame down to `lo(p)`/`hi(p)` picks at a handful of fixed
    * percentiles, so ranking every row is wasted shuffle — the large
    * regime now returns only the rows inside a sketch-bounded band
    * around each requested percentile, with EXACT global ranks. The
    * small regime still returns every row; both satisfy the contract
    * the consumers rely on: all floor/ceil(p·(n−1)) target ranks are
    * present with exact (rn, n).
    *
    * ONE cheap pre-pass (per-key count + approx_percentile in a single
    * aggregate job — boundary ACCURACY is irrelevant, exactness comes
    * from counting) sizes the input and picks the shape:
    *
    *  - small: `row_number() OVER (PARTITION BY key ORDER BY v)` — the
    *    plan both engines would write, fastest when every key fits a
    *    task;
    *  - large (r22, §2.3 shuffle-fewer-bytes): BAND SELECTION. The
    *    probe's per-key GK cut list bounds each requested percentile's
    *    target rank inside a value band [cut(p−2ε), cut(p+2ε)] (ε =
    *    1/accuracy, the sketch's guaranteed rank error — duplicates
    *    only widen bands, never break them). Rows OUTSIDE every band
    *    never reach an exchange; rows below a band are counted by a
    *    map-side-combinable aggregate (strict v < lo, so a value run
    *    straddling the bound stays whole inside the band), and the
    *    global rank is that exact below-count plus the in-band
    *    row_number. Replaces the r10 bucketed shape, which shuffled and
    *    sorted EVERY row by (key, bucket) — its offsets branch also
    *    re-scanned the source (the ReuseExchange its comment promised
    *    never fired: the window exchange carries rows, the rollup
    *    exchange carries partial aggregates — plans/r22/
    *    q48_approx_quantile_sf9audit.txt). Shuffle rows drop to
    *    ~(4/accuracy + 1/16) of each key per percentile (the band plus
    *    the 1/32 cut-grid slack); sf9 A/B in SCALE.md#round-22. Keys
    *    with ≤ max(FullRangeKeyRows, 4/ε) rows take a full-range band
    *    (the GK rank-error margin needs εn ≥ 2 with slack; a few
    *    thousand narrow rows sort in one task for free).
    *
    * Ties order arbitrarily within equal v — rank endpoints pick the
    * same v either way, so lo/hi/interp are deterministic in all
    * shapes. */
  def ranked(df: DataFrame, key: String, value: String,
             ps: Seq[Double]): DataFrame =
    rankedWithApprox(df, key, value, 100, ps)._1

  /** `ranked` plus the per-key approx median FROM THE SAME PROBE JOB.
    *
    * q48 used to run a second full-corpus aggregation just for its
    * percentile_approx sketch branch; but the probe pass already builds a
    * per-key GK sketch whose cut list contains 0.5 (16/32), so one job
    * serves all three consumers — the regime choice (Σ per-key n), the
    * band boundaries (per-key cuts), and the sketch output
    * (bit-identical: same accuracy, same column, same sketch — r13
    * AbQ48 measured the folded pass at ~1.0 s of sf1 wall clock).
    * Returned approx rows are (key value, approx-p50-or-null). */
  def rankedWithApprox(df: DataFrame, key: String, value: String,
                       accuracy: Int, ps: Seq[Double]): (DataFrame, Seq[(Any, Option[Double])]) =
    rankedWithApprox(df, key, value, accuracy, ps, SmallSortRows)

  /** Test seam: `smallSortRows` forces the bucketed regime on small data
    * so its exact-rank equivalence to the window regime is spec-checkable
    * without a >1.5M-row fixture (`ExactPercentilesSpec`). */
  private[graft] def rankedWithApprox(df: DataFrame, key: String, value: String,
                       accuracy: Int, ps: Seq[Double],
                       smallSortRows: Long): (DataFrame, Seq[(Any, Option[Double])]) = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0),
      s"ranked($key): percentile list must be non-empty within [0,1], got $ps")
    // NULL values are SKIPPED, matching both Spark's percentile and
    // DuckDB's quantile_cont (r11 review: a null row would otherwise
    // rank first and shift every endpoint, and n would over-count)
    val base = df.select(col(key), col(value).as("v"))
      .filter(col("v").isNotNull)
    val nb = 32
    // probe boundaries as DOUBLE regardless of the value column's type:
    // approx_percentile on a BIGINT column returns array<bigint>, which
    // getSeq[Double] would ClassCastException on (r11 review); boundary
    // PRECISION is irrelevant — exactness comes from counting
    // The per-key probe collects one row per distinct key (each with a
    // 31-double cut array) — fine for the few-key group-bys this helper
    // serves (return flags, event types), DRIVER-SIZED, not data-sized,
    // only while key cardinality stays bounded. The limit+require makes a
    // high-cardinality misuse fail loudly before the collect materializes
    // millions of rows (r13 review); per-key percentiles at that
    // cardinality want the plain window shape, not this helper.
    // ONE GK sketch per key at the CALLER's accuracy, queried at the 31
    // cut positions i/32 (r22, superseding r13-advice #4's two-sketch
    // split): the cut list contains 0.5 (16/32), so the folded p50 a
    // caller like q48 OUTPUTS is the same sketch value a dedicated
    // approx_percentile(0.5, accuracy) aggregate returns (same sketch +
    // same data + same percentile ⇒ bit-identical; spec-pinned). The
    // r13 shape built a SECOND sketch at accuracy 100 for boundaries
    // when the caller's accuracy differed — every row paid two sketch
    // updates where one (the caller's) suffices, and the finer sketch
    // now also buys the band regime tighter rank bounds (ε = 1/accuracy).
    val probe = Bounded.collectBounded(
      base.groupBy(col(key)).agg(
        count(lit(1)).as("n"),
        expr(s"approx_percentile(CAST(v AS DOUBLE), array(${(1 until nb).map(_.toDouble / nb).mkString(",")}), $accuracy)")
          .as("bs")),
      MaxProbeKeys, s"ranked($key): grouping-key",
      "this helper probes per key and is built for low-cardinality " +
        "keys; use a per-key window percentile for keys at this scale")
    val total = probe.map(_.getLong(1)).sum
    val approx = probe.toSeq.map { r =>
      r.get(0) -> Option(r.getSeq[Double](2)).map(_(nb / 2 - 1))
    }
    val rankedDf =
      if (total <= smallSortRows) {
        val wLoc = Window.partitionBy(col(key)).orderBy(col("v"))
        base
          .withColumn("rn", row_number().over(wLoc).cast("long") - 1L)
          .withColumn("n", count(lit(1)).over(Window.partitionBy(col(key))))
          .select(col(key), col("v"), col("rn"), col("n"))
      } else
        bandRanked(df.sparkSession, base, key, ps, probe, nb, 1.0 / accuracy)
    (rankedDf, approx)
  }

  /** Keys with at most this many rows skip banding (full-range band):
    * the GK rank-error safety margin needs εn ≫ 1, and a few thousand
    * narrow rows sort inside one task for free anyway. */
  private val FullRangeKeyRows = 4096L

  /** Band-selection large regime (r22). For each key and each requested
    * percentile p: the target ranks floor/ceil(p·(n−1)) provably lie
    * between the sketch values at cut positions ≤ p−2ε and ≥ p+2ε
    * (GK guarantees the value at queried position c has 1-based rank in
    * [(c−ε)n, (c+ε)n]; strict `< lo` below-counts and inclusive band
    * edges keep equal-value runs whole, so duplicates only WIDEN the
    * band). Rows outside every band never reach an exchange; the
    * below-band counts are exact and map-side combinable; global rank =
    * below-count + in-band row_number. Output: (key, v, rn, n) for band
    * rows — a row inside two overlapping bands appears once per band,
    * each copy carrying a valid global rank (the value at any given
    * rank is unique up to ties, so endpoint picks stay deterministic).
    *
    * The bounds, the exact below-band offsets and the group sizes are
    * all key-cardinality-sized DRIVER values (the probe's own
    * collectBounded cap), so they reach the data path as literal CASE
    * chains over the grouping key, NOT as joins: an AbBand3 bisection
    * measured a 3-row broadcast hash join at ~2 µs/row over 13.5M rows
    * (4.9 s, vs 0.48 s for a full groupBy of the same input) — per-row
    * join-key assembly + relation probe + output-row copy that a when()
    * chain of comparisons against literals never pays.
    *
    * Production note: the band is ~(4ε + 1/32) of each key's rows, so a
    * single in-band sort task holds ~n/12 rows at worst. Past the point
    * where that exceeds a task budget, raise the boundary-sketch
    * accuracy (GK cost per map task is O(accuracy·log n)) — the band
    * shrinks proportionally; the structure (shuffle ∝ n/accuracy, never
    * n) is what this regime buys at 100 TB. */
  private def bandRanked(s: SparkSession, base: DataFrame, key: String,
      ps: Seq[Double], probe: Seq[org.apache.spark.sql.Row], nb: Int,
      eps: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    val pList = ps.distinct.sorted
    val keyType = base.schema(key).dataType
    def keyLit(k: Any): Column = ColumnBridge.column(Literal.create(k, keyType))
    // CASE chain over the probe's keys: the grouping key picks a literal
    def caseChain(perKey: Seq[(Any, Column)]): Column =
      perKey.tail.foldLeft(when(col(key) === keyLit(perKey.head._1), perKey.head._2)) {
        case (acc, (k, v)) => acc.when(col(key) === keyLit(k), v)
      }
    // per (key, pIdx) band bounds; None = that side unbounded
    // (full-range keys, grid ends, or a missing cut list)
    val bounds: Seq[(Any, Long, IndexedSeq[(Option[Double], Option[Double])])] =
      probe.map { r =>
        val n = r.getLong(1)
        val bs = Option(r.getSeq[Double](2)).getOrElse(Seq.empty)
        // the GK rank-error safety margin needs εn ≥ 2 with slack (see
        // scaladoc); below it — or below the constant floor — band the
        // whole key: a few thousand rows sort in one task for free
        val fullRange = math.max(FullRangeKeyRows, math.ceil(4.0 / eps).toLong)
        val bnd = pList.toIndexedSeq.map { p =>
          if (n <= fullRange || bs.size < nb - 1) (None, None)
          else {
            val iLo = math.floor((p - 2 * eps) * nb).toInt
            val iHi = math.ceil((p + 2 * eps) * nb).toInt
            (if (iLo < 1) None else Some(bs(iLo - 1)),
             if (iHi > nb - 1) None else Some(bs(iHi - 1)))
          }
        }
        (r.get(0), n, bnd)
      }
    def loCol(pi: Int) = caseChain(bounds.map { case (k, _, b) =>
      k -> b(pi)._1.map(lit(_)).getOrElse(lit(null).cast("double")) })
    def hiCol(pi: Int) = caseChain(bounds.map { case (k, _, b) =>
      k -> b(pi)._2.map(lit(_)).getOrElse(lit(null).cast("double")) })
    def inBand(pi: Int): Column =
      (loCol(pi).isNull || col("v") >= loCol(pi)) &&
        (hiCol(pi).isNull || col("v") <= hiCol(pi))
    // exact rank offsets: rows strictly below each band's lower bound —
    // ONE map-side-combinable aggregate over the source, collected at
    // key cardinality (the probe already bounded it loudly)
    val below: Map[(Any, Int), Long] = Bounded.collectBounded(
      base.groupBy(col(key)).agg(
        pList.indices.map(pi => sum(when(loCol(pi).isNotNull &&
          col("v") < loCol(pi), 1L).otherwise(0L)).as(s"_b$pi")).head,
        pList.indices.tail.map(pi => sum(when(loCol(pi).isNotNull &&
          col("v") < loCol(pi), 1L).otherwise(0L)).as(s"_b$pi")): _*),
      MaxProbeKeys, s"ranked($key): below-band offsets",
      "this helper probes per key and is built for low-cardinality " +
        "keys; use a per-key window percentile for keys at this scale")
      .flatMap(r => pList.indices.map(pi => (r.get(0), pi) -> r.getLong(pi + 1)))
      .toMap
    // band rows: the only data rows that reach the rank exchange; a row
    // gets one copy per band it falls in (pList is tiny and static)
    val band =
      if (pList.size == 1)
        base.filter(inBand(0)).withColumn("_pidx", lit(0))
      else
        base.withColumn("_pidx", explode(filter(
          array(pList.indices.map(pi => when(inBand(pi), lit(pi))): _*),
          x => x.isNotNull)))
    def perPidx(f: Int => Column): Column =
      pList.indices.tail.foldLeft(when(col("_pidx") === 0, f(0))) {
        case (acc, pi) => acc.when(col("_pidx") === pi, f(pi))
      }
    val offsetCol = perPidx(pi => caseChain(bounds.map { case (k, _, _) =>
      k -> lit(below.getOrElse((k, pi), 0L)) }))
    val nCol = caseChain(bounds.map { case (k, n, _) => k -> lit(n) })
    val w = Window.partitionBy(col(key), col("_pidx")).orderBy(col("v"))
    band
      .withColumn("_lrn", row_number().over(w).cast("long") - 1L)
      .withColumn("rn", offsetCol + col("_lrn"))
      .withColumn("n", nCol)
      .select(col(key), col("v"), col("rn"), col("n"))
  }

  def pos(p: Double): Column = lit(p) * (col("n") - 1).cast("double")
  /** aggregate pick of the interpolation endpoints (equal when pos is
    * integral, making the frac term vanish) */
  def lo(p: Double): Column = max(when(col("rn") === floor(pos(p)).cast("long"), col("v")))
  def hi(p: Double): Column = max(when(col("rn") === ceil(pos(p)).cast("long"), col("v")))
  /** post-aggregation interpolation over the picked lo/hi columns */
  def interp(p: Double, loCol: String, hiCol: String): Column = {
    val po = pos(p)
    round(col(loCol) + (col(hiCol) - col(loCol)) * (po - floor(po)), 6)
  }
}

object QueryRegistry {
  def all: Seq[QueryDef] = {
    val defs =
      RelationalQueries.defs ++ AdvancedQueries.defs ++ VectorQueries.defs ++
        TextQueries.defs ++ PipelineQueries.defs ++ CurationQueries.defs ++
        RagQueries.defs ++ StreamQueries.defs
    // a duplicate name would be SILENTLY dropped by SparkEntry's .toMap —
    // the shadowed query would vanish from the gate, the dumps and the
    // bench with zero errors anywhere (r11 review)
    val dup = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dup.isEmpty, s"duplicate QueryDef name(s): ${dup.mkString(", ")}")
    defs
  }
}
