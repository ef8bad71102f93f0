package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** IVF coarse-quantizer training: Lloyd's k-means over a vector column
  * (reference S11 trains IVF_FLAT with nlist k-means centroids,
  * `src/archive/chunking_strategy_docker.py:161-171`; Milvus does the
  * training server-side — here it is a Spark job).
  *
  * Scale shape (the part that matters at 100 TB):
  *   - centroids are TINY (nlist × dim doubles) and live on the driver,
  *     broadcast into the plan as literals each round — the data side is
  *     never shuffled for assignment (map-only argmin per row);
  *   - the update step is one aggregation shuffle of nlist × dim partial
  *     sums per round (posexplode → groupBy(cell, pos) with map-side
  *     combine), i.e. O(centroid-table), not O(data);
  *   - rounds are driver-side control flow (like q49's label propagation)
  *     and each round's plan starts from the base scan — no lineage growth.
  *
  * Determinism contract (what lets q67 oracle-check the SAME algorithm in
  * DuckDB): seeds are the nlist smallest ids; distances are computed by a
  * sequential fold in array-index order in both engines; centroid sums
  * run over INTEGER-VALUED doubles (the caller quantizes, q67 uses
  * round-half-up ×1e6), which double-sums represent EXACTLY below 2^53,
  * so the sums — and therefore sums/n — are order-independent and
  * bit-identical across engines; argmin distances are rounded (6 dp after
  * un-scaling) with the cell id as tiebreak, giving a total order.
  * Empty cells simply drop out of the centroid table (both engines:
  * group-by produces no row), exactly like FAISS's empty-list case.
  */
object IvfKMeans {

  /** The trained coarse quantizer: parallel arrays sorted by cell id. */
  final case class Model(cells: Array[Long], centroids: Array[Array[Double]]) {
    require(cells.length == centroids.length, "cells/centroids must align")

    /** The nprobe cells nearest to `qv` (driver-side — the centroid table
      * is the small side by construction). Distances round to 6 dp
      * (HALF_UP, matching `assignCells`/`searchIvfBatch`) before ranking
      * so every probe path shares ONE total order on near-tie cells;
      * ties break on cell id. A wrong-dimension query fails loudly
      * instead of ranking on a silently truncated partial distance. */
    def probe(qv: Array[Double], nprobe: Int): Seq[Long] = {
      require(centroids.isEmpty || qv.length == centroids.head.length,
        s"probe: query dim ${qv.length} != centroid dim ${centroids.head.length}")
      cells.zip(centroids)
        .map { case (c, cv) =>
          var d = 0.0
          var i = 0
          while (i < cv.length) {
            val t = cv(i) - qv(i); d += t * t; i += 1
          }
          (c, BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .sortBy { case (c, d) => (d, c) }
        .take(nprobe).map(_._1).toSeq
    }

    /** The centroid table as (cell, centroid) pairs in cell order — the
      * shape `assignCells` takes. */
    def centroidTable: Seq[(Long, Seq[Double])] =
      cells.toSeq.zip(centroids.map(_.toSeq))

    def save(spark: SparkSession, dir: String): Unit = {
      import spark.implicits._
      centroidTable.toDF("cell", "centroid")
        .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dir)
    }

    /** Deterministic content hash of the quantizer — `Collection.buildIvf`
      * stamps it into both the rewritten data dir and the model dir so a
      * crash between the two installs is caught loudly at load time
      * instead of silently probing cells with mismatched centroids. */
    def contentId: String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val bb = java.nio.ByteBuffer.allocate(8)
      def put(l: Long): Unit = { bb.clear(); bb.putLong(l); md.update(bb.array()) }
      cells.foreach(put)
      centroids.foreach(_.foreach(x => put(java.lang.Double.doubleToLongBits(x))))
      md.digest().map("%02x".format(_)).mkString
    }
  }

  def load(spark: SparkSession, dir: String): Model = {
    val rows = spark.read.parquet(dir).orderBy("cell").collect()
    Model(rows.map(_.getLong(0)),
      rows.map(_.getSeq[Double](1).toArray))
  }

  /** Adds `cell` (argmin centroid, ties → smallest cell) and `dist6`
    * (squared distance to it, / `scale`, rounded 6 dp) for every row.
    * `cents` MUST be sorted by cell id — array_position takes the FIRST
    * minimum, so matrix order is the tiebreak order. The distance array
    * is staged via withColumn (Catalyst does no CSE inside lambdas).
    */
  def assignCells(df: DataFrame, vecCol: String,
                  cents: Seq[(Long, Seq[Double])], scale: Double): DataFrame = {
    require(cents.nonEmpty, "assignCells: no centroids")
    // One codegen'd CellArgMin pass. The HOF formulation it replaced —
    // transform(typedLit(matrix), cv → round(aggregate(zip_with(…))/scale, 6))
    // + array_min + array_position — evaluated k·(2·dim) interpreted lambda
    // calls per row, which the adaptive nlist turned into the dominant
    // trainer cost; the kernel keeps the identical index-order fold, Spark
    // Round semantics, and first-min tiebreak (KmeansKernelSpec).
    val matrix: Array[Array[Double]] = cents.map(_._2.toArray).toArray
    val cells: Array[Long] = cents.map(_._1).toArray
    df.withColumn("__cam",
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.CellArgMin(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(
              col(vecCol).cast("array<double>")), matrix, cells, scale)))
      .withColumn("dist6", col("__cam.dist6"))
      .withColumn("cell", col("__cam.cell"))
      .drop("__cam")
  }

  /** One Lloyd's update: per-cell per-dimension mean, collected to the
    * driver (nlist × dim rows — the centroid table is small by design).
    * Exact when the vector column is integer-valued (see object doc).
    */
  def updateCents(assigned: DataFrame, vecCol: String): Seq[(Long, Seq[Double])] =
    assigned.select(col("cell"), posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
      // a NULL cell (cell_argmin's no-finite-min row) must be DROPPED,
      // not folded into cell 0 — Row.getLong on a null unboxes to 0L and
      // silently corrupted that centroid (r11 review)
      .filter(col("cell").isNotNull)
      .groupBy("cell", "pos").agg(sum(col("x")).as("sx"), count(lit(1)).as("n"))
      .collect()
      .groupBy(_.getLong(0)).toSeq
      .map { case (cell, rows) =>
        cell -> rows.sortBy(_.getInt(1)).map(r => r.getDouble(2) / r.getLong(3)).toSeq
      }
      .sortBy(_._1)

  /** The Lloyd's loop shared by `train` (raw vectors, scale 1.0) and the
    * q67/q73 oracle path (×1e6-quantized vectors, scale 1e12): seeds =
    * the nlist smallest ids' vectors, then `rounds` assign→update
    * sweeps. ONE implementation so a tie-break or seeding change cannot
    * drift between the engine API and the oracle-checked queries.
    */
  def trainCents(vectors: DataFrame, idCol: String, vecCol: String,
                 nlist: Int, rounds: Int, scale: Double = 1.0): Seq[(Long, Seq[Double])] = {
    // Narrow TRAINING view (r13 AbConst attribution): the Lloyd's loop is
    // rounds+1 driver-synchronized jobs, and when the training set is
    // small (the query-side callers train over gate-scale corpora; real
    // deployments sample their trainers) every seed/assign/update job
    // paid 32 tasks of scheduling for KB-sized partitions. The target is
    // CLUSTER-PROPORTIONAL, not a constant (r13 review): a quarter of
    // defaultParallelism, floored at 8 — locally that is the measured-
    // best 8 (back-to-back A/B: 8 → 3.3 s q88, 16 → 4.0 s, 32 → 4.0 s),
    // on a 1000-executor cluster it scales to thousands of tasks so a
    // full-collection buildIvf keeps a wide CellArgMin assignment. An
    // input already at or below the target skips the exchange entirely
    // (the Par probe — no job). The CALLER's corpus frame is untouched —
    // only this internal view narrows. Persisted because every round
    // re-scans it; results are partition-independent (integer-valued
    // sums, per-row assignment, deterministic orderBy seed).
    val q0 = vectors
      .select(col(idCol).cast("long").as("__id"), col(vecCol).cast("array<double>").as("__v"))
    val target = math.max(8, vectors.sparkSession.sparkContext.defaultParallelism / 4)
    val q = (graft.Par.plannedPartitions(q0) match {
      case Some(p) if p <= target => q0
      case _ => q0.repartition(target)
    }).persist()
    try {
      var cents: Seq[(Long, Seq[Double])] =
        q.orderBy(col("__id")).limit(nlist).collect()
          .map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq
      for (_ <- 1 to rounds)
        cents = updateCents(assignCells(q, "__v", cents, scale), "__v")
      cents
    } finally { q.unpersist(); () }
  }

  /** Train a coarse quantizer over raw vectors. The returned model may
    * have fewer than nlist cells if some emptied out.
    */
  def train(vectors: DataFrame, idCol: String, vecCol: String,
            nlist: Int, rounds: Int = 3): Model = {
    val cents = trainCents(vectors, idCol, vecCol, nlist, rounds)
    Model(cents.map(_._1).toArray, cents.map(_._2.toArray).toArray)
  }
}
