package graft.vector

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{CellArgMinImpl, VectorKernels}

/** IVF coarse-quantizer and PQ codebook training: Lloyd's k-means over a
  * vector column (reference S11 trains IVF_FLAT with nlist k-means
  * centroids, `src/archive/chunking_strategy_docker.py:161-171`; Milvus
  * trains server-side — here the driver does). A training is one Spark
  * job that collects at most 256 rows per centroid (`trainingRows`) and
  * one JVM loop over them (`lloyd`); assigning the corpus (`assignCells`,
  * `encodeSubspaces`, `probeCells`) stays in the plan, under the same
  * `CellArgMinImpl` rule.
  *
  * Determinism contract (what lets q67 oracle-check the SAME algorithm in
  * DuckDB): seeds are the nlist smallest training ids; distances are a
  * sequential index-order fold in both engines, rounded 6 dp after
  * un-scaling, and the first minimum in cell order wins; a centroid is
  * its members' sum, taken in id order, over their count. The q67
  * family's vectors are integer-valued (×1e6 round-half-up), whose double
  * sums are EXACT below 2^53, hence bit-identical across engines. Empty
  * cells drop out (both engines: group-by produces no row), like FAISS's
  * empty-list case. No result depends on partitioning or thread count.
  */
object IvfKMeans {

  /** The trained coarse quantizer: parallel arrays sorted by cell id. */
  final case class Model(cells: Array[Long], centroids: Array[Array[Double]]) {
    require(cells.length == centroids.length, "cells/centroids must align")

    /** The nprobe cells nearest to `qv` — the driver-side twin of
      * `probeCells` (the centroid table is the small side by
      * construction). Distances are the assignment's own
      * `CellArgMinImpl.dist6`, so every probe path shares ONE total order
      * on near-tie cells; ties break on cell id.
      * A wrong-dimension query fails loudly instead of ranking on a
      * silently truncated partial distance. */
    def probe(qv: Array[Double], nprobe: Int): Seq[Long] = {
      require(centroids.isEmpty || qv.length == centroids.head.length,
        s"probe: query dim ${qv.length} != centroid dim ${centroids.head.length}")
      cells.indices.sortBy(i => (CellArgMinImpl.dist6(qv, centroids(i), 1.0), cells(i)))
        .take(nprobe).map(cells).toSeq
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
  }

  def load(spark: SparkSession, dir: String): Model = {
    // at most nlist rows: sort on the driver, not with a Spark sort job
    val rows = spark.read.parquet(dir).collect().sortBy(_.getLong(0))
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
    df.withColumn("__cam", cellArgMin(col(vecCol), cents, scale))
      .withColumn("dist6", col("__cam.dist6"))
      .withColumn("cell", col("__cam.cell"))
      .drop("__cam")
  }

  /** The (dist6, cell) argmin struct of `vec` over `cents` — one
    * codegen'd CellArgMin pass. The HOF formulation it replaced —
    * transform(typedLit(matrix), cv → round(aggregate(zip_with(…))/scale, 6))
    * + array_min + array_position — evaluated k·(2·dim) interpreted
    * lambda calls per row, which the adaptive nlist turned into the
    * dominant trainer cost; the kernel keeps the identical index-order
    * fold, Spark Round semantics, and first-min tiebreak
    * (KmeansKernelSpec). */
  private def cellArgMin(vec: Column, cents: Seq[(Long, Seq[Double])],
                         scale: Double): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.CellArgMin(
      ColumnBridge.expression(vec.cast("array<double>")),
      cents.map(_._2.toArray).toArray, cents.map(_._1).toArray, scale))
  }

  /** The in-plan probe: each query's nprobe nearest cells, ranked by
    * (squared L2 to the centroid / `scale`, rounded 6 dp HALF_UP; cell
    * id) — the order `Model.probe` applies driver-side and `assignCells`
    * applies at nprobe 1. `queries` needs `qid` and the vector column
    * `qvCol`; emits every query column plus `cell`, one row per probed
    * cell. The centroid table is the broadcast side (small by
    * construction), so no query-side shuffle feeds the rank window
    * beyond its own qid partitioning. */
  def probeCells(queries: DataFrame, qvCol: String, cents: Seq[(Long, Seq[Double])],
                 scale: Double, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("qid")).orderBy(col("cdist").asc, col("cell").asc)
    queries.join(broadcast(cents.toDF("cell", "__cv")), lit(true))
      // sqdist_f32: the same index-order fold as aggregate(zip_with(…))
      .withColumn("cdist", round(
        VectorKernels.sqDistFast(col(qvCol).cast("array<double>"), col("__cv")) / lit(scale), 6))
      .withColumn("__crnk", row_number().over(w))
      .filter(col("__crnk") <= nprobe)
      .drop("__cv", "cdist", "__crnk")
  }

  /** Training rows per centroid: FAISS's `max_points_per_centroid`
    * (Jégou et al., TPAMI 2011). */
  private val PointsPerCentroid = 256

  /** The `cap` rows with the smallest (xxhash64(id), id) — every row when
    * there are at most `cap`, and the same rows on any partitioning — in
    * one TakeOrderedAndProject job, as primitive arrays sorted by id. Rows
    * with a null id or vector do not train. */
  private def trainingRows(vectors: DataFrame, idCol: String, vecCol: String,
                           cap: Int): (Array[Long], Array[Array[Double]]) = {
    import vectors.sparkSession.implicits._
    val rows = graft.Bounded.collectBounded(vectors
      .select(col(idCol).cast("long").as("id"), col(vecCol).cast("array<double>").as("v"))
      .filter(col("id").isNotNull && col("v").isNotNull)
      .orderBy(xxhash64(col("id")), col("id")).limit(cap).as[(Long, Array[Double])],
      cap, "k-means training rows").sortBy(_._1)
    (rows.map(_._1), rows.map(_._2))
  }

  /** Lloyd's k-means over `vecs` (sorted by `ids`): the `k` smallest ids
    * seed, then each round assigns every row by `CellArgMinImpl.nearest`
    * (in parallel; a row without a finite distance joins no cell) and
    * moves each cell to its members' mean, summed in id order. */
  private def lloyd(ids: Array[Long], vecs: Array[Array[Double]], k: Int,
                    rounds: Int, scale: Double): Model =
    (1 to rounds).foldLeft(Model(ids.take(k), vecs.take(k))) { (m, _) =>
      val cellOf = java.util.stream.IntStream.range(0, vecs.length).parallel()
        .map(i => CellArgMinImpl.nearest(vecs(i), m.centroids, scale)).toArray
      val sums = m.centroids.map(c => new Array[Double](c.length))
      val n = new Array[Long](sums.length)
      for (i <- vecs.indices if cellOf(i) >= 0) {
        val s = sums(cellOf(i))
        for (j <- s.indices) s(j) += vecs(i)(j)
        n(cellOf(i)) += 1
      }
      val kept = n.indices.filter(n(_) > 0).toArray
      Model(kept.map(m.cells), kept.map(c => sums(c).map(_ / n(c))))
    }

  /** The k-means shared by `train` (raw vectors, scale 1.0), the
    * q12/q67/q73/q85/q88/q136 oracle path (×1e6-quantized vectors, scale
    * 1e12) and ClusterSampleSpec — ONE implementation, so a tie-break or
    * seeding change cannot drift between the engine API and the
    * oracle-checked queries. It trains on at most 256 × nlist rows. No
    * gate corpus reaches that: sf0.01 and sf0.1 hold 500 and 2,000
    * vectors at `kmNlist`'s 8 cells, a cap of 2,048 (4,096 for PQ's
    * k = 16). The oracle's `kmeansCtes` trains on every row, so a gate
    * corpus of 2,049–2,249 rows would sample here and that rule would
    * have to change with it.
    */
  def trainCents(vectors: DataFrame, idCol: String, vecCol: String,
                 nlist: Int, rounds: Int, scale: Double = 1.0): Seq[(Long, Seq[Double])] = {
    val (ids, vecs) = trainingRows(vectors, idCol, vecCol, PointsPerCentroid * nlist)
    lloyd(ids, vecs, nlist, rounds, scale).centroidTable
  }

  /** Product-quantizer training: one Lloyd's codebook of `k` codes per
    * `subDim`-wide slice of `vecCol`. One collect of the training rows
    * (at most 256 × k) serves all `m` slices, so codebook i is exactly
    * `trainCents` over slice i. Codebooks are keyed like `trainCents` (by
    * seed id); a codebook can carry fewer than k codes when clusters
    * empty. */
  def trainSubspaces(vectors: DataFrame, idCol: String, vecCol: String, m: Int,
                     subDim: Int, k: Int, rounds: Int,
                     scale: Double = 1.0): Seq[Seq[(Long, Seq[Double])]] = {
    val (ids, vecs) = trainingRows(vectors, idCol, vecCol, PointsPerCentroid * k)
    (0 until m).map { i =>
      val sub = vecs.map(_.slice(i * subDim, (i + 1) * subDim))
      lloyd(ids, sub, k, rounds, scale).centroidTable
    }
  }

  /** Product-quantizer encoding: adds `code0..code{m-1}` (one per
    * codebook in `cbs`), each the `assignCells` argmin of its
    * `subDim`-wide slice of `vecCol` — one map-only projection. */
  def encodeSubspaces(rows: DataFrame, vecCol: String,
                      cbs: Seq[Seq[(Long, Seq[Double])]], subDim: Int,
                      scale: Double = 1.0): DataFrame = {
    require(cbs.forall(_.nonEmpty), "encodeSubspaces: empty codebook")
    rows.select(col("*") +: cbs.zipWithIndex.map { case (cb, i) =>
      cellArgMin(subspace(col(vecCol), i, subDim), cb, scale).getField("cell").as(s"code$i")
    }: _*)
  }

  /** Slice `i` (0-based, `subDim` wide) of a vector column. */
  private def subspace(vec: Column, i: Int, subDim: Int): Column =
    slice(vec, i * subDim + 1, subDim)

  /** Train a coarse quantizer over raw vectors. The returned model may
    * have fewer than nlist cells if some emptied out.
    *
    * All-zero vectors (what a chunk without a single token embeds to)
    * have no direction and stay out of the training; assignment still
    * gives them a cell. Seeded as a centroid at the origin, one sits at
    * distance 1 from every unit vector, nearer than any unit-length seed
    * whose cosine to the row is under 0.5, so its cell became a
    * catch-all: on a 13.5k-chunk corpus, 4,810 rows in one cell and 1 in
    * the median one, and every nprobe-10 probe read ~90% of the rows.
    * The filter runs inside the training collect; only when every vector
    * is zero does a second collect train on them (one cell).
    */
  def train(vectors: DataFrame, idCol: String, vecCol: String,
            nlist: Int, rounds: Int = 3): Model = {
    val cap = PointsPerCentroid * nlist
    val directed = trainingRows(vectors.filter(exists(col(vecCol), _ =!= 0)), idCol, vecCol, cap)
    val (ids, vecs) = if (directed._1.nonEmpty) directed else trainingRows(vectors, idCol, vecCol, cap)
    lloyd(ids, vecs, nlist, rounds, 1.0)
  }
}
