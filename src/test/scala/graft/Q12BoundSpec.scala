package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** Round-10 enforcement proofs for q12_knn_join's bound (the round-9
  * verdict's last super-linear query): candidates may only come from a
  * query's KnnNprobe probed IVF cells — the all-pairs n·m score matrix
  * must be UNREACHABLE — and the probe must return the exact global
  * 1-NN whenever the quantizer fits the data (the IVF_FLAT contract the
  * reference configures: nlist/nprobe approximate search,
  * `src/archive/chunking_strategy_docker.py:161-171`).
  *
  * Why not "probed output == exact output at sf0.01"? Measured (numpy
  * replay of the trainer, round 10): on the driver's isotropic synthetic
  * embeddings, probe recall ≈ scan fraction at EVERY (nlist, nprobe) —
  * nlist=8: nprobe=2 → recall .62/scan .25, nprobe=6 → .96/.75, recall
  * 1.0 only at nprobe=8 = a full scan. That is the curse of
  * dimensionality, not a tuning problem: no blocked/pruned method is
  * exact on isotropic 64-d data without scanning ~everything, so an
  * "unchanged output" bound would be no bound at all. The defined
  * semantics are therefore the probed search itself (like the
  * reference's), mirrored exactly in the DuckDB oracle; exact
  * brute-force 1-NN for a small query set remains q11's contract.
  */
class Q12BoundSpec extends SparkSpec {

  private def q12 = VectorQueries.defs.find(_.name == "q12_knn_join").get

  /** Eight tight orthogonal clusters, one per seed id (vec_id i →
    * cluster i % 8), so Lloyd's converges to exactly one cell per
    * cluster and the quantizer FITS the data — the regime IVF is built
    * for. Jitter dims keep every vector distinct. */
  private def writeClusteredCorpus(n: Int): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("q12-bound").toString
    val rows = (0 until n).map { i =>
      val v = Array.fill(64)(0.0f)
      v(i % 8) = 1.0f
      v(8 + (i % 23)) = 0.01f * (1 + (i % 5)).toFloat
      v(31 + (i % 13)) = 0.003f * (1 + (i % 7)).toFloat
      (i.toLong, v.toSeq, i % 8)
    }
    rows.toDF("vec_id", "embedding", "label")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .withColumn("label", col("label").cast("int"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  /** The pre-round-10 unbounded formulation, inlined as the recall
    * reference: exact global 1-NN over the full score matrix, same
    * 6dp rounding and (score DESC, nid ASC) total order. */
  private def exactOneNn(dir: String): Array[(Long, Long, Double)] = {
    import org.apache.spark.sql.expressions.Window
    val e = Par(spark.read.parquet(s"$dir/embeddings.parquet"))
    val left = e.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("nid").asc)
    e.select(col("vec_id").as("nid"), col("embedding").as("nv"))
      .join(broadcast(left), col("qid") =!= col("nid"))
      .withColumn("score",
        round(graft.functions.VectorKernels.cosineFast(col("qv"), col("nv")), 6))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") === 1)
      .select(col("qid"), col("nid"), col("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
  }

  private def boundedOneNn(dir: String): Array[(Long, Long, Double)] =
    q12.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)

  test("q12: per-query candidates are capped at KnnNprobe cells' members — all-pairs unreachable") {
    val n = 200
    val dir = writeClusteredCorpus(n)
    val cand = VectorQueries.knnJoinCandidates(spark, dir, col("vec_id") % 5 === 0, 2)
      .select(col("qid"), col("cell"), col("nid")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(cand.nonEmpty, "crafted corpus must produce candidates")
    val perQuery = cand.groupBy(_._1)
    perQuery.foreach { case (qid, rows) =>
      val cells = rows.map(_._2).distinct
      assert(cells.length <= 2,
        s"query $qid scored members of ${cells.length} cells — probe cap breached")
      // 8 equal clusters of n/8: two probed cells bound the work per query
      assert(rows.length <= 2 * (n / 8),
        s"query $qid scored ${rows.length} candidates > 2 cells' members")
    }
    val nQueries = (0 until n by 5).size
    assert(cand.length <= nQueries * 2 * (n / 8),
      "total candidate volume must stay at the probed fraction, not n*m")
  }

  test("q12: probed 1-NN equals exact global 1-NN when the quantizer fits the data") {
    val dir = writeClusteredCorpus(200)
    assert(boundedOneNn(dir).toSeq === exactOneNn(dir).toSeq,
      "on clustered data every true 1-NN lives in the probed cells")
  }

  test("q12: recall@1 on the isotropic sf0.01 gate data stays above the probed-fraction floor") {
    // Isotropic data is IVF's worst case: recall tracks scan fraction
    // (~0.25 at nprobe=2 of 8). Measured 0.62 on the current gate data;
    // pin a floor comfortably above the 0.25 random-scan baseline so a
    // probe regression (wrong cell ranking, broken assignment) fails
    // loudly while a driver data regeneration does not.
    val dir = "/root/testdata/sf0.01"
    val exact = exactOneNn(dir).map(t => t._1 -> t._2).toMap
    val bounded = boundedOneNn(dir)
    assert(bounded.map(_._1).toSeq === exact.keys.toSeq.sorted,
      "every query must emit exactly one probed 1-NN")
    val hit = bounded.count { case (q, n, _) => exact(q) == n }
    val recall = hit.toDouble / exact.size
    assert(recall >= 0.45, f"probed recall@1 $recall%.2f fell below the 0.45 floor")
  }
}
