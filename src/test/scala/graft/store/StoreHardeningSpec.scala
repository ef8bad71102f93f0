package graft.store

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins for the r11 storage-layer review findings — each test is the
  * failure scenario the review named, asserted fixed:
  *   - describe() on an empty collection (head() on zero rows crashed)
  *   - insert() schema enforcement on a NON-empty collection (mixed-
  *     schema directories were silently created before)
  *   - applyStreamBatch with several events per key in one micro-batch
  *     (upsert's unique-id require used to kill the stream and wedge it
  *     on replay; now compacts deterministically)
  *   - drop / create(overwrite) clearing index sidecars (a recreated
  *     collection must never probe its predecessor's quantizer)
  *   - metric persistence across open() (was hard-coded "COSINE")
  *   - searchIvfPq on a degenerate subspace whose codebook trains to
  *     fewer than pqK entries (the ADC table build crashed)
  */
class StoreHardeningSpec extends SparkSpec {
  import spark.implicits._

  private val root = java.nio.file.Files.createTempDirectory("graft-hard").toString

  private def vecs(n: Int, dim: Int = 8): org.apache.spark.sql.DataFrame =
    (0 until n).map { i =>
      // dims 0-3 vary by id; dims 4-7 CONSTANT → subspace 2 of an m=2
      // split is degenerate (every residual identical)
      (i.toLong, Array.tabulate(dim)(d => if (d < 4) (i * (d + 1)).toFloat else 1.0f).toSeq,
        s"doc $i")
    }.toDF("id", "vector", "text")

  test("describe() on an empty collection returns rows=0, dim=0 instead of crashing") {
    val c = Collection.create(spark, root, "empty1", dim = 8, overwrite = true)
    val info = c.describe()
    assert(info.rows === 0L)
    assert(info.dim === 0)
    assert(info.metric === "COSINE")
  }

  test("insert() refuses a schema-mismatched batch once the collection is non-empty") {
    val c = Collection.create(spark, root, "sch1", dim = 8, overwrite = true)
    c.insert(vecs(4))
    val widened = vecs(2).withColumn("source", lit("late"))
      .withColumn("id", col("id") + 100)
    val e = intercept[IllegalArgumentException] { c.insert(widened) }
    assert(e.getMessage.contains("does not match"), e.getMessage)
    val narrowed = vecs(2).drop("text").withColumn("id", col("id") + 200)
    intercept[IllegalArgumentException] { c.insert(narrowed) }
    assert(c.df.count() === 4, "failed appends must not leave partial rows")
  }

  test("applyStreamBatch compacts duplicate keys per micro-batch, deterministically, and stays exactly-once") {
    val c = Collection.create(spark, root, "cdc1", dim = 8, overwrite = true)
    c.insert(vecs(3))
    // one micro-batch carrying TWO updates for id=1 (and one for id=5)
    val dup = Seq(
      (1L, Seq.fill(8)(0.5f), "first write"),
      (1L, Seq.fill(8)(0.25f), "second write"),
      (5L, Seq.fill(8)(0.75f), "new row")
    ).toDF("id", "vector", "text")
    assert(c.applyStreamBatch(dup, batchId = 0, streamId = "s1"))
    assert(c.df.count() === 4, "3 originals - 1 replaced + 1 compacted + 1 new")
    val kept = c.df.filter(col("id") === 1L).select("text").as[String].collect()
    assert(kept.length === 1)
    // deterministic winner: replaying the SAME batch content must keep
    // the same row (exactly-once observable effect across replays)
    assert(!c.applyStreamBatch(dup, batchId = 0, streamId = "s1"), "replay is a no-op")
    val c2 = Collection.open(spark, root, "cdc1")
    assert(c2.applyStreamBatch(dup, batchId = 1, streamId = "s1"))
    val kept2 = c2.df.filter(col("id") === 1L).select("text").as[String].collect()
    assert(kept2.toSeq === kept.toSeq, "winner must be replay-deterministic")
  }

  test("drop and create(overwrite) clear index sidecars — a recreated collection never probes a dead quantizer") {
    val c = Collection.create(spark, root, "ivf1", dim = 8, overwrite = true)
    c.insert(vecs(40))
    c.buildIvf(nlist = 4, rounds = 2)
    assert(new java.io.File(s"$root/ivf1.__ivf").isDirectory)
    Collection.drop(root, "ivf1")
    assert(!new java.io.File(s"$root/ivf1.__ivf").exists,
      "drop must remove the quantizer sidecar")
    val c2 = Collection.create(spark, root, "ivf1", dim = 8, overwrite = true)
    c2.insert(vecs(10))
    val e = intercept[Exception] { c2.searchIvf(Array.fill(8)(0.1), k = 2) }
    assert(!new java.io.File(s"$root/ivf1.__ivf").exists &&
      e.getMessage != null, "fresh collection must refuse IVF search, not probe stale centroids")
  }

  test("the declared metric persists: open() in a fresh handle reports it") {
    Collection.create(spark, root, "l2coll", dim = 8, metric = "L2", overwrite = true)
    assert(Collection.open(spark, root, "l2coll").metric === "L2")
    assert(Collection.open(spark, root, "l2coll").describe().metric === "L2")
  }

  // ── verdict-r12 #6: writer-crash matrix for the single-writer commit
  // protocol. Two crash points bracket the pointer flip; both must leave a
  // collection that re-opens consistent and self-heals on the next commit. ──

  test("writer crash between snapshot install and pointer flip: readers keep the old snapshot, next rewrite heals") {
    val c = Collection.create(spark, root, "crashA", dim = 8, overwrite = true)
    c.insert(vecs(6))
    c.delete("id = 0") // -> v1 committed, 5 rows
    // simulate the crash: a writer installed v2 but died before commitPointer
    spark.range(3).toDF("junk")
      .write.mode("overwrite").parquet(s"$root/crashA/v2")
    // pointer still resolves v1 — the orphan is invisible to readers
    val re = Collection.open(spark, root, "crashA")
    assert(re.df.count() === 5, "uncommitted install must not be readable")
    assert(re.df.columns.toSeq === Seq("id", "vector", "text"))
    // the next rewrite claims v2: sweeps the dead JVM's orphan, installs
    // its own snapshot through the atomic move, and flips the pointer
    re.delete("id = 1")
    val healed = Collection.open(spark, root, "crashA")
    assert(healed.df.count() === 4)
    assert(healed.df.columns.toSeq === Seq("id", "vector", "text"),
      "healed snapshot must be the rewrite's data, not the orphan's")
    assert(healed.history().map(_.version).contains(2))
  }

  test("writer crash after pointer flip before vacuum: stale snapshots stay invisible and the next commit sweeps them") {
    val c = Collection.create(spark, root, "crashB", dim = 8, overwrite = true)
    c.insert(vecs(6))
    c.delete("id = 0") // v1
    c.delete("id = 1") // v2 (retention 2: v1 + v2 retained)
    c.delete("id = 2") // v3; autoVacuum drops v1
    assert(!new java.io.File(s"$root/crashB/v1").exists)
    // simulate the crash: pointer flipped to v3 but the vacuum never ran,
    // so the superseded v1 is still on disk
    spark.range(4).toDF("junk")
      .write.mode("overwrite").parquet(s"$root/crashB/v1")
    val re = Collection.open(spark, root, "crashB")
    assert(re.df.count() === 3, "pointer governs; the stale snapshot is unread")
    // next commit's autoVacuum treats the leftover like any other expired
    // version: swept along with v2 once v4 commits (horizon 2)
    re.delete("id = 3") // v4
    assert(!new java.io.File(s"$root/crashB/v1").exists, "resurrected stale v1 must be vacuumed")
    assert(!new java.io.File(s"$root/crashB/v2").exists)
    assert(re.df.count() === 2)
  }

  test("leftovers of a crashed sidecar install: rebuild succeeds, list hides them, drop removes them") {
    val c = Collection.create(spark, root, "crashSide", dim = 8, overwrite = true)
    c.insert(vecs(60))
    // what a JVM killed mid-install leaves beside the collection: staged
    // quantizer and codes dirs, and installDir's aside copy of `.__ivf`
    val planted = Seq(".__ivf.__new", ".__ivf.__old", ".__pqcodes.__new")
    def plant(): Unit = planted.foreach { side =>
      spark.range(2).toDF("junk").write.mode("overwrite").parquet(s"$root/crashSide$side")
    }
    def beside(): Set[String] = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.startsWith("crashSide.__")).toSet
    plant()
    assert(Collection.list(spark, root).contains("crashSide"))
    assert(Collection.list(spark, root).forall(n => !n.startsWith("crashSide.")),
      "stage/aside dirs are not collections")
    c.buildIvfPq(nlist = 3, m = 2, pqK = 4, rounds = 2, pqRounds = 2)
    val qv = Array.tabulate(8)(d => if (d < 4) 5.0 else 1.0)
    assert(c.searchIvf(qv, k = 3).count() === 3)
    assert(c.searchIvfPq(qv, k = 3).count() === 3)
    val sidecars = Set("crashSide.__ivf", "crashSide.__pq", "crashSide.__pqcodes")
    assert(beside() === sidecars, "a successful install leaves no stage or aside dir")
    // upsertIvf maintains the PQ codes through the same stage + install
    c.upsertIvf(vecs(5).withColumn("id", col("id") + 1000))
    assert(c.searchIvfPq(qv, k = 3).count() === 3)
    assert(beside() === sidecars, "a successful upsertIvf leaves no stage or aside dir")
    plant()
    Collection.drop(root, "crashSide")
    assert(beside().isEmpty, "drop must remove sidecars and crash leftovers")
    assert(!Collection.list(spark, root).contains("crashSide"))
  }

  test("searchIvfPq survives a degenerate subspace whose codebook has fewer than pqK entries") {
    val c = Collection.create(spark, root, "pq1", dim = 8, overwrite = true)
    c.insert(vecs(60)) // dims 4-7 constant → subspace 2 residuals collapse
    c.buildIvfPq(nlist = 3, m = 2, pqK = 8, rounds = 2, pqRounds = 2)
    val got = c.searchIvfPq(Array.tabulate(8)(d => if (d < 4) 5.0 else 1.0), k = 3)
      .collect()
    assert(got.length === 3)
    assert(got.forall(r => java.lang.Double.isFinite(r.getDouble(2))),
      "reachable codes must score finite distances")
  }
}
