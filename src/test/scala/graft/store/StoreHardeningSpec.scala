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
  *   - drop / create(overwrite) clearing the in-version index (a
  *     recreated collection must never probe its predecessor's quantizer)
  *   - insert into an IVF version keeping every row visible and indexed
  *     (it used to append a flat file beside `cell=` dirs, which partition
  *     discovery hid)
  *   - leftovers of a crashed index build (building dir, uncommitted
  *     version) never read and swept by the next commit
  *   - metric persistence across open() (was hard-coded "COSINE")
  *   - the IVF paths following the index of the CURRENT version through
  *     the snapshot a handle holds across calls (refuse, answer, answer
  *     after a row change, refuse after a layout rewrite)
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
    val index = new java.io.File(s"${c.dataDir}/_index/ivf")
    assert(index.isDirectory)
    Collection.drop(root, "ivf1")
    assert(!index.exists, "drop must remove the quantizer")
    val c2 = Collection.create(spark, root, "ivf1", dim = 8, overwrite = true)
    c2.insert(vecs(10))
    val e = intercept[Exception] { c2.searchIvf(Array.fill(8)(0.1), k = 2) }
    assert(!new java.io.File(s"${c2.dataDir}/_index/ivf").exists &&
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
    val v = c.history().map(_.version).max // the insert's snapshot
    c.delete("id = 0") // -> v+1 committed, 5 rows
    // simulate the crash: a writer installed v+2 but died before the flip
    spark.range(3).toDF("junk")
      .write.mode("overwrite").parquet(s"$root/crashA/v${v + 2}")
    // pointer still resolves v+1 — the orphan is invisible to readers
    val re = Collection.open(spark, root, "crashA")
    assert(re.df.count() === 5, "uncommitted install must not be readable")
    assert(re.df.columns.toSeq === Seq("id", "vector", "text"))
    // the next rewrite claims v+2: sweeps the dead JVM's orphan, installs
    // its own snapshot through the atomic move, and flips the pointer
    re.delete("id = 1")
    val healed = Collection.open(spark, root, "crashA")
    assert(healed.df.count() === 4)
    assert(healed.df.columns.toSeq === Seq("id", "vector", "text"),
      "healed snapshot must be the rewrite's data, not the orphan's")
    assert(healed.history().map(_.version).contains(v + 2))
  }

  test("writer crash after pointer flip before vacuum: stale snapshots stay invisible and the next commit sweeps them") {
    val c = Collection.create(spark, root, "crashB", dim = 8, overwrite = true)
    c.insert(vecs(6))
    val v = c.history().map(_.version).max // the insert's snapshot
    c.delete("id = 0") // v+1
    c.delete("id = 1") // v+2 (retention 2: v+1 + v+2 retained)
    c.delete("id = 2") // v+3; autoVacuum drops v+1
    assert(!new java.io.File(s"$root/crashB/v${v + 1}").exists)
    // simulate the crash: pointer flipped to v+3 but the vacuum never ran,
    // so the superseded v+1 is still on disk
    spark.range(4).toDF("junk")
      .write.mode("overwrite").parquet(s"$root/crashB/v${v + 1}")
    val re = Collection.open(spark, root, "crashB")
    assert(re.df.count() === 3, "pointer governs; the stale snapshot is unread")
    // next commit's autoVacuum treats the leftover like any other expired
    // version: swept along with v+2 once v+4 commits (horizon 2)
    re.delete("id = 3") // v+4
    assert(!new java.io.File(s"$root/crashB/v${v + 1}").exists, "resurrected stale v+1 must be vacuumed")
    assert(!new java.io.File(s"$root/crashB/v${v + 2}").exists)
    assert(re.df.count() === 2)
  }

  test("leftovers of a crashed index build: readers keep the committed index, the next build sweeps them, drop removes everything") {
    val c = Collection.create(spark, root, "crashIdx", dim = 8, overwrite = true)
    c.insert(vecs(40))
    c.buildIvf(nlist = 3, rounds = 2)
    val v = c.history().map(_.version).max
    // what a JVM killed mid-build leaves: a building dir with part of an
    // index, and an installed but uncommitted v<N+1> (data + index junk)
    def junk(dir: String): Unit =
      spark.range(2).toDF("junk").write.mode("overwrite").parquet(dir)
    junk(s"$root/crashIdx/.v${v + 1}__building/_index/ivf")
    junk(s"$root/crashIdx/v${v + 1}")
    junk(s"$root/crashIdx/v${v + 1}/_index/ivf")
    val qv = Array.tabulate(8)(d => if (d < 4) 5.0 else 1.0)
    assert(c.searchIvf(qv, k = 3).count() === 3, "the committed v<N> answers")
    c.buildIvfPq(nlist = 3, m = 2, pqK = 4, rounds = 2, pqRounds = 2)
    assert(c.searchIvf(qv, k = 3).count() === 3)
    assert(c.searchIvfPq(qv, k = 3).count() === 3)
    c.upsert(vecs(5).withColumn("id", col("id") + 1000))
    assert(c.searchIvfPq(qv, k = 3).count() === 3)
    assert(c.df.count() === 45)
    assert(new java.io.File(root).listFiles().forall(!_.getName.startsWith("crashIdx.")),
      "nothing is written beside the collection")
    Collection.drop(root, "crashIdx")
    assert(!new java.io.File(s"$root/crashIdx").exists)
    assert(!Collection.list(spark, root).contains("crashIdx"))
  }

  test("insert into an IVF version keeps every row visible and indexed") {
    val ivf = Collection.create(spark, root, "hideIvf", dim = 8, overwrite = true)
    ivf.insert(vecs(30))
    ivf.buildIvf(nlist = 3, rounds = 2)
    ivf.insert(vecs(2).withColumn("id", col("id") + 100))
    assert(ivf.df.count() === 32)
    assert(ivf.df.select("id").distinct().count() === 32)
    assert(ivf.df.filter(col("cell").isNull).isEmpty, "every row has its cell")
    val qv = Array.tabulate(8)(d => if (d < 4) 5.0 else 1.0)
    def ids(d: org.apache.spark.sql.DataFrame) = d.select("id").as[Long].collect().toSeq
    val full = ids(ivf.searchIvf(qv, k = 40, nprobe = 3))
    assert(full === ids(ivf.search(qv, k = 40)))
    assert(full.contains(100L) && full.contains(101L))
    // `cell` belongs to the index: a batch carrying one does not match
    // the declared schema and writes nothing
    val e = intercept[IllegalArgumentException] {
      ivf.insert(vecs(2).withColumn("id", col("id") + 200).withColumn("cell", lit(0L)))
    }
    assert(e.getMessage.contains("does not match"), e.getMessage)
    assert(ivf.df.count() === 32)
  }

  test("the IVF paths follow the current version's index: refuse, answer after buildIvf and after delete, refuse after compact") {
    val c = Collection.create(spark, root, "ivfFollow", dim = 8, overwrite = true)
    c.insert(vecs(30))
    val qv = Array.tabulate(8)(d => if (d < 4) 5.0 else 1.0)
    def refusal(): String = intercept[IllegalArgumentException](c.searchIvf(qv, k = 3)).getMessage
    assert(refusal().contains("buildIvf"))
    c.buildIvf(nlist = 3, rounds = 2)
    assert(c.searchIvf(qv, k = 3).count() === 3)
    assert(c.searchIvf(qv, k = 3).count() === 3)
    c.delete("id = 0")
    val full = c.searchIvf(qv, k = 40, nprobe = 3).select("id").as[Long].collect()
    assert(full.length === 29 && !full.contains(0L), "the delete's version answers")
    c.compact() // a layout rewrite commits an unindexed version
    assert(refusal().contains("buildIvf"))
    assert(refusal().contains("buildIvf"), "the refusal repeats on every call")
    assert(c.df.count() === 29)
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
