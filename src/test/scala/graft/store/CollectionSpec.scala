package graft.store

import graft.SparkSpec
import graft.functions.TextEmbed
import org.apache.spark.sql.functions._

class CollectionSpec extends SparkSpec {
  import spark.implicits._

  private val root = java.nio.file.Files.createTempDirectory("graft-coll").toString

  private def seeded = {
    val docs = Seq(
      (0L, "spark window aggregation engine"),
      (1L, "the quick brown fox jumps"),
      (2L, "vector search cosine similarity"),
      (3L, "spark window aggregation engine twice")
    ).toDF("id", "text")
    TextEmbed.withEmbed(docs, "text", "vector").select("id", "vector", "text")
  }

  test("create / insert / describe roundtrip") {
    Collection.drop(root, "c1")
    val c = Collection.create(spark, root, "c1", TextEmbed.DefaultDim, overwrite = true)
    c.insert(seeded)
    val info = c.describe()
    assert(info.rows === 4)
    assert(info.dim === TextEmbed.DefaultDim)
    assert(info.metric === "COSINE")
    assert(Collection.list(spark, root).contains("c1"))
  }


  test("single-writer guard: a raced committed snapshot refuses loudly, never deleted (r12)") {
    Collection.drop(root, "crace")
    val c = Collection.create(spark, root, "crace", TextEmbed.DefaultDim, overwrite = true)
    c.insert(seeded)
    // both writers read the insert's version: each targets the one after it
    val fast = c.history().map(_.version).max + 1
    val started = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    @volatile var thrown: Option[Throwable] = None
    // the "slow" writer: reads its base version (targets v$fast), then
    // stalls inside its write callback while the fast writer commits it
    val slow = new Thread(() => {
      try c.rewriteSwap("race-test") { tmp =>
        started.countDown()
        release.await()
        new java.io.File(tmp).mkdirs() // produce SOMETHING installable
        ()
      } catch { case t: Throwable => thrown = Some(t) }
    }, "race-slow-writer")
    slow.start()
    started.await()
    c.delete("id = 0") // the fast writer: copy-on-write, commits v$fast
    val fastRows = c.df.count()
    release.countDown()
    slow.join(30000)
    assert(!slow.isAlive, "slow writer wedged")
    // the race must surface as the single-writer violation...
    assert(thrown.exists(_.isInstanceOf[IllegalStateException]),
      s"expected IllegalStateException, got $thrown")
    assert(thrown.get.getMessage.contains("concurrent writer"))
    // ...and the fast writer's committed snapshot must be intact
    assert(new java.io.File(s"$root/crace/v$fast").exists, s"committed v$fast was deleted")
    assert(c.df.count() === fastRows)
  }

  test("dead-JVM orphan install is still garbage-collected by the next rewrite (r12)") {
    Collection.drop(root, "crash")
    val c = Collection.create(spark, root, "crash", TextEmbed.DefaultDim, overwrite = true)
    c.insert(seeded)
    val next = c.history().map(_.version).max + 1
    // simulate a crash between rename and pointer flip: v<next> exists
    // with junk, but _current was never written
    val orphan = new java.io.File(s"$root/crash/v$next")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(orphan.toPath.resolve("junk"), Array[Byte](1, 2, 3))
    c.delete("id = 0") // must clear the orphan and commit a real v<next>
    assert(c.df.count() === 3)
    assert(!new java.io.File(s"$root/crash/v$next/junk").exists, "orphan junk survived the install")
  }

  test("getByIds is a point lookup") {
    val c = Collection.open(spark, root, "c1")
    val got = c.getByIds(Seq(1L, 3L)).select("id").as[Long].collect().sorted
    assert(got.toSeq === Seq(1L, 3L))
  }

  test("query: filter string + projection + limit (milvus query_entities surface)") {
    val c = Collection.open(spark, root, "c1")
    val got = c.query("id >= 1 and id <= 2", Seq("id", "text"), 10)
    assert(got.columns.toSeq === Seq("id", "text"))
    assert(got.count() === 2)
  }

  test("search: cosine top-k finds the near-duplicate first") {
    val c = Collection.open(spark, root, "c1")
    val qv = TextEmbed.embedScala("spark window aggregation engine")
    val hits = c.search(qv, k = 2).select("id", "score").as[(Long, Double)].collect()
    assert(hits.length === 2)
    assert(hits.head._1 === 0L) // exact text match → cosine 1
    assert(math.abs(hits.head._2 - 1.0) < 1e-9)
    assert(hits(1)._1 === 3L) // near-duplicate second
  }

  test("searchBatch: one plan, per-query ranks") {
    val c = Collection.open(spark, root, "c1")
    val qs = Seq(
      (10L, TextEmbed.embedScala("vector search cosine")),
      (11L, TextEmbed.embedScala("quick brown fox"))
    ).toDF("qid", "qv")
    val got = c.searchBatch(qs, k = 1).select("qid", "id").as[(Long, Long)].collect().toMap
    assert(got === Map(10L -> 2L, 11L -> 1L))
  }

  test("partitioned cells: probe prunes partitions at the scan") {
    Collection.drop(root, "cells")
    val c = Collection.create(spark, root, "cells", TextEmbed.DefaultDim, overwrite = true)
    c.insert(seeded)
    val model = c.buildIvf(nlist = 2, rounds = 2)
    val qv = TextEmbed.embedScala("spark window")
    val q = c.searchIvf(qv, k = 2, nprobe = 1)
    val scan = q.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [") && scan.contains("cell"), scan)
    // only the probed cell's rows answer
    val probed = c.df.filter(col("cell") === model.probe(qv, 1).head).select("id").as[Long].collect()
    val got = q.select("id").as[Long].collect()
    assert(got.nonEmpty && got.forall(probed.contains), s"${got.toSeq} outside ${probed.toSeq}")
  }

  test("search plans as TakeOrderedAndProject (no full sort, no shuffle)") {
    val c = Collection.open(spark, root, "c1")
    val plan = c.search(TextEmbed.embedScala("spark"), 3).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"unexpected plan:\n$plan")
  }

  test("delete(expr) removes matches copy-on-write and reports the count") {
    Collection.drop(root, "cdel")
    val c = Collection.create(spark, root, "cdel", TextEmbed.DefaultDim, overwrite = true)
    c.insert(seeded)
    val removed = c.delete("id >= 2")
    assert(removed === 2)
    assert(c.df.select("id").as[Long].collect().sorted.toSeq === Seq(0L, 1L))
    // survivors stay queryable and a second delete is a no-op
    assert(c.delete("id >= 2") === 0)
    assert(c.describe().rows === 2)
  }

  test("compact folds many small append files into one, preserving rows") {
    Collection.drop(root, "ccomp")
    val c = Collection.create(spark, root, "ccomp", TextEmbed.DefaultDim, overwrite = true)
    // 5 separate appends → ≥5 part files (each its own write job)
    (0 until 5).foreach(_ => c.insert(seeded.repartition(2)))
    val rowsBefore = c.df.count()
    val (before, after) = c.compact()
    assert(before >= 5)
    assert(after === 1) // tiny data → one right-sized file
    assert(c.df.count() === rowsBefore)
    // still searchable after the rewrite
    assert(c.search(TextEmbed.embedScala("spark"), 1).count() === 1)
  }

  test("upsert replaces same-id rows and appends new ones") {
    Collection.drop(root, "cups")
    val c = Collection.create(spark, root, "cups", TextEmbed.DefaultDim, overwrite = true)
    c.insert(seeded) // ids 0..3
    val batch = TextEmbed.withEmbed(
      Seq((2L, "vector search rewritten"), (9L, "a brand new row")).toDF("id", "text"),
      "text", "vector").select("id", "vector", "text")
    val (replaced, inserted) = c.upsert(batch)
    assert((replaced, inserted) === ((1L, 1L)))
    assert(c.df.count() === 5)
    val texts = c.df.select("id", "text").as[(Long, String)].collect().toMap
    assert(texts(2L) === "vector search rewritten") // replaced, not duplicated
    assert(texts(9L) === "a brand new row")
    assert(texts(0L) === "spark window aggregation engine") // untouched
    // idempotent re-upsert: same batch replaces both, inserts none
    assert(c.upsert(batch) === ((2L, 0L)))
    assert(c.df.count() === 5)
    // duplicate ids within one batch violate the replace-by-key contract
    intercept[IllegalArgumentException] {
      c.upsert(batch.union(batch.limit(1)))
    }
    // an IVF-indexed collection takes the same upsert and stays indexed:
    // the batch rows land in their cells and a full probe sees them
    Collection.drop(root, "cupsp")
    val cp = Collection.create(spark, root, "cupsp", TextEmbed.DefaultDim, overwrite = true)
    cp.insert(seeded)
    cp.buildIvf(nlist = 2, rounds = 2)
    assert(cp.upsert(batch) === ((1L, 1L)))
    assert(cp.df.count() === 5)
    val qv = TextEmbed.embedScala("a brand new row")
    def ids(d: org.apache.spark.sql.DataFrame) = d.select("id").as[Long].collect().toSeq
    assert(ids(cp.searchIvf(qv, k = 5, nprobe = 2)) === ids(cp.search(qv, k = 5)))
  }

  test("a layout rewrite of an indexed version keeps the rows, not the index's cell") {
    Collection.drop(root, "crelay")
    val c = Collection.create(spark, root, "crelay", TextEmbed.DefaultDim, overwrite = true)
    c.insert(seeded)
    c.buildIvf(nlist = 2, rounds = 2)
    c.compact()
    assert(c.df.columns.toSet === Set("id", "vector", "text"))
    // the next batch matches the declared schema, and every row answers
    val extra = TextEmbed.withEmbed(Seq((7L, "spark window late arrival")).toDF("id", "text"),
      "text", "vector").select("id", "vector", "text")
    c.insert(extra)
    assert(c.df.count() === 5)
    val qv = TextEmbed.embedScala("spark window aggregation engine")
    val exact = c.df.select("id", "vector").as[(Long, Seq[Float])].collect().toSeq
      .map { case (id, x) =>
        val dot = x.indices.map(i => x(i) * qv(i)).sum
        (id, dot / (math.sqrt(x.map(f => f.toDouble * f).sum) * math.sqrt(qv.map(d => d * d).sum)))
      }.sortBy { case (id, sc) => (-sc, id) }.map(_._1)
    assert(c.search(qv, k = 5).select("id").as[Long].collect().toSeq === exact)
    // a user's own `cell` column on an unindexed collection is data: kept
    Collection.drop(root, "cowncell")
    val own = Collection.create(spark, root, "cowncell", TextEmbed.DefaultDim, overwrite = true)
    own.insert(seeded.withColumn("cell", col("id") % 2))
    own.clusterBy(1, "id")
    assert(own.df.columns.contains("cell"))
    assert(own.df.filter(col("cell") === 1L).count() === 2)
  }

  test("clusterBy gives each file a disjoint key range (zone-map layout)") {
    Collection.drop(root, "cclust")
    val c = Collection.create(spark, root, "cclust", TextEmbed.DefaultDim, overwrite = true)
    // 60 rows inserted in shuffled id order across several files
    val docs = scala.util.Random.shuffle((0L until 60L).toList)
      .map(i => (i, s"doc number $i")).toDF("id", "text")
    c.insert(TextEmbed.withEmbed(docs.repartition(6), "text", "vector")
      .select("id", "vector", "text"))
    val nFiles = c.clusterBy(4, "id")
    assert(nFiles === 4)
    assert(c.df.count() === 60)
    // every parquet file owns a disjoint id range — the property row-group
    // min/max pruning needs
    val ranges = new java.io.File(c.dataDir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map { f =>
        val ids = spark.read.parquet(f.getAbsolutePath)
          .select("id").as[Long].collect()
        (ids.min, ids.max)
      }.sortBy(_._1)
    assert(ranges.length === 4)
    ranges.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi < lo, s"overlapping file ranges: ${ranges.toSeq}")
    }
  }

  test("zorderBy keeps per-file ranges compact on BOTH metadata columns") {
    Collection.drop(root, "czord")
    val c = Collection.create(spark, root, "czord", TextEmbed.DefaultDim, overwrite = true)
    // two independent uniform metadata dims (16x16 grid)
    val docs = (0L until 256L)
      .map(i => (i, s"doc number $i", i % 16, i / 16)).toDF("id", "text", "x", "y")
    c.insert(TextEmbed.withEmbed(docs.repartition(4), "text", "vector")
      .select("id", "vector", "text", "x", "y"))
    val nFiles = c.zorderBy(16, buckets = 16, "x", "y")
    assert(nFiles === 16)
    assert(c.df.count() === 256)
    val spans = new java.io.File(c.dataDir).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map { f =>
        val r = spark.read.parquet(f.getAbsolutePath)
          .agg(min($"x"), max($"x"), min($"y"), max($"y")).head()
        ((r.getLong(1) - r.getLong(0)) / 15.0, (r.getLong(3) - r.getLong(2)) / 15.0)
      }
    // 16 files over the 256-cell z-curve: each file holds a short z run
    // (~16 codes ≈ a 4x4-8x8 region; range cuts are count-based, not
    // bit-aligned, so a file straddling a block boundary widens — the
    // MEAN is what the curve bounds). Lexicographic layout would leave
    // the mean y span ≈ 1.0.
    assert(spans.length === 16)
    assert(spans.map(_._1).sum / 16 <= 0.5, s"x spans: ${spans.map(_._1).toSeq}")
    assert(spans.map(_._2).sum / 16 <= 0.5, s"y spans: ${spans.map(_._2).toSeq}")
  }

  test("shallowClone branches zero-copy: independent mutations, shared inodes") {
    Collection.drop(root, "csrc"); Collection.drop(root, "cclone")
    val c = Collection.create(spark, root, "csrc", TextEmbed.DefaultDim, overwrite = true)
    val rows = (0L until 20L).map(i => (i, s"doc number $i")).toDF("id", "text")
    c.insert(TextEmbed.withEmbed(rows, "text", "vector").select("id", "vector", "text"))
    val clone = c.shallowClone("cclone")
    assert(clone.df.count() === 20)
    // the clone's v1 files ARE the source's files (hard links): same inode
    def firstKey(dir: String): AnyRef = {
      val f = new java.io.File(dir).listFiles()
        .filter(x => x.isFile && x.getName.endsWith(".parquet")).minBy(_.getName)
      java.nio.file.Files.readAttributes(f.toPath,
        classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()
    }
    assert(firstKey(c.dataDir) === firstKey(clone.dataDir))
    // mutations diverge: delete on the clone, source untouched — and
    // vice versa
    assert(clone.delete("id >= 10") === 10L)
    assert(clone.df.count() === 10)
    assert(c.df.count() === 20)
    assert(c.delete("id = 0") === 1L)
    assert(c.df.count() === 19)
    assert(clone.df.count() === 10)
    // refuses to clobber an existing collection
    intercept[IllegalArgumentException](c.shallowClone("cclone"))
  }

  test("shallowClone of an IVF-indexed collection stays searchable (sidecars clone too)") {
    Collection.drop(root, "civ"); Collection.drop(root, "civ2")
    val c = Collection.create(spark, root, "civ", TextEmbed.DefaultDim, overwrite = true)
    val rows = (0L until 24L).map(i => (i, s"document about topic number $i"))
      .toDF("id", "text")
    c.insert(TextEmbed.withEmbed(rows, "text", "vector").select("id", "vector", "text"))
    c.buildIvf(nlist = 2, rounds = 2)
    // the clone's v1 links the source version's _index/ along with its
    // data, so searchIvf answers from the clone without a rebuild
    val clone = c.shallowClone("civ2")
    val qv = TextEmbed.embedScala("document about topic number 7")
    val hits = clone.searchIvf(qv, k = 3, nprobe = 2)
    assert(hits.count() === 3)
    assert(hits.select("id").as[Long].collect().contains(7L))
    // and the clone's index survives the SOURCE retraining its own
    // (marker writes land on new inodes — never through shared ones)
    c.buildIvf(nlist = 2, rounds = 2)
    assert(clone.searchIvf(qv, k = 1, nprobe = 2).count() === 1)
  }

  test("insert schema redefinition: widening only, markers survive the rewrite") {
    Collection.drop(root, "cwide")
    val c = Collection.create(spark, root, "cwide", TextEmbed.DefaultDim, overwrite = true)
    c.setRetention(5) // root marker the redefining insert must not destroy
    // a narrower first batch (no text) must refuse, not silently narrow
    val narrow = TextEmbed.withEmbed(Seq((0L, "x")).toDF("id", "text"), "text", "vector")
      .select("id", "vector")
    intercept[IllegalArgumentException](c.insert(narrow))
    // a widening first batch redefines the schema AND keeps the marker
    val wide = TextEmbed.withEmbed(Seq((0L, "doc zero")).toDF("id", "text"),
      "text", "vector").select("id", "vector", "text").withColumn("lang", lit("en"))
    c.insert(wide)
    assert(c.df.columns.toSet === Set("id", "vector", "text", "lang"))
    assert(c.df.count() === 1)
    assert(c.retention === 5, "_retain marker must survive the schema-defining insert")
  }

  test("diffVersions classifies added/removed/changed keys between snapshots") {
    Collection.drop(root, "cdiff")
    val c = Collection.create(spark, root, "cdiff", TextEmbed.DefaultDim, overwrite = true)
    c.setRetention(10)
    val rows = (0L until 10L).map(i => (i, s"doc number $i")).toDF("id", "text")
    c.insert(TextEmbed.withEmbed(rows, "text", "vector").select("id", "vector", "text"))
    val v = c.history().map(_.version).max // the insert's snapshot
    // later versions: remove 0-1, change 5, add 20
    c.delete("id < 2")
    val batch = TextEmbed.withEmbed(
      Seq((5L, "doc number five REVISED"), (20L, "a brand new doc"))
        .toDF("id", "text"), "text", "vector").select("id", "vector", "text")
    c.upsert(batch)
    val cur = c.history().map(_.version).max
    val d = c.diffVersions(v, cur).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d(0L) === "removed" && d(1L) === "removed")
    assert(d(5L) === "changed")
    assert(d(20L) === "added")
    assert(d.size === 4, s"unexpected diff rows: $d") // untouched keys absent
  }

  test("a committed snapshot never changes: insert commits a new version") {
    Collection.drop(root, "cimm")
    val c = Collection.create(spark, root, "cimm", TextEmbed.DefaultDim, overwrite = true)
    c.setRetention(10)
    val rows = (0L until 20L).map(i => (i, s"doc number $i")).toDF("id", "text")
    c.insert(TextEmbed.withEmbed(rows, "text", "vector").select("id", "vector", "text"))
    c.delete("id >= 10")
    val v = c.history().map(_.version).max // 10 rows
    def files(): Map[String, Seq[String]] = {
      def walk(f: java.io.File, rel: String): Seq[String] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).toSeq
          .flatMap(x => walk(x, s"$rel/${x.getName}"))
        else Seq(rel)
      new java.io.File(s"$root/cimm").listFiles()
        .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
        .map(f => f.getName -> walk(f, "").sorted).toMap
    }
    val before = files()
    val extra = Seq((100L, "late doc one"), (101L, "late doc two")).toDF("id", "text")
    c.insert(TextEmbed.withEmbed(extra, "text", "vector").select("id", "vector", "text"))
    assert(c.readVersion(v).count() === 10, "the insert changed a committed version")
    val after = files()
    before.foreach { case (dir, fs) => assert(after.get(dir) === Some(fs), s"$dir changed") }
    assert(c.df.count() === 12)
    val cur = c.history().map(_.version).max
    val d = c.diffVersions(v, cur).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(d === Map(100L -> "added", 101L -> "added"))
  }

  test("rewrites commit atomically: concurrent readers see old or new snapshot, never neither") {
    Collection.drop(root, "catomic")
    val c = Collection.create(spark, root, "catomic", TextEmbed.DefaultDim, overwrite = true)
    // 40 rows; each delete removes a disjoint 10-row slice, so the live
    // row count identifies the snapshot: 40 → 30 → 20 → 10
    val rows = (0L until 40L).map(i => (i, s"doc number $i")).toDF("id", "text")
    c.insert(TextEmbed.withEmbed(rows, "text", "vector").select("id", "vector", "text"))
    val finalVersion = c.history().map(_.version).max + 3 // three delete commits follow
    val legalCounts = Set(40L, 30L, 20L, 10L)

    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    @volatile var writing = true
    val reader = Future {
      val seen = scala.collection.mutable.Set[Long]()
      var errors = List.empty[Throwable]
      while (writing) {
        try seen += Collection.open(spark, root, "catomic").df.count()
        catch { case e: Throwable => errors ::= e }
      }
      (seen.toSet, errors)
    }
    for (slice <- 0 until 3) {
      c.delete(s"id >= ${30 - slice * 10} and id < ${40 - slice * 10}")
      Thread.sleep(50) // give the reader a beat on each snapshot
    }
    writing = false
    val (seen, errors) = Await.result(reader, 2.minutes)
    // The atomicity contract covers the vacuum horizon (1 superseded
    // snapshot). A reader that resolved the pointer and then lost the
    // scheduler for TWO commits can have its snapshot vacuumed mid-scan —
    // that surfaces as a FileNotFound-class error and is outside the
    // contract, not an atomicity violation. But the excuse is narrow:
    // the error must reference a snapshot vacuum actually removed (a
    // version ≥ 2 commits behind the final pointer) — a commit-ordering
    // bug exposing a HALF-INSTALLED current version also surfaces as
    // missing files and must still fail, and so does an error that names
    // no version at all.
    def isVacuumRace(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists { t =>
        val fnf = t.isInstanceOf[java.io.FileNotFoundException] ||
          Option(t.getMessage).exists(m =>
            m.contains("FileNotFoundException") || m.contains("does not exist") ||
              m.contains("PATH_NOT_FOUND"))
        fnf && Option(t.getMessage).exists { m =>
          val vs = "/v(\\d+)/".r.findAllMatchIn(m).map(_.group(1).toInt).toList
          vs.nonEmpty && vs.forall(_ <= finalVersion - 2)
        }
      }
    val hard = errors.filterNot(isVacuumRace)
    assert(hard.isEmpty, s"reader hit ${hard.headOption}")
    // each serial read can be stranded by at most one commit's vacuum:
    // more excused errors than commits would itself be a regression
    assert(errors.count(isVacuumRace) <= 3,
      s"${errors.count(isVacuumRace)} vacuum-race errors for 3 commits: ${errors.headOption}")
    assert(seen.subsetOf(legalCounts), s"phantom snapshot counts: $seen")
    assert(seen.contains(10L)) // the final snapshot was observed
    assert(c.df.count() === 10)

    // vacuum horizon: exactly the superseded snapshot remains on disk
    val vdirs = new java.io.File(s"$root/catomic").listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d+")).map(_.getName).sorted
    assert(vdirs.toSeq === Seq(s"v${finalVersion - 1}", s"v$finalVersion"))
  }

  test("time travel: readVersion reads snapshots within the retention horizon; vacuum(keepLast) trims unpinned history") {
    Collection.drop(root, "ctt")
    val c = Collection.create(spark, root, "ctt", TextEmbed.DefaultDim, overwrite = true)
    c.setRetention(10) // keep history deep enough to travel back through
    val rows = (0L until 30L).map(i => (i, s"doc number $i")).toDF("id", "text")
    c.insert(TextEmbed.withEmbed(rows, "text", "vector").select("id", "vector", "text"))
    val v = c.history().map(_.version).max // the insert's snapshot: 30 rows
    c.delete("id >= 20") // v+1: 20 rows
    c.delete("id >= 10") // v+2: 10 rows
    assert(c.df.count() === 10)
    // v+1 is TWO commits old and still readable (default horizon would
    // have vacuumed it — setRetention is what makes time travel real)
    assert(c.readVersion(v + 1).count() === 20)
    assert(c.readVersion(v + 2).count() === 10)
    val h = c.history()
    assert(h.map(_.version) === (1 to v + 2)) // create's seed v1 on
    assert(h.filter(_.current).map(_.version) === Seq(v + 2))
    assert(h.forall(_.sizeBytes > 0))

    c.delete("id >= 5") // v+3: 5 rows
    assert(c.readVersion(v + 1).count() === 20)
    // vacuum keeps only the live snapshot; older versions are gone and
    // readVersion refuses with the retained list
    c.vacuum(keepLast = 1)
    assert(c.history().map(_.version) === Seq(v + 3))
    val e = intercept[IllegalArgumentException](c.readVersion(v + 1))
    assert(e.getMessage.contains("no snapshot"))
    assert(c.df.count() === 5) // the live snapshot is never vacuumed
  }

  test("delete leaves NULL-predicate rows alone (they are not matches)") {
    Collection.drop(root, "cnull")
    val c = Collection.create(spark, root, "cnull", TextEmbed.DefaultDim, overwrite = true)
    c.insert(seeded)
    c.insert(seeded.limit(1)
      .withColumn("text", lit(null).cast("string"))
      .withColumn("id", lit(99L)))
    // predicate evaluates NULL on the text-less row: it must survive
    val removed = c.delete("text = 'the quick brown fox jumps'")
    assert(removed === 1)
    assert(c.df.filter(col("id") === 99L).count() === 1)
    assert(c.describe().rows === 4)
  }

  /** The descriptions of the Spark jobs `body` starts. A sentinel job in
    * its own group before and after `body` drains the async listener bus
    * (the PlanSpec pattern). */
  private def jobsDuring(call: String)(body: => Unit): Seq[String] = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(js.properties).flatMap(p => Option(p.getProperty(k)))
        jobs.add((prop("spark.jobGroup.id").getOrElse("<none>"),
          prop("spark.job.description").getOrElse(""))); ()
      }
    }
    def sentinel(name: String): Unit = {
      spark.sparkContext.setJobGroup(name, name)
      try spark.range(1).count()
      finally spark.sparkContext.clearJobGroup()
      val deadline = System.currentTimeMillis + 60000
      while (!jobs.stream().anyMatch(_._1 == name) && System.currentTimeMillis < deadline)
        Thread.sleep(10)
      assert(jobs.stream().anyMatch(_._1 == name), s"sentinel $name never observed")
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      sentinel(s"$call-open")
      jobs.clear()
      body
      sentinel(s"$call-close")
      jobs.toArray(Array.empty[(String, String)]).toSeq.collect {
        case (g, d) if g != s"$call-close" => d
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def topId(c: Collection, qv: Array[Double]): Long =
    c.search(qv, k = 1).select("id").as[Long].head()

  test("each read call lists its snapshot once") {
    // 40 one-hot rows, each its own k-means seed: 40 non-empty cell dirs,
    // above Spark's parallel-discovery threshold (32), so every listing
    // of the data dir runs as a visible "Listing leaf files" job. It runs
    // once per committed version: the first searchIvf after the buildIvf
    // commit lists the cells, later calls reuse the held listing.
    val n = 40
    Collection.drop(root, "clist")
    val c = Collection.create(spark, root, "clist", n, overwrite = true)
    c.insert((0 until n).map(i => (i.toLong, Seq.tabulate(n)(d => if (d == i) 1.0 else 0.0),
      s"row $i")).toDF("id", "vector", "text"))
    c.buildIvf(nlist = n, rounds = 1)
    val cellDirs = new java.io.File(c.dataDir).listFiles().count(_.getName.startsWith("cell="))
    assert(cellDirs >= 33, s"only $cellDirs cell dirs: no listing job would run")

    def listings(call: String)(body: => Unit): Int =
      jobsDuring(call)(body).count(_.startsWith("Listing leaf files"))
    val qv = Array.tabulate(n)(d => if (d == 3) 1.0 else 0.0)
    assert(listings("searchIvf")(c.searchIvf(qv, k = 2, nprobe = 2).collect()) === 1)
    assert(listings("searchIvf-warm")(c.searchIvf(qv, k = 2, nprobe = 2).collect()) === 0)
    assert(listings("searchIvf-all")(c.searchIvf(qv, k = 2, nprobe = n).collect()) === 0)
  }

  test("describe and ivfDrift count a committed version once") {
    Collection.drop(root, "cdesc")
    val c = Collection.create(spark, root, "cdesc", TextEmbed.DefaultDim, overwrite = true)
    c.insert(seeded)
    val info = CollectionInfo("cdesc", 4, TextEmbed.DefaultDim, "COSINE")
    assert(c.describe() === info)
    assert(c.ivfDrift === 0.0)
    val warm = jobsDuring("describe-warm") {
      assert(c.describe() === info)
      assert(c.ivfDrift === 0.0)
    }
    assert(warm.isEmpty, s"a repeated describe ran jobs: $warm")
    c.delete("id = 0")
    assert(c.describe() === info.copy(rows = 3), "a new version is counted anew")
  }

  test("a held snapshot sees a commit made through another handle at the next call") {
    Collection.drop(root, "chandle")
    val a = Collection.create(spark, root, "chandle", TextEmbed.DefaultDim, overwrite = true)
    a.insert(seeded)
    val qv = TextEmbed.embedScala("vector search cosine similarity")
    assert(topId(a, qv) === 2L)
    assert(a.df.count() === 4)
    Collection.open(spark, root, "chandle").delete("id = 2")
    assert(a.df.count() === 3)
    assert(topId(a, qv) !== 2L)
  }

  test("a held snapshot is not reused when a recreated collection reuses its version number") {
    Collection.drop(root, "crecreate")
    val a = Collection.create(spark, root, "crecreate", TextEmbed.DefaultDim, overwrite = true)
    a.insert(seeded)
    val v = a.history().map(_.version).max
    val qv = TextEmbed.embedScala("vector search cosine similarity")
    assert(topId(a, qv) === 2L)
    assert(a.df.count() === 4)
    // handle B: drop, create, insert — the same version numbers, other rows
    Collection.drop(root, "crecreate")
    val b = Collection.create(spark, root, "crecreate", TextEmbed.DefaultDim)
    b.insert(TextEmbed.withEmbed(Seq((10L, "vector search cosine similarity"),
      (11L, "a late arrival")).toDF("id", "text"), "text", "vector").select("id", "vector", "text"))
    assert(b.history().map(_.version).max === v, "B must reuse A's version number")
    assert(a.df.count() === 2)
    assert(topId(a, qv) === 10L)
  }

  // flat: `search`; IVF_PQ: `searchIvf` at nprobe = nlist, which must be
  // just as exact while every upsert keeps the index
  for (indexed <- Seq(false, true))
  test("readers racing upserts: every search answers the exact top-k of one committed version" +
      (if (indexed) " (IVF_PQ, searchIvf at nprobe = nlist)" else "")) {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val dim = 16
    val rnd = new scala.util.Random(7)
    def gauss(): Seq[Double] = Seq.fill(dim)(rnd.nextGaussian())
    val name = if (indexed) "creadpq" else "cread"
    Collection.drop(root, name)
    val c = Collection.create(spark, root, name, dim, overwrite = true)
    c.setRetention(10) // every version stays readable for the expected lists
    c.insert((0L until 200L).map(i => (i, gauss(), s"doc $i")).toDF("id", "vector", "text"))
    val nlist = 4
    if (indexed) c.buildIvfPq(nlist, m = 4, pqK = 4, rounds = 2)
    val first = c.history().map(_.version).max
    val qv = gauss().toArray
    // upsert u moves 5 ids next to the query, each time closer than the
    // last, so every version has its own top-5
    val batches = (0 until 3).map { u =>
      val eps = Seq(0.3, 0.1, 0.03)(u)
      (0 until 5).map(j => (100L + u * 5 + j, qv.toSeq.map(_ + eps * rnd.nextGaussian()),
        s"moved $u $j")).toDF("id", "vector", "text")
    }

    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      def top5(): Seq[Long] =
        (if (indexed) c.searchIvf(qv, k = 5, nprobe = nlist) else c.search(qv, k = 5))
          .select("id").as[Long].collect().toSeq
      @volatile var writing = true
      val readers = (0 until 4).map(_ => Future {
        val seen = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
        while (writing) seen += top5()
        seen.toSeq
      })
      try batches.foreach(b => c.upsert(b))
      finally writing = false
      val seen = readers.flatMap(f => Await.result(f, 5.minutes))
      val last = first + batches.length
      assert(c.history().map(_.version).max === last)

      // the exact top-5 of each committed version, scored on the driver
      def exact(v: Int): Seq[Long] =
        c.readVersion(v).select("id", "vector").as[(Long, Seq[Float])].collect().toSeq
          .map { case (id, x) =>
            val dot = x.indices.map(i => x(i) * qv(i)).sum
            val nx = math.sqrt(x.map(f => f.toDouble * f).sum)
            (id, dot / (nx * math.sqrt(qv.map(d => d * d).sum)))
          }.sortBy { case (id, s) => (-s, id) }.take(5).map(_._1)
      val legal = (first to last).map(exact)
      assert(legal.distinct.length === legal.length, s"versions share a top-5: $legal")
      val mixed = seen.filterNot(legal.contains)
      assert(seen.nonEmpty && mixed.isEmpty,
        s"${mixed.length} of ${seen.length} replies match no version: ${mixed.headOption}")
      info(s"${seen.length} replies from ${seen.distinct.length} versions")
      // a search that starts after the last commit answers from it, on every thread
      val after = (0 until 4).map(_ => Future(top5()))
      assert(after.map(f => Await.result(f, 2.minutes)).forall(_ == legal.last))
    } finally pool.shutdown()
  }
}
