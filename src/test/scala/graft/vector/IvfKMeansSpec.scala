package graft.vector

import graft.SparkSpec
import graft.store.Collection
import org.apache.spark.sql.functions._

class IvfKMeansSpec extends SparkSpec {
  import spark.implicits._

  private val root = java.nio.file.Files.createTempDirectory("graft-ivf").toString
  private val dim = 8

  /** 30 vectors in 3 well-separated clusters around axis points ×10,
    * deterministic offsets — k-means must recover the clusters. */
  private def clustered = {
    val rows = for (i <- 0L until 30L) yield {
      val cluster = (i % 3).toInt
      val v = Array.fill(dim)(0.0)
      v(cluster) = 10.0
      v((cluster + 3) % dim) = 0.1 * (i / 3 % 5) // small within-cluster spread
      (i, v.toSeq)
    }
    rows.toDF("id", "vector")
  }

  /** The vector 10 × the unit vector of cluster `cl`: its cell's center. */
  private def mkVec(cl: Int): Seq[Double] = { val v = Array.fill(dim)(0.0); v(cl) = 10.0; v.toSeq }

  /** Every file under a version dir, by relative path, with its inode. */
  private def inodes(dir: String): Map[String, AnyRef] = {
    val base = java.nio.file.Paths.get(dir)
    val files = java.nio.file.Files.walk(base)
    try {
      val it = files.iterator()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(f => base.relativize(f).toString -> java.nio.file.Files.readAttributes(f,
          classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey())
        .toMap
    } finally files.close()
  }

  /** A row change rewrote the cells in `touched` and hard-linked the rest:
    * every data and code file outside those cells, and the quantizer and
    * codebooks, is the parent version's file. */
  private def onlyTouchedRewritten(parent: Map[String, AnyRef], child: Map[String, AnyRef],
                                   touched: Set[Long]): Unit = {
    val cellDir = "(?:^|.*/)cell=(-?\\d+)/.*".r
    val carried = child.keySet.filter(f => f.endsWith(".parquet") && (f match {
      case cellDir(c) => !touched(c.toLong)
      case _ => f.startsWith("_index/")
    }))
    assert(carried.nonEmpty, "nothing was carried")
    carried.foreach(f => assert(parent.get(f) === child.get(f), s"$f was rewritten"))
    val rewritten = child.keySet.collect { case f @ cellDir(c) if !f.startsWith("_index/") && touched(c.toLong) => f }
    assert(rewritten.nonEmpty && rewritten.forall(f => parent.get(f) !== child.get(f)),
      s"touched cells ${touched.mkString(",")} were not rewritten")
  }

  test("train recovers separated clusters; same input → same model") {
    val m1 = IvfKMeans.train(clustered, "id", "vector", nlist = 3, rounds = 3)
    val m2 = IvfKMeans.train(clustered, "id", "vector", nlist = 3, rounds = 3)
    assert(m1.cells.toSeq === m2.cells.toSeq)
    assert(m1.centroids.map(_.toSeq).toSeq === m2.centroids.map(_.toSeq).toSeq)
    // members of one true cluster all land in the same learned cell
    val assigned = IvfKMeans.assignCells(
      clustered, "vector", m1.cells.zip(m1.centroids.map(_.toSeq)).toSeq, 1.0)
      .select(col("id"), col("cell")).as[(Long, Long)].collect().toMap
    for (c <- 0 until 3) {
      val cells = (0L until 30L).filter(_ % 3 == c).map(assigned).distinct
      assert(cells.size === 1, s"true cluster $c split across cells $cells")
    }
  }

  test("all-zero vectors stay out of training: no zero seed, same model, still assigned a cell") {
    // a zero vector under the smallest id would be the first seed, and
    // its cell's mean would absorb it on every round
    val zero = Seq((-1L, Seq.fill(dim)(0.0))).toDF("id", "vector")
    val m = IvfKMeans.train(clustered, "id", "vector", nlist = 3, rounds = 3)
    val withZero = IvfKMeans.train(zero.union(clustered), "id", "vector", nlist = 3, rounds = 3)
    assert(withZero.cells.toSeq === m.cells.toSeq)
    assert(withZero.centroids.map(_.toSeq).toSeq === m.centroids.map(_.toSeq).toSeq)
    val cell = IvfKMeans.assignCells(zero, "vector", withZero.centroidTable, 1.0)
      .select("cell").as[Long].collect()
    assert(cell.length === 1 && withZero.cells.contains(cell.head))
    // only zero vectors: they train, into one cell
    val allZero = (0L until 4L).map(i => (i, Seq.fill(dim)(0.0))).toDF("id", "vector")
    assert(IvfKMeans.train(allZero, "id", "vector", nlist = 3, rounds = 2).cells.length === 1)
  }

  test("assignCells ties break to the smallest cell id") {
    val df = Seq((0L, Seq(0.0, 0.0))).toDF("id", "vector")
    // two identical centroids → equal distance → cell 3 (smaller) wins
    val got = IvfKMeans.assignCells(df, "vector",
      Seq(3L -> Seq(1.0, 1.0), 7L -> Seq(1.0, 1.0)), 1.0)
    assert(got.select("cell").as[Long].head() === 3L)
  }

  /** A model as its raw bits, so equality is bit identity. */
  private def bits(cents: Seq[(Long, Seq[Double])]) =
    cents.map { case (c, v) => c -> v.map(java.lang.Double.doubleToRawLongBits) }

  /** `n` non-integer-valued vectors with no ties. */
  private def raw(n: Long) = (0L until n).map { i =>
    (i, Seq.tabulate(dim)(d => math.sin(i * 0.7 + d * 1.3) / 3.0))
  }.toDF("id", "vector")

  test("centroids are partitioning-invariant on integer-valued vectors (q67's exactness argument)") {
    // The cross-engine oracle for q67/q73 rests on: sums of integer-valued
    // doubles below 2^53 are EXACT, hence order- and partitioning-
    // independent. Pin it mechanically: training over 1, 7, and 32
    // partitions must give bit-identical centroids. On raw doubles the
    // sums are not exact, so they hold only because they run in id order.
    val ints = (0L until 40L).map { i =>
      val v = Array.tabulate(dim)(d => ((i * 7 + d * 3) % 11).toDouble) // integer-valued
      (i, v.toSeq)
    }.toDF("id", "vector")
    for (rows <- Seq(ints, raw(40))) {
      val models = Seq(1, 7, 32).map(p =>
        IvfKMeans.train(rows.repartition(p), "id", "vector", nlist = 4, rounds = 3))
      models.sliding(2).foreach { case Seq(a, b) =>
        assert(bits(a.centroidTable) === bits(b.centroidTable))
      }
    }
  }

  test("a training takes exactly 256·nlist rows, the smallest (xxhash64(id), id), on any partitioning") {
    val rows = raw(600) // over the 512-row cap of nlist 2
    def smallest(n: Int) = rows.orderBy(xxhash64(col("id").cast("long")), col("id")).limit(n)
    val want = bits(IvfKMeans.trainCents(smallest(512), "id", "vector", 2, 2))
    for (p <- Seq(1, 7, 32))
      assert(bits(IvfKMeans.trainCents(rows.repartition(p), "id", "vector", 2, 2)) === want)
    // the 512th row trains, and so does the rule's choice of rows
    assert(bits(IvfKMeans.trainCents(smallest(511), "id", "vector", 2, 2)) !== want)
    assert(bits(IvfKMeans.trainCents(rows.filter(col("id") < 512), "id", "vector", 2, 2)) !== want)
  }

  test("trainSubspaces codebook i ≡ trainCents over slice i") {
    val rows = raw(600) // over PQ's 512-row cap at k 2: every slice trains on one sample
    val cbs = IvfKMeans.trainSubspaces(rows, "id", "vector", m = 4, subDim = 2, k = 2, rounds = 2)
    assert(cbs.length === 4)
    cbs.zipWithIndex.foreach { case (cb, i) =>
      val slice_i = rows.select(col("id"), slice(col("vector"), i * 2 + 1, 2).as("sv"))
      assert(bits(cb) === bits(IvfKMeans.trainCents(slice_i, "id", "sv", 2, 2)), s"subspace $i")
    }
  }

  test("model save/load roundtrip") {
    val m = IvfKMeans.train(clustered, "id", "vector", nlist = 3, rounds = 2)
    val dir = s"$root/model_rt"
    m.save(spark, dir)
    val back = IvfKMeans.load(spark, dir)
    assert(back.cells.toSeq === m.cells.toSeq)
    assert(back.centroids.map(_.toSeq).toSeq === m.centroids.map(_.toSeq).toSeq)
  }

  test("buildIvf + searchIvf: full probe ≡ brute force; pruned probe hits the right cell") {
    Collection.drop(root, "civf")
    val c = Collection.create(spark, root, "civf", dim, overwrite = true)
    c.insert(clustered.withColumn("text", concat(lit("doc "), col("id"))))
    val model = c.buildIvf(nlist = 3, rounds = 3)
    assert(model.cells.length === 3)

    val qv = Array.fill(dim)(0.0); qv(1) = 10.0 // dead-center of cluster 1
    // probing every cell must reproduce the brute-force top-k exactly
    val brute = c.search(qv, k = 5).select("id").as[Long].collect().toSeq
    val full = c.searchIvf(qv, k = 5, nprobe = 3).select("id").as[Long].collect().toSeq
    assert(full === brute)
    // nprobe=1 scans one cell only and still finds the true neighbors
    // (query sits inside a cluster); every hit comes from cluster 1
    val pruned = c.searchIvf(qv, k = 5, nprobe = 1)
    assert(pruned.select("id").as[Long].collect().forall(_ % 3 == 1))
    // and the cell predicate prunes at the scan, not as a row filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"), plan)
  }

  test("probe refuses a wrong-dimension query instead of ranking a truncated distance") {
    val m = IvfKMeans.train(clustered, "id", "vector", nlist = 3, rounds = 2)
    val short = Array.fill(dim - 2)(0.0)
    val e = intercept[IllegalArgumentException](m.probe(short, 1))
    assert(e.getMessage.contains("dim"))
  }

  test("probeCells ≡ Model.probe on 6 dp distance ties: the lower cell id probes first") {
    // cell 2 sits at raw squared distance 1.0000001² = 1.00000020000001
    // from the origin, cell 5 at exactly 1.0: raw doubles rank cell 5
    // first, but both round to 1.000000, so the cell-id tiebreak must
    // put cell 2 first. Queries 1 and 2 tie the same pair at 13.0 and
    // 0.5; query 3 ranks them by distance (5 before 2).
    val model = IvfKMeans.Model(Array(2L, 5L, 9L),
      Array(Array(0.0, 1.0000001), Array(1.0, 0.0), Array(3.0, 3.0)))
    val qs = Seq(0L -> Seq(0.0, 0.0), 1L -> Seq(3.0, 3.0),
      2L -> Seq(0.5, 0.5), 3L -> Seq(2.0, -1.0))
    val queries = qs.toDF("qid", "qv")
    assert(model.probe(Array(0.0, 0.0), 2) === Seq(2L, 5L))
    assert(model.probe(Array(2.0, -1.0), 2) === Seq(5L, 2L))
    for (nprobe <- 1 to 3) {
      val inPlan = IvfKMeans.probeCells(queries, "qv", model.centroidTable, 1.0, nprobe)
        .select(col("qid"), col("cell")).as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2).toSet }
      val driver = qs.map { case (q, v) => q -> model.probe(v.toArray, nprobe).toSet }.toMap
      assert(inPlan === driver, s"nprobe=$nprobe")
    }
    // at nprobe 1 the probe is the assignment argmin
    val assigned = IvfKMeans.assignCells(queries, "qv", model.centroidTable, 1.0)
      .select(col("qid"), col("cell")).as[(Long, Long)].collect().toMap
    assert(assigned === Map(0L -> 2L, 1L -> 9L, 2L -> 2L, 3L -> 5L))
  }

  test("an index commits inside its snapshot") {
    Collection.drop(root, "civf_snap")
    val c = Collection.create(spark, root, "civf_snap", dim, overwrite = true)
    c.insert(clustered.withColumn("text", concat(lit("doc "), col("id"))))
    val model = c.buildIvf(nlist = 3, rounds = 2)
    val stored = IvfKMeans.load(spark, s"${c.dataDir}/_index/ivf")
    assert(stored.cells.toSeq === model.cells.toSeq)
    assert(stored.centroids.map(_.toSeq).toSeq === model.centroids.map(_.toSeq).toSeq)
    val qv = Array.fill(dim)(0.0); qv(1) = 10.0
    assert(c.searchIvf(qv, k = 1).count() === 1)

    // a flat rewrite commits a version without `_index/` (and without the
    // index's `cell`): every IVF path refuses it instead of probing a
    // layout it no longer describes
    c.compact()
    assert(!c.df.columns.contains("cell"))
    val qs = Seq((0L, qv.toSeq)).toDF("qid", "qv")
    // (searchIvfPq names buildIvf too: its coarse quantizer is gone first)
    for (call <- Seq(() => c.searchIvf(qv, k = 1).collect(),
        () => c.searchIvfBatch(qs, k = 1).collect(),
        () => c.searchIvfPq(qv, k = 1).collect())) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("has no IVF index — run buildIvf"), e.getMessage)
    }
    assert(c.df.count() === 30)

    c.buildIvf(nlist = 3, rounds = 2)
    c.upsert(Seq((100L, qv.toSeq, "new doc")).toDF("id", "vector", "text"))
    assert(c.df.count() === 31)
    assert(c.searchIvf(qv, k = 1).count() === 1)
  }

  test("upsert on an IVF version: assigns to existing centroids, rewrites only touched cells, counts drift") {
    Collection.drop(root, "cups")
    val c = Collection.create(spark, root, "cups", dim, overwrite = true)
    c.insert(clustered.withColumn("text", concat(lit("doc "), col("id"))))
    val model = c.buildIvf(nlist = 3, rounds = 3)

    // batch: id 100 is new (cluster 0), id 1 keeps its vector (replaced,
    // not moved), id 2 MOVES from cluster 2's cell to cluster 0's
    val batch = Seq(
      (100L, mkVec(0), "new doc"),
      (1L, mkVec(1), "doc 1 updated"),
      (2L, mkVec(0), "doc 2 moved")
    ).toDF("id", "vector", "text")
    assert(c.upsert(batch) === ((2L, 1L)))

    // content is exact: 31 rows, unique ids, updated text visible, the
    // moved id's old copy is gone and its new cell is the probe target
    assert(c.df.count() === 31)
    assert(c.df.select("id").distinct().count() === 31)
    assert(c.df.filter(col("id") === 1L).select("text").as[String].collect()
      === Array("doc 1 updated"))
    val cellOf2 = c.df.filter(col("id") === 2L)
      .select(col("cell").cast("long")).as[Long].collect()
    assert(cellOf2.length === 1 &&
      cellOf2(0) === model.probe(mkVec(0).toArray, 1).head)

    // quantizer untouched, full probe ≡ brute force on the NEW content,
    // and the cell predicate still prunes at the scan
    val qv = Array.fill(dim)(0.0); qv(0) = 10.0
    val brute = c.search(qv, k = 5).select("id").as[Long].collect().toSeq
    val full = c.searchIvf(qv, k = 5, nprobe = 3).select("id").as[Long].collect().toSeq
    assert(full === brute)
    val plan = c.searchIvf(qv, k = 5, nprobe = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"), plan)

    // drift accumulates: 1 moved + 1 inserted over 31 rows
    assert(math.abs(c.ivfDrift - 2.0 / 31) < 1e-9)

    // an in-place replacement touches only its own cell: the other cells'
    // files and the quantizer are the parent version's (hard links), and
    // the drift does not move
    val parent = inodes(c.dataDir)
    assert(c.upsert(Seq((4L, mkVec(1), "doc 4 updated")).toDF("id", "vector", "text")) === ((1L, 0L)))
    onlyTouchedRewritten(parent, inodes(c.dataDir), Set(model.probe(mkVec(1).toArray, 1).head))
    assert(c.df.count() === 31)
    assert(math.abs(c.ivfDrift - 2.0 / 31) < 1e-9)
    // retrain resets the counter with the fresh layout
    c.buildIvf(nlist = 3, rounds = 3)
    assert(c.ivfDrift === 0.0)
  }

  test("insert and delete on an IVF_PQ version keep the index: exact rows, full probe ≡ search, untouched cells linked") {
    Collection.drop(root, "cpqrows")
    val c = Collection.create(spark, root, "cpqrows", dim, overwrite = true)
    c.insert(clustered.withColumn("text", concat(lit("doc "), col("id"))))
    val model = c.buildIvfPq(nlist = 3, m = 2, pqK = 4, rounds = 3)
    def cellOf(cl: Int): Long = model.probe(mkVec(cl).toArray, 1).head
    def ids(d: org.apache.spark.sql.DataFrame): Seq[Long] = d.select("id").as[Long].collect().toSeq
    // after each change: the exact rows, every IVF path over all of them
    def exact(n: Int): Unit = {
      assert(c.df.count() === n)
      assert(c.df.select("id").distinct().count() === n)
      for (cl <- 0 until 3) {
        val qv = mkVec(cl).toArray
        assert(ids(c.searchIvf(qv, k = n + 5, nprobe = 3)) === ids(c.search(qv, k = n + 5)))
        assert(ids(c.searchIvfPq(qv, k = n + 5, nprobe = 3)).sorted === ids(c.df).sorted,
          "the codes describe exactly the rows")
      }
    }

    val v0 = inodes(c.dataDir)
    c.insert(Seq((100L, mkVec(0), "new a"), (101L, mkVec(0), "new b")).toDF("id", "vector", "text"))
    exact(32)
    onlyTouchedRewritten(v0, inodes(c.dataDir), Set(cellOf(0)))
    assert(math.abs(c.ivfDrift - 2.0 / 32) < 1e-9, "inserted rows count as drift")

    val v1 = inodes(c.dataDir)
    assert(c.delete("id in (1, 4, 7)") === 3) // cluster 1 only
    exact(29)
    onlyTouchedRewritten(v1, inodes(c.dataDir), Set(cellOf(1)))
    assert(math.abs(c.ivfDrift - 2.0 / 29) < 1e-9, "a delete carries the drift forward")

    // a delete of every row keeps a readable, indexed version
    assert(c.delete("id >= 0") === 29)
    exact(0)
    c.insert(Seq((200L, mkVec(2), "after the purge")).toDF("id", "vector", "text"))
    exact(1)
    assert(ids(c.searchIvfPq(mkVec(2).toArray, k = 1, nprobe = 1)) === Seq(200L))
  }

  test("upsert then searchIvf matches rebuild-then-searchIvf recall on sf0.001 embeddings") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vector"),
        col("label").cast("string").as("text"))
    val (initial, late) = (emb.filter(col("id") % 5 =!= 0), emb.filter(col("id") % 5 === 0))

    Collection.drop(root, "cup_inc"); Collection.drop(root, "cup_reb")
    val inc = Collection.create(spark, root, "cup_inc", 64, overwrite = true)
    inc.insert(initial); inc.buildIvf(nlist = 8, rounds = 2)
    val (_, insertedInc) = inc.upsert(late)
    assert(insertedInc === late.count())
    val reb = Collection.create(spark, root, "cup_reb", 64, overwrite = true)
    reb.insert(emb); reb.buildIvf(nlist = 8, rounds = 2)

    val queries = emb.filter(col("id") < 10)
      .select(col("id"), col("vector")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    def recall(c: Collection) = {
      val rs = queries.map { case (qid, qv) =>
        def ids(df: org.apache.spark.sql.DataFrame) =
          df.filter(col("id") =!= qid).select("id").as[Long].collect().take(5).toSet
        val brute = ids(c.search(qv, k = 6))
        brute.intersect(ids(c.searchIvf(qv, k = 6, nprobe = 2))).size.toDouble / brute.size
      }
      rs.sum / rs.length
    }
    val (rInc, rReb) = (recall(inc), recall(reb))
    info(f"recall@5 incremental=$rInc%.2f rebuild=$rReb%.2f")
    // same data either way; the quantizer differs only by the 20% the
    // incremental path never trained on — recall must not collapse
    assert(rInc >= rReb - 0.15, f"incremental recall $rInc%.2f vs rebuild $rReb%.2f")
  }

  test("IVF recall@5 on real embeddings is reported and bounded") {
    // ANN quality on the actual test corpus: nprobe=2 of nlist=8 learned
    // cells vs brute force. The bound is deliberately conservative — the
    // point is a REGRESSION tripwire (a broken trainer/probe collapses
    // recall to ~0.1) plus a visible measurement, not a benchmark claim.
    import org.apache.spark.sql.functions._
    Collection.drop(root, "crecall")
    val c = Collection.create(spark, root, "crecall", 64, overwrite = true)
    c.insert(spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vector"),
        col("label").cast("string").as("text")))
    c.buildIvf(nlist = 8, rounds = 2)
    val queries = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 10).select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    val recalls = queries.map { case (qid, qv) =>
      def ids(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("id") =!= qid).select("id").as[Long].collect().take(5).toSet
      val brute = ids(c.search(qv, k = 6))
      val ivf = ids(c.searchIvf(qv, k = 6, nprobe = 2))
      brute.intersect(ivf).size.toDouble / brute.size
    }
    val mean = recalls.sum / recalls.length
    info(f"IVF recall@5 (nprobe=2/8) = $mean%.2f over ${recalls.length} queries")
    assert(mean >= 0.4, s"recall collapsed: $mean")
  }

  test("upsert maxDrift: crossing the threshold auto-retrains with the original params and recall recovers") {
    Collection.drop(root, "cdrift")
    val c = Collection.create(spark, root, "cdrift", dim, overwrite = true)
    c.insert(clustered.withColumn("text", concat(lit("doc "), col("id"))))
    c.buildIvf(nlist = 3, rounds = 3)
    def stamp = IvfKMeans.load(spark, s"${c.dataDir}/_index/ivf").centroids.map(_.toSeq).toSeq
    val stamp0 = stamp

    // below the threshold: one moved row over 30 (3.3%) — no retrain
    val mk = (d: Int) => { val v = Array.fill(dim)(0.0); v(d) = 10.0; v.toSeq }
    c.upsert(Seq((0L, mk(1), "doc 0 moved")).toDF("id", "vector", "text"),
      maxDrift = 0.2)
    assert(stamp === stamp0, "retrain must not fire below maxDrift")
    assert(c.ivfDrift > 0.0)

    // now REPLACE a third of the corpus (all of cluster 2) with vectors
    // forming a genuinely NEW cluster: dominant on dim 5 (which no
    // centroid describes) with a small dim-0 component that makes cell 0
    // their nearest OLD centroid — so all 10 MOVE cells, drift reaches
    // 11/30 > 0.2, and the retrain fires with the persisted (3, 3) params
    val nv = { val v = Array.fill(dim)(0.0); v(5) = 10.0; v(0) = 2.0; v.toSeq }
    val newCluster = (2L until 30L by 3L).map(i => (i, nv, s"doc $i re-homed"))
      .toDF("id", "vector", "text")
    c.upsert(newCluster, maxDrift = 0.2)
    assert(stamp !== stamp0, "retrain must fire past maxDrift")
    assert(c.ivfDrift === 0.0, "retrain resets the drift counter")

    // recall recovered: retraining re-seeds from the smallest ids (id 2
    // is now a new-cluster member), so the learned centroids describe
    // the new cluster and a pruned nprobe=1 probe at its center finds
    // exactly its 10 members — the stale quantizer had them filed in
    // cluster 0's cell, invisible to a pruned probe of their own region
    val got = c.searchIvf(nv.toArray, k = 10, nprobe = 1)
      .select("id").as[Long].collect().toSet
    assert(got === (2L until 30L by 3L).toSet,
      s"nprobe=1 after retrain missed the re-homed cluster: $got")
  }

  test("buildIvfPq + searchIvfPq: ADC recall bounded vs exact L2 top-k; codes-only pruned scan; stale index refused") {
    Collection.drop(root, "civfpq")
    val c = Collection.create(spark, root, "civfpq", 64, overwrite = true)
    c.insert(spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vector"),
        col("label").cast("string").as("text")))
    c.buildIvfPq(nlist = 8, m = 4, pqK = 16, rounds = 2, pqRounds = 2)

    val queries = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 10).select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
    // recall@5 of the ADC ranking vs exact L2 (the metric PQ approximates),
    // self excluded. Context for the bound (same framing as the q86 flat-PQ
    // tripwire): this corpus is IID random — PQ's documented WORST case —
    // where flat PQ measures 0.26; composing the nprobe=4/8 coarse filter
    // multiplies in its own ~0.8 overlap, measured 0.20 here. Chance is
    // top-5 of ~250 probed candidates ≈ 0.02, and a broken codebook /
    // residual / table path measures at or near that — the tripwire
    // detects COLLAPSE, not quality (real low-intrinsic-dim corpora are
    // where IVF_PQ earns its keep; exact arithmetic is gate-pinned by q88).
    val pairs = queries.map { case (qid, qv) =>
      val exact = c.df.filter(col("id") =!= qid)
        .withColumn("d", aggregate(
          zip_with(col("vector").cast("array<double>"), typedLit(qv.toSeq),
            (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, t) => acc + t))
        .orderBy(col("d").asc, col("id").asc).limit(5)
        .select("id").as[Long].collect().toSet
      val pq = c.searchIvfPq(qv, k = 6, nprobe = 4)
        .filter(col("id") =!= qid)
        .select("id").as[Long].collect().take(5).toSet
      // FAISS-style refinement: same candidate stream, 60-deep ADC
      // overfetch re-scored exactly — within the probed cells the exact
      // top-k is recovered whenever it survives the ADC cut
      val rr = c.searchIvfPq(qv, k = 6, nprobe = 4, rerank = 60)
        .filter(col("id") =!= qid)
        .select("id").as[Long].collect().take(5).toSet
      (exact.intersect(pq).size.toDouble / exact.size,
        exact.intersect(rr).size.toDouble / exact.size)
    }
    val mean = pairs.map(_._1).sum / pairs.length
    val meanRr = pairs.map(_._2).sum / pairs.length
    info(f"IVF_PQ ADC recall@5 (nprobe=4/8, m=4 k=16 residual codebooks, " +
      f"IID-random corpus) = $mean%.2f (chance ≈ 0.02); rerank=60 → $meanRr%.2f")
    assert(mean >= 0.12, s"IVF_PQ recall collapsed toward chance: $mean")
    // exact re-scoring of a 10x overfetch must dominate the raw ADC
    // ranking — if it doesn't, the refinement path is scoring garbage
    assert(meanRr >= mean,
      s"rerank recall $meanRr below plain ADC $mean — refinement broken")
    assert(meanRr >= 0.4, s"rerank recall $meanRr should recover most of " +
      "the probed-cell exact top-k on this corpus")

    // the ADC scan prunes to probed cells AND reads only the codes
    // sidecar — no vector column anywhere in the plan
    val plan = c.searchIvfPq(queries.head._2, k = 5, nprobe = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"), plan)
    assert(!plan.contains("vector"), "ADC scan must not read vectors")

    // an upsert MAINTAINS the PQ sidecar: the batch is re-encoded with
    // the existing codebooks (they don't depend on row membership) and
    // only affected cell partitions rewrite — search keeps working and
    // covers the new row immediately
    val (dupId, dupVec) = queries.head
    val one = Seq((9999L, dupVec.toSeq, "late row")).toDF("id", "vector", "text")
    c.upsert(one)
    val full = c.searchIvfPq(dupVec, k = 501, nprobe = 8)
      .select(col("id"), col("adist")).as[(Long, Double)].collect().toMap
    assert(full.size === 501)
    // identical vector → same cell, same codes, same ADC distance as the
    // row it duplicates: the incremental encoding is exact, not approximate
    assert(full.contains(9999L) && full(9999L) === full(dupId))

    // a retrain WITHOUT PQ (new quantizer content id) makes the sidecar
    // stale: search refuses loudly until buildIvfPq re-runs
    c.buildIvf(nlist = 8, rounds = 2)
    val e = intercept[IllegalArgumentException](c.searchIvfPq(dupVec, 5, 2))
    assert(e.getMessage.contains("buildIvfPq"))
    c.buildIvfPq(nlist = 8, m = 4, pqK = 16, rounds = 2, pqRounds = 2)
    assert(c.searchIvfPq(dupVec, k = 600, nprobe = 8).count() === 501)
  }

  test("searchIvfBatch: one plan, per-query ranks agree with single-query searchIvf") {
    Collection.drop(root, "civfb")
    val c = Collection.create(spark, root, "civfb", dim, overwrite = true)
    c.insert(clustered.withColumn("text", concat(lit("doc "), col("id"))))
    c.buildIvf(nlist = 3, rounds = 3)
    val qs = (0 until 3).map { cl =>
      val v = Array.fill(dim)(0.0); v(cl) = 10.0
      (100L + cl, v.toSeq)
    }.toDF("qid", "qv")
    val batch = c.searchIvfBatch(qs, k = 3, nprobe = 1)
      .select(col("qid"), col("rnk"), col("id"))
      .as[(Long, Int, Long)].collect().toSet
    val single = (0 until 3).flatMap { cl =>
      val v = Array.fill(dim)(0.0); v(cl) = 10.0
      c.searchIvf(v, k = 3, nprobe = 1).select(col("id")).as[Long].collect()
        .zipWithIndex.map { case (id, i) => (100L + cl, i + 1, id) }
    }.toSet
    assert(batch === single)
  }
}
