package graft.store

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.{VectorKernels, VectorOps}

/** Parquet-backed vector collection — the engine's analogue of the
  * reference's Milvus collection client (`scripts/milvus_db.py:36-114`,
  * 8 methods: list/describe/create/query/insert/stats/get_all/
  * get_by_ids/search). Semantics preserved, REST artifacts dropped:
  *   - pagination (`get_all_entities` offset/limit loop,
  *     `scripts/milvus_db.py:77-97`) is a REST workaround — a full scan
  *     is native here;
  *   - batched insert + flush (`chunking_strategy_cloud.py:139-153`,
  *     batch_size=100) is one atomic version commit per batch here;
  *   - the quadratic re-insert bug (`scripts/prepare_data.py:79-95`,
  *     growing list re-inserted every loop) is intentionally NOT
  *     reproduced — each row is written once.
  *
  * Scale design: data lives flat until `buildIvf` partitions it by the
  * IVF cell, a column only the index owns; `insert`, `upsert` and
  * `delete` keep that index current, like Milvus maintaining an IVF_FLAT
  * index under the same calls. `search` is a scan + TakeOrdered (no
  * shuffle of the collection); `getByIds` is an IN-filter pushed to
  * parquet. On a cluster the cell layout bucket-prunes.
  *
  * Everything a collection stores lives under `<root>/<name>`. Every
  * batch write, from `create`'s zero-row seed `v1` on, commits a new
  * `v<N>` dir, so a committed version never changes. An IVF or IVF_PQ
  * index lives inside the snapshot version it describes, under
  * `v<N>/_index/` (`ivf/`, `pq/`, `pqcodes/`), like Milvus keeping each
  * index with the segments it indexes: one pointer flip commits data and
  * index together, and a version without `_index/` has no index.
  */
final case class CollectionInfo(name: String, rows: Long, dim: Int, metric: String)

/** One retained snapshot version (see Collection.history). */
final case class SnapshotInfo(version: Int, current: Boolean,
                              sizeBytes: Long, modifiedMillis: Long)

class Collection private (
    val spark: SparkSession,
    val root: String,
    val name: String,
    val metric: String) {
  import Collection.{Removal, readMarker, rmTree, writeMarker}

  private def path = s"$root/$name"

  /** Snapshot versioning (the minimal Delta/Iceberg shape): each rewrite
    * installs a complete new data directory `v<N>` INSIDE the collection
    * dir and then commits by atomically renaming a one-line `_current`
    * pointer file over the old one. Readers resolve the pointer first,
    * so they observe either the old snapshot or the new one — never a
    * missing directory (the old two-rename swap had exactly that window,
    * and on an object store directory renames are not atomic at all).
    * One superseded snapshot is retained for readers planned against it
    * (vacuum horizon 1); older ones are removed at the next commit.
    * A dir with no pointer is either absent (never created) or a
    * `streamingInsert` sink dir, which is read at its root.
    */
  private def currentVersion: Option[Int] =
    readMarker(s"$path/_current").map(_.stripPrefix("v").trim.toInt)

  /** One committed version and everything derived from it. A committed
    * `v<N>` never changes, so each of these is computed on first use and
    * kept for as long as the version stays current: `df` (the file index
    * and the inferred schema), the row count and vector dim, the IVF
    * quantizer, the PQ codebooks and the PQ code frame. A call takes one
    * Snapshot and reads only through it, so it never mixes two versions,
    * even while another thread swaps a newer one in. */
  private[store] final class Snapshot(val version: Option[Int], val dir: String) {
    lazy val df: DataFrame = spark.read.parquet(dir)

    lazy val rows: Long = df.count()

    /** 0 while empty: the schema carries the element type, not the length. */
    lazy val dim: Int =
      df.select(size(col("vector"))).limit(1).collect().headOption.fold(0)(_.getInt(0))

    /** `dir/_index/<part>` when this version carries that index. */
    private def index(part: String): Option[String] =
      Some(s"$dir/_index/$part").filter(new java.io.File(_).isDirectory)

    private def refusal(op: String, kind: String, build: String) =
      new IllegalArgumentException(
        s"$op: $name v${version.getOrElse(0)} has no $kind index — run $build")

    /** The coarse quantizer this version was built with. */
    lazy val ivfModel: Option[graft.vector.IvfKMeans.Model] =
      index("ivf").map(graft.vector.IvfKMeans.load(spark, _))

    def ivf(op: String): graft.vector.IvfKMeans.Model =
      ivfModel.getOrElse(throw refusal(op, "IVF", "buildIvf"))

    /** The stored rows without the index's `cell`: what a layout rewrite
      * keeps. A version without an index keeps every column. */
    def entities: DataFrame = if (index("ivf").isDefined) df.drop("cell") else df

    /** The PQ codebooks as (pqK, subDim, cbs), one `cbs` entry per
      * subspace with its (code, centroid) pairs sorted by code. */
    lazy val pqBooks: Option[(Int, Int, Seq[Seq[(Long, Seq[Double])]])] = index("pq").map { d =>
      val Array(m, pqK, subDim) = readMarker(s"$d/_meta").get.split(" ").map(_.toInt)
      val rows = spark.read.parquet(d).collect()
      (pqK, subDim, (0 until m).map(s =>
        rows.filter(_.getInt(0) == s)
          .map(r => (r.getLong(1), r.getSeq[Double](2).toIndexedSeq)).sortBy(_._1).toSeq))
    }

    def pq(op: String): (Int, Int, Seq[Seq[(Long, Seq[Double])]]) =
      pqBooks.getOrElse(throw refusal(op, "PQ", "buildIvfPq"))

    /** The (id, cell, codes) rows of `_index/pqcodes`; read only when
      * `pqBooks` is defined. */
    lazy val pqCodes: DataFrame = spark.read.parquet(s"$dir/_index/pqcodes")
  }

  /** The held Snapshot, keyed by its version and its `v<N>` dir's
    * (fileKey, lastModifiedTime). */
  private val held = new java.util.concurrent.atomic.AtomicReference[(Any, Snapshot)]((None, null))

  /** The current committed version. `_current` is read on every call, so
    * a commit made through another handle or process is seen at once; the
    * held Snapshot is reused only while its key matches, because after a
    * drop and create the same version number can name other content. A
    * warm call therefore lists no files, infers no schema and loads no
    * index. A stream sink's root (no `_current`) grows under its log and
    * is never held. */
  private[store] def snapshot(): Snapshot = currentVersion match {
    case None => new Snapshot(None, path)
    case Some(v) =>
      val dir = s"$path/v$v"
      try {
        val a = java.nio.file.Files.readAttributes(java.nio.file.Paths.get(dir),
          classOf[java.nio.file.attribute.BasicFileAttributes])
        val key = (v, a.fileKey(), a.lastModifiedTime())
        held.updateAndGet(h => if (h._1 == key) h else (key, new Snapshot(Some(v), dir)))._2
      } catch { case _: java.io.IOException => new Snapshot(Some(v), dir) }
  }

  /** The live data directory (`v<N>`, or a stream sink's root) and its
    * rows, for outside callers: both come from the held Snapshot, so a
    * repeated `df` on an unchanged collection lists nothing. */
  def dataDir: String = snapshot().dir
  def df: DataFrame = snapshot().df

  /** A directory fed by a streaming file sink carries a _spark_metadata
    * commit log, and batch readers then trust ONLY the log: files appended
    * by batch insert would be invisible, and a rewrite would permanently
    * drop them while breaking the stream's checkpoint. Refuse the mix —
    * a streaming-fed collection is managed by its stream (stop it and
    * copy into a fresh collection to convert).
    */
  private def requireNotStreamManaged(op: String): Unit =
    require(!new java.io.File(s"$path/_spark_metadata").exists,
      s"$op: $name is streaming-managed (_spark_metadata present); " +
        "batch mutations would write rows the sink log hides or destroy " +
        "log-tracked files — stop the stream and copy to a new collection first")

  /** Copy-on-write rewrite with an ATOMIC commit: `write` produces the
    * replacement snapshot in a dot-prefixed building dir (invisible to
    * scans), which is renamed to `v<N>` and then committed by the atomic
    * `_current` pointer flip. A crash before the flip leaves the old
    * snapshot live and intact; a concurrent reader sees old-or-new,
    * never neither. Every batch write commits through here, so no
    * write but a marker ever lands in a committed `v<N>`. The new version
    * holds only what `write` puts in it: a row change (`changeRows`)
    * carries the index along, a layout rewrite (compact, clusterBy,
    * zorderBy) commits an unindexed version.
    */
  private[store] def rewriteSwap(op: String)(write: String => Unit): Unit = {
    requireNotStreamManaged(op)
    val next = currentVersion.getOrElse(0) + 1
    val tmp = s"$path/.v${next}__building"
    rmTree(new java.io.File(tmp))
    var installed = false
    try {
      write(tmp)
      val nextDir = new java.io.File(s"$path/v$next")
      // A leftover v<next> is EITHER a dead JVM's uncommitted install
      // (garbage, cleared below) OR a concurrent writer's COMMITTED
      // snapshot, which `_current` already resolves to and which must
      // never be deleted. Collections are SINGLE-WRITER by contract: the
      // pointer re-read turns a violated contract into a loud error.
      if (currentVersion.exists(_ >= next))
        throw new IllegalStateException(
          s"$op: concurrent writer detected — v$next was committed after " +
            "this rewrite read its base version. Collections are " +
            "single-writer: serialize mutations, or re-open and retry.")
      rmTree(nextDir) // now provably a dead JVM's uncommitted install
      // The move below never replaces a non-empty v<next>, but rename(2)
      // silently REPLACES an EMPTY target dir, so a v<next> that
      // reappeared since the sweep (a concurrent writer's install in
      // progress) is refused here, before the rename can clobber it.
      if (nextDir.exists())
        throw new IllegalStateException(
          s"$op: concurrent writer detected — v$next appeared between " +
            "the orphan sweep and install. Collections are " +
            "single-writer: serialize mutations, or re-open and retry.")
      // ATOMIC_MOVE: the protocol relies on rename atomicity, so a
      // cross-store layout fails loudly instead of falling back to a
      // copy + delete whose errors would masquerade as a writer race.
      try java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp), nextDir.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // AtomicMoveNotSupported FIRST (it subclasses FileSystemException).
        // rename(2) over a non-empty dir surfaces as a GENERIC
        // FileSystemException, so classify by evidence: a failure with
        // v<next> now existing is the writer race; anything else (tmp
        // vanished, EIO) rethrows unclassified.
        case e: java.nio.file.AtomicMoveNotSupportedException =>
          throw new IllegalStateException(
            s"$op: snapshot install requires an atomic rename, but " +
              s"$tmp -> $nextDir crosses file stores. Keep the " +
              "collection directory on one store.", e)
        case e: java.nio.file.FileSystemException if nextDir.exists() =>
          throw new IllegalStateException(
            s"$op: concurrent writer detected — v$next appeared during " +
              "install. Collections are single-writer: serialize " +
              "mutations, or re-open and retry.", e)
      }
      // the commit: the pointer flip is the only mutation readers race with
      writeMarker(s"$path/_current", s"v$next")
      installed = true
      autoVacuum(next)
    } finally {
      // a failed write or install must not accrete orphan building dirs
      if (!installed) rmTree(new java.io.File(tmp))
    }
  }

  /** How many snapshots each commit retains (the newest `retention`
    * version dirs survive auto-vacuum). Default 2 = the committed
    * snapshot plus the immediately superseded one (readers may be
    * planned against it) — the original fixed horizon. Raise it with
    * `setRetention` to keep history for `readVersion` time travel. */
  def retention: Int = readMarker(s"$path/_retain").map(_.toInt).getOrElse(2)

  /** Persist the auto-vacuum horizon: every subsequent commit keeps the
    * newest `n` snapshots. `n = 1` keeps only the committed snapshot
    * (concurrent readers of a superseded one may lose files mid-scan —
    * only safe for single-reader workloads). */
  def setRetention(n: Int): Unit = {
    require(n >= 1, s"setRetention: need n >= 1, got $n")
    writeMarker(s"$path/_retain", n.toString)
  }

  /** Drop the `v<N>` dirs older than the newest `keep`. Called by every
    * commit with `keep = retention`; callable directly as
    * `vacuum(keepLast = k)` to trim history immediately. */
  private def autoVacuum(committed: Int, keep: Int = retention): Unit =
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.getName.matches("v\\d+") && f.getName.stripPrefix("v").toInt <= committed - keep)
      .foreach(rmTree)

  /** Trim snapshot history NOW to the newest `keepLast` versions (the
    * live snapshot is always retained; `keepLast` is floored at 1).
    * Unpinned only: versions newer than `current − keepLast` survive. */
  def vacuum(keepLast: Int): Unit =
    currentVersion.foreach(v => autoVacuum(v, math.max(1, keepLast)))

  /** Time travel: the collection as of snapshot version `n` (must still
    * be within the vacuum horizon). `history()` lists what is readable. */
  def readVersion(n: Int): DataFrame = {
    require(new java.io.File(s"$path/v$n").isDirectory,
      s"readVersion: $name has no snapshot v$n on disk " +
        s"(retained: ${history().map(_.version).mkString("v", ", v", "")}) — " +
        "raise setRetention before committing if you need deeper history")
    spark.read.parquet(s"$path/v$n")
  }

  /** The retained snapshot versions, oldest first: (version, isCurrent,
    * sizeBytes, lastModifiedMillis). sizeBytes is PHYSICAL and includes
    * the version's `_index/`: snapshots share untouched data, cell and
    * index files via hard links (`changeRows`), so each distinct on-disk
    * file is counted once, at the oldest snapshot that retains it —
    * per-version sizes sum to actual disk usage, and a newer snapshot's
    * size is the bytes it newly introduced. */
  def history(): Seq[SnapshotInfo] = {
    val cur = currentVersion
    val seen = scala.collection.mutable.Set[AnyRef]()
    def bytes(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).map(bytes).sum
      else {
        // hard-linked copies share a fileKey (dev,inode); a filesystem
        // that reports none falls back to per-path counting
        val key = Option(java.nio.file.Files
          .readAttributes(f.toPath, classOf[java.nio.file.attribute.BasicFileAttributes])
          .fileKey())
        if (key.exists(k => !seen.add(k))) 0L else f.length()
      }
    Option(new java.io.File(path).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .sortBy(_.getName.stripPrefix("v").toInt)
      .map { f =>
        val v = f.getName.stripPrefix("v").toInt
        SnapshotInfo(v, cur.contains(v), bytes(f), f.lastModified())
      }.toSeq
  }

  /** Delete by predicate (the Milvus client's `delete(expr)`): parquet is
    * immutable, so this is copy-on-write through `changeRows` — a flat
    * version rewrites its survivors, an indexed one only the cells that
    * hold matches, and keeps its index (the Delta/Iceberg shape minus the
    * transaction log). Returns the number of rows removed.
    */
  def delete(filter: String): Long = {
    // NULL-predicate rows are NOT matches and must survive: plain
    // !pred would drop them (three-valued logic makes NOT NULL = NULL,
    // which filter discards)
    val matches = coalesce(expr(filter), lit(false))
    val s = snapshot()
    val before = s.rows
    changeRows("delete", s, None, Some(Removal(_.filter(matches), _.filter(!matches))))
    before - snapshot().rows // fresh snapshot: the committed survivors
  }

  /** Compaction: N small append files → ceil(bytes / targetFileBytes)
    * right-sized files. Streaming ingest and per-batch inserts accrete
    * small files (the classic operational problem at scale: open-file
    * overhead and scan-task explosion); compaction is a copy-on-write
    * rewrite sized from the actual on-disk bytes. Like clusterBy and
    * zorderBy it writes the rows without an index's `cell` and commits an
    * unindexed version. Returns (filesBefore, filesAfter).
    */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val s = snapshot()
    val before = parquetFiles(new java.io.File(s.dir))
    val bytes = before.map(_.length()).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    rewriteSwap("compact") { tmp =>
      s.entities.repartition(nOut).write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    // fresh snapshot: count the files of the version just committed
    (before.size, parquetFiles(new java.io.File(snapshot().dir)).size)
  }

  /** Spark's listing rule: a `_`/`.`-prefixed child (`_index/`, a
    * marker, `_SUCCESS`, a checksum) is not data. */
  private def isData(f: java.io.File): Boolean =
    !f.getName.startsWith("_") && !f.getName.startsWith(".")

  /** Every data parquet file under `d`, partition dirs included. */
  private def parquetFiles(d: java.io.File): Seq[java.io.File] = {
    val fs = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
    fs.filter(_.isFile).filter(_.getName.endsWith(".parquet")) ++
      fs.filter(f => f.isDirectory && isData(f)).flatMap(parquetFiles)
  }

  /** Data-layout clustering: rewrite the collection range-partitioned and
    * sorted on `cols`, so every output file owns a disjoint key range and
    * parquet row-group min/max stats turn point/range filters into
    * whole-file skips (the zone-map effect; Delta/Iceberg's OPTIMIZE
    * ZORDER for the single-column case). At 100 TB this is what makes
    * `getByIds`/range scans touch O(files-with-matches) instead of every
    * file. Same copy-on-write swap as compact. Returns the file count.
    */
  def clusterBy(nFiles: Int, cols: String*): Int = {
    require(cols.nonEmpty, "clusterBy: at least one column")
    val s = snapshot()
    rewriteSwap("clusterBy") { tmp =>
      s.entities.repartitionByRange(nFiles, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    parquetFiles(new java.io.File(snapshot().dir)).size // fresh snapshot: the new version
  }

  /** Multi-dimensional layout clustering (Delta/Iceberg OPTIMIZE ZORDER):
    * `clusterBy` slices lexicographically — perfect pruning on the first
    * column, none on the rest — while z-ordering interleaves quantile-
    * bucket bits so EVERY listed column gets compact per-file ranges and
    * zone-map skipping. Use when scans filter on more than one metadata
    * column. Same copy-on-write swap; returns the file count. */
  def zorderBy(nFiles: Int, buckets: Int, cols: String*): Int = {
    val s = snapshot()
    rewriteSwap("zorderBy") { tmp =>
      graft.operators.ZOrder.layout(s.entities, nFiles, buckets, cols: _*)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    parquetFiles(new java.io.File(snapshot().dir)).size // fresh snapshot: the new version
  }

  /** S7/S8: append entity rows as one new version (Milvus's `insert`).
    * Expects id/vector/text(+metadata) columns. Schema-on-write like the
    * Milvus server (`scripts/milvus_db.py:61-68` inserts are validated
    * server-side): vectors conform to the declared FLOAT_VECTOR element
    * type so every version stays schema-consistent regardless of the
    * caller's float/double arrays. A flat version takes the batch beside
    * hard links to its files (O(batch) write IO); an indexed one gives
    * each row its cell and rewrites only the cells that gain rows
    * (`changeRows`).
    */
  def insert(rows: DataFrame): Unit = {
    val s = snapshot()
    withBatch("insert", s, rows, persist = s.ivfModel.isDefined) { (batch, fresh) =>
      changeRows("insert", s, Some(batch), None, fresh)
    }
  }

  /** Upsert by primary key (Milvus's `upsert`): incoming rows REPLACE
    * same-id rows and append otherwise — the CDC-ingestion primitive.
    * Copy-on-write through `changeRows`: survivors = old rows whose id is
    * absent from the batch (left_anti join; Spark picks broadcast vs
    * shuffle by its threshold — no forced hint, so backfill-sized batches
    * don't OOM the driver), plus the batch. The batch is persisted so its
    * plan (often an embedding computation) runs once, and the counts
    * describe exactly what was written. Batch ids must be unique (a CDC
    * reader compacts per key first). On an indexed version `ivfDrift`
    * counts the rows that entered or changed cells; past ~0.2-0.3 the
    * centroids no longer describe the data and recall silently degrades.
    * When it crosses `maxDrift`, the commit is followed by a retrain with
    * the original build parameters (`_index/ivf/_build_params`, plus
    * `_index/pq/_meta` for PQ), which resets the counter; the default
    * (infinity) leaves retraining to the caller. Returns
    * (replacedOldRows, insertedNewRows).
    */
  def upsert(rows: DataFrame, maxDrift: Double = Double.PositiveInfinity): (Long, Long) = {
    val s = snapshot()
    val counts = withBatch("upsert", s, rows, persist = true) { (batch, fresh) =>
      val nNew = batch.count()
      val batchIds = batch.select("id").distinct()
      require(batchIds.count() == nNew,
        "upsert: duplicate ids within the batch — compact the batch per key first")
      val replaced = s.df.join(batchIds, Seq("id"), "left_semi").count()
      val matched = s.df.select("id").distinct().join(batchIds, Seq("id"), "left_semi").count()
      changeRows("upsert", s, Some(batch), Some(Removal(
        _.join(batchIds, Seq("id"), "left_semi"), _.join(batchIds, Seq("id"), "left_anti"))), fresh)
      (replaced, nNew - matched)
    }
    // skip the drift probe's full count under the default policy;
    // ivfDrift reads a fresh snapshot: the version just committed
    if (maxDrift != Double.PositiveInfinity && ivfDrift > maxDrift) {
      val index = s"${snapshot().dir}/_index"
      val Array(nl, rd) = readMarker(s"$index/ivf/_build_params").get.split(" ").map(_.toInt)
      // a PQ'd collection retrains PQ too: buildIvf alone would commit a
      // version without `_index/pq`, and searchIvfPq would refuse
      readMarker(s"$index/pq/_meta").map(_.split(" ").map(_.toInt)) match {
        case Some(Array(m, pqK, _)) => buildIvfPq(nl, m, pqK, rd); ()
        case _ => buildIvf(nl, rd); ()
      }
    }
    counts
  }

  /** Runs `body` on `rows` conformed — with the `cell` of each row's
    * nearest centroid when `s` is indexed, persisted when `persist` — and
    * on whether the batch redefines the schema. While the collection is
    * empty or was never created, a batch DEFINES the schema, but only by
    * WIDENING the declared columns; after that the schema is FIXED, since a
    * mixed-schema version would read whichever footer Spark samples first.
    * `cell` belongs to the index and is never declared. */
  private def withBatch[T](op: String, s: Snapshot, rows: DataFrame, persist: Boolean)
                          (body: (DataFrame, Boolean) => T): T = {
    requireNotStreamManaged(op)
    val conformed = Collection.conformVector(rows)
    val exists = new java.io.File(s.dir).isDirectory
    lazy val empty = !exists || s.df.isEmpty
    val batchCols = conformed.schema.fieldNames.toSet
    val declared = if (exists) s.entities.schema.fieldNames.toSet else Set.empty[String]
    val fresh = batchCols != declared && empty
    if (fresh) {
      val narrows = declared -- batchCols
      require(narrows.isEmpty,
        s"$op: first batch is missing declared column(s) [${narrows.mkString(",")}] " +
          s"of $name — schema redefinition on an empty collection may only widen")
    } else require(batchCols == declared,
      s"$op: batch schema [${conformed.schema.fieldNames.mkString(",")}] does not " +
        s"match $name's declared [${s.entities.schema.fieldNames.mkString(",")}] — " +
        "conform the batch (or rebuild the collection) before appending")
    val batch = s.ivfModel.fold(conformed)(m => graft.vector.IvfKMeans
      .assignCells(conformed, "vector", m.centroidTable, scale = 1.0).drop("dist6"))
    if (persist) batch.persist()
    try body(batch, fresh) finally { if (persist) batch.unpersist(); () }
  }

  /** The one row-change body behind insert, upsert and delete: commits the
    * version `s` with the old rows `removal` selects taken out and `batch`
    * (a `withBatch` frame) added; a `fresh` batch keeps no old row.
    *   - A flat version: a removal rewrites every survivor beside the
    *     batch; without one the batch is written beside hard links to the
    *     old files (O(batch) write IO).
    *   - An indexed version keeps its index, as Milvus does: the quantizer
    *     and cell layout stay untouched and only the cells that lose or
    *     gain rows are rewritten, so write IO is O(touched cells) — the
    *     property that makes churn affordable at 100 TB. Every other cell,
    *     `_index/ivf` and `_index/pq` are hard-linked, and the rewritten
    *     cells of `_index/pqcodes` re-encode with the version's codebooks
    *     (they depend on the training distribution, not on row
    *     membership). `_ivf_drift` grows by the batch rows that did not
    *     replace a row of the same id in the same cell: new and moved ids.
    * One `_current` flip commits it all, so readers never see a
    * half-replaced cell or codes that do not describe the rows. */
  private def changeRows(op: String, s: Snapshot, batch: Option[DataFrame],
                         removal: Option[Removal], fresh: Boolean = false): Unit =
    s.ivfModel match {
      case None =>
        val survivors = removal.filter(_ => !fresh).map(_.kept(s.df))
        rewriteSwap(op) { tmp =>
          (survivors ++ batch).reduce(_ unionByName _).write.mode(SaveMode.Overwrite).parquet(tmp)
          if (removal.isEmpty && !fresh) linkCells(s.dir, tmp)
        }
      case Some(model) =>
        val gone = removal.map(_.gone(s.df).select(col("id"), col("cell").cast("long").as("cell")).persist())
        try {
          val cells = (gone ++ batch.map(_.select("id", "cell"))).reduce(_ union _)
            .select("cell").distinct().collect().map(_.getLong(0)).toSeq
          val old = s.df.filter(cellIn(s.df, cells)).withColumn("cell", col("cell").cast("long"))
          val survivors = if (fresh) None else Some(removal.fold(old)(_.kept(old)))
          val next = (survivors ++ batch).reduce(_ unionByName _)
          val drift = batch.fold(0L)(b => gone.fold(b)(b.join(_, Seq("id", "cell"), "left_anti")).count())
          val prior = readMarker(s"${s.dir}/_ivf_drift").fold(0L)(_.toLong)
          val rewritten = cells.map(c => s"cell=$c").toSet
          rewriteSwap(op) { tmp =>
            writeCells(next, tmp)(if (!fresh) linkCells(s.dir, tmp, rewritten))
            linkTree(new java.io.File(s"${s.dir}/_index/ivf"), new java.io.File(s"$tmp/_index/ivf"))
            s.pqBooks.foreach { case (_, subDim, cbs) =>
              linkTree(new java.io.File(s"${s.dir}/_index/pq"), new java.io.File(s"$tmp/_index/pq"))
              writeCells(pqEncode(residuals(next, model), cbs, subDim), s"$tmp/_index/pqcodes")(
                linkCells(s"${s.dir}/_index/pqcodes", s"$tmp/_index/pqcodes", rewritten))
            }
            writeMarker(s"$tmp/_ivf_drift", (prior + drift).toString)
          }
        } finally gone.foreach(_.unpersist())
    }

  /** Writes `rows` into `dir` hive-partitioned by cell, then `link`s the
    * untouched cells beside them. A partitioned write of no rows leaves no
    * file, and a version must keep one whose footer carries its schema, so
    * a change that empties every cell leaves a zero-row file in `cell=0`. */
  private def writeCells(rows: DataFrame, dir: String)(link: => Unit): Unit = {
    rows.write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(dir)
    link
    if (parquetFiles(new java.io.File(dir)).isEmpty)
      rows.drop("cell").limit(0).write.parquet(s"$dir/cell=0")
  }

  /** Zero-copy clone (Delta's SHALLOW CLONE): a NEW collection whose v1
    * snapshot hard-links the source's current snapshot files — O(file
    * count) metadata, zero data bytes copied or moved. The clone is
    * fully independent from the first commit on: every mutation is
    * copy-on-write into its own version dirs, the source never sees
    * them, and parquet immutability means the shared files can never be
    * modified in place by either side (vacuum unlinks, the inode
    * survives until the last reference drops). The experimentation
    * primitive at scale: branch a 100 TB collection in milliseconds,
    * try a destructive pipeline, drop the clone. The version's `_index/`
    * links along with its data, so the clone is searchable as built. */
  def shallowClone(newName: String): Collection = {
    requireNotStreamManaged("shallowClone")
    val dstRoot = s"$root/$newName"
    require(!new java.io.File(dstRoot).exists,
      s"shallowClone: collection $newName already exists")
    linkTree(new java.io.File(snapshot().dir), new java.io.File(s"$dstRoot/v1"))
    // the pointer commits through the same tmp+ATOMIC_MOVE discipline as
    // every other marker: a crash mid-write must never leave a truncated
    // _current that bricks the clone's currentVersion parse (r11 review)
    writeMarker(s"$dstRoot/_current", "v1")
    Collection.open(spark, root, newName)
  }

  /** Snapshot diff — the time-travel companion (Delta's CHANGE DATA FEED
    * shape, computed post-hoc from retained snapshots instead of logged
    * at write time): classify every primary key across two retained
    * versions as added / removed / changed. Rows compare by a
    * fingerprint over ALL columns (sorted-name json → md5 — both sides
    * computed by the same engine, so formatting is identical), and the
    * join is a single full-outer hash join of two (id, fp) projections —
    * no wide rows travel. Audit/CDC-read surface: "what did the last
    * ingestion batch actually do". */
  def diffVersions(from: Int, to: Int): DataFrame = {
    def fp(d: DataFrame): DataFrame =
      d.select(col("id"),
        md5(to_json(struct(d.columns.sorted.map(col): _*))).as("fp"))
    val a = fp(readVersion(from)).withColumnRenamed("fp", "fp_a")
    val b = fp(readVersion(to)).withColumnRenamed("fp", "fp_b")
    a.join(b, Seq("id"), "full_outer")
      .withColumn("change",
        when(col("fp_a").isNull, lit("added"))
          .when(col("fp_b").isNull, lit("removed"))
          .when(col("fp_a") =!= col("fp_b"), lit("changed"))
          .otherwise(lit("unchanged")))
      .filter(col("change") =!= "unchanged")
      .select(col("id"), col("change"))
  }

  /** Exactly-once micro-batch application for foreachBatch streams
    * (`StreamingIngest.streamingUpsert`): Structured Streaming replays a
    * batch after failure/restart (at-least-once), so the last applied
    * batch id is recorded beside the data and replays become no-ops.
    * The marker is written AFTER the upsert commit; a crash in between
    * re-applies the batch on restart — harmless, because upsert is
    * key-idempotent (same ids replace themselves) — so the observable
    * effect is exactly-once without any transaction coordinator.
    *
    * The marker records `<streamId>:<batchId>`, not a bare batch id:
    * Structured Streaming numbers batches per CHECKPOINT, so a bare
    * marker would silently discard batches 0..N of a stream restarted
    * with a fresh checkpoint (its ids restart at 0) — replay protection
    * is only meaningful within one checkpoint lineage. A marker from a
    * different stream identity, a legacy id-only marker, or an
    * unparsable marker all reset the horizon to -1 (apply, re-arm).
    * Returns true when the batch was applied, false when skipped. */
  def applyStreamBatch(batch: DataFrame, batchId: Long,
                       streamId: String = ""): Boolean = {
    val applied = readMarker(s"$path/_stream_batch").flatMap { m =>
      m.trim.split(":", 2) match {
        case Array(sid, b) if sid == streamId => b.toLongOption
        case _ => None // foreign/legacy/corrupt marker — not this lineage
      }
    }.getOrElse(-1L)
    if (batchId <= applied) false
    else {
      // a CDC micro-batch may legitimately carry several events for one
      // key in a single trigger; upsert's unique-id contract would kill
      // the stream AND wedge it (the marker is unwritten, so the same
      // batch replays on restart and throws again). Compact to one row
      // per id first — winner chosen by max all-column fingerprint:
      // arbitrary but DETERMINISTIC, which replay-idempotence requires
      // (a crash between upsert and marker re-applies the batch; a
      // partition-order-dependent winner could differ on replay and
      // break the exactly-once observable effect). Sources that care
      // which event wins must compact upstream with their own recency
      // column. (r11 review)
      val fp = md5(to_json(struct(batch.columns.sorted.map(col): _*)))
      val w = Window.partitionBy(col("id")).orderBy(col("__fp").desc)
      val compacted = batch.withColumn("__fp", fp)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__fp", "__rn")
      upsert(compacted)
      writeMarker(s"$path/_stream_batch", s"$streamId:$batchId")
      true
    }
  }

  /** Hard-link `src`'s files into `dst` (directories re-created, files
    * linked — O(metadata) not O(bytes)); copies when the filesystem
    * refuses links. Lets a new snapshot version share its predecessor's
    * untouched files and index, keeping a row change's write IO at
    * O(batch) on a flat version and O(touched cells) on an indexed one,
    * while still committing through the atomic `_current` pointer. */
  private def linkTree(src: java.io.File, dst: java.io.File): Unit = {
    if (src.isDirectory) {
      dst.mkdirs()
      Option(src.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(f => linkTree(f, new java.io.File(dst, f.getName)))
    } else {
      try java.nio.file.Files.createLink(dst.toPath, src.toPath)
      catch { case _: UnsupportedOperationException | _: java.io.IOException =>
        java.nio.file.Files.copy(src.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
      }
    }
  }

  /** Hard-link `src`'s data children (`isData`) other than `except` into
    * `dst`, beside what was just written there: `_index/`, `_ivf_drift`
    * and `_SUCCESS` never carry. */
  private def linkCells(src: String, dst: String, except: Set[String] = Set.empty): Unit =
    Option(new java.io.File(src).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => isData(f) && !except(f.getName))
      .foreach(f => linkTree(f, new java.io.File(dst, f.getName)))

  /** Fraction of the collection that entered or changed cells since the
    * last buildIvf — the retrain signal of `upsert`'s `maxDrift`. */
  def ivfDrift: Double = {
    val s = snapshot()
    val drifted = readMarker(s"${s.dir}/_ivf_drift").map(_.toLong).getOrElse(0L)
    if (s.rows == 0) 0.0 else drifted.toDouble / s.rows
  }

  /** Trained IVF index build (reference S11: IVF_FLAT with nlist k-means
    * centroids, `src/archive/chunking_strategy_docker.py:161-171`): runs
    * Lloyd's over the stored vectors and commits ONE new version holding
    * the collection rewritten hive-partitioned by the learned cell plus
    * the coarse quantizer and its build parameters in `_index/ivf` (an
    * `_`-prefixed dir, so scans never see it). Returns the trained model.
    * NOTE: like every rewrite, this drops any previous partition layout
    * and index.
    */
  def buildIvf(nlist: Int, rounds: Int = 3): graft.vector.IvfKMeans.Model =
    buildIndex("buildIvf", nlist, rounds, pq = None)

  /** IVF_PQ index build — the composition FAISS defaults to ("IVFADC",
    * Jégou et al. TPAMI 2011 §V.B) and Milvus ships as its scale index:
    * the `buildIvf` commit, plus M subspace codebooks trained over the
    * RESIDUALS v − centroid(cell) (FAISS by_residual=true; residuals
    * concentrate around 0 so the codebooks spend their k codes on the
    * within-cell detail) in `_index/pq`, and every row's M codes in
    * `_index/pqcodes`, partitioned by the same cell key — all in the same
    * version, so `searchIvfPq` never sees codes that do not describe its
    * rows. The M trainings share one collect of at most 256 × pqK
    * residuals and run on the driver, like buildIvf's. At scale: codes
    * are M small ints per row (~M bytes once dictionary-encoded) vs dim
    * floats — a 16× scan-set compression.
    */
  def buildIvfPq(nlist: Int, m: Int = 4, pqK: Int = 16,
                 rounds: Int = 3, pqRounds: Int = 2): graft.vector.IvfKMeans.Model =
    buildIndex("buildIvfPq", nlist, rounds, pq = Some((m, pqK, pqRounds)))

  /** The buildIvf/buildIvfPq body: one commit carrying the cell-partitioned
    * data, `_index/ivf` and, for `pq` = (m, pqK, pqRounds), `_index/pq`
    * and `_index/pqcodes`. */
  private def buildIndex(op: String, nlist: Int, rounds: Int,
                         pq: Option[(Int, Int, Int)]): graft.vector.IvfKMeans.Model = {
    import spark.implicits._
    val s = snapshot()
    val model = graft.vector.IvfKMeans.train(s.df, "id", "vector", nlist, rounds)
    val dim = model.centroids.headOption.map(_.length).getOrElse(0)
    pq.foreach { case (m, _, _) =>
      require(dim > 0 && dim % m == 0, s"$op: dim $dim not divisible by m=$m")
    }
    val assigned = graft.vector.IvfKMeans.assignCells(
        Collection.conformVector(s.df), "vector", model.centroidTable, scale = 1.0)
      .drop("dist6") // assignCells names the partition column "cell"
    rewriteSwap(op) { tmp =>
      // the data first: its Overwrite clears whatever `tmp` held
      writeCells(assigned, tmp)(())
      model.save(spark, s"$tmp/_index/ivf")
      // build params ride with the model so upsert's auto-retrain
      // (maxDrift) can rebuild with the same configuration
      writeMarker(s"$tmp/_index/ivf/_build_params", s"$nlist $rounds")
      pq.foreach { case (m, pqK, pqRounds) =>
        val subDim = dim / m
        // the training collect and the encode each read every residual
        // row (the sample is a top-B over all of them): persisted, the
        // corpus assignment behind the residuals runs once, not twice
        val resid = residuals(assigned, model).persist()
        try {
          // codes re-keyed to dense 0..k-1 (the trainer keys by seed id)
          val cbs = graft.vector.IvfKMeans.trainSubspaces(resid, "id", "__r", m, subDim, pqK, pqRounds)
            .map(_.zipWithIndex.map { case ((_, v), j) => (j.toLong, v) })
          writeCells(pqEncode(resid, cbs, subDim), s"$tmp/_index/pqcodes")(())
          cbs.zipWithIndex.flatMap { case (cb, sub) => cb.map { case (code, v) => (sub, code, v) } }
            .toDF("sub", "code", "cv").coalesce(1)
            .write.mode(SaveMode.Overwrite).parquet(s"$tmp/_index/pq")
          writeMarker(s"$tmp/_index/pq/_meta", s"$m $pqK $subDim")
        } finally { resid.unpersist(); () }
      }
    }
    model
  }

  /** The coarse centroid table as a (cell BIGINT, __cv) frame, for
    * broadcast joins against cell-assigned rows. */
  private def centroidFrame(model: graft.vector.IvfKMeans.Model): DataFrame = {
    import spark.implicits._
    model.centroidTable.toDF("cell", "__cv")
  }

  /** The PQ training/encoding frame: each row's residual v − centroid(cell).
    * `rows` needs (id, cell, vector); emits (id, cell BIGINT, __r). */
  private def residuals(rows: DataFrame, model: graft.vector.IvfKMeans.Model): DataFrame =
    rows.select(col("id"), col("cell").cast("long").as("cell"), col("vector"))
      .join(broadcast(centroidFrame(model)), Seq("cell"))
      .withColumn("__r", zip_with(col("vector").cast("array<double>"), col("__cv"),
        (x, y) => x - y))
      .select(col("id"), col("cell"), col("__r"))

  /** PQ-encode residuals against EXISTING codebooks (each subspace slice
    * takes the argmin over its codebook). `resid` is a `residuals` frame;
    * emits (id, cell, codes). Shared by buildIvfPq (all rows) and
    * changeRows (the rewritten cells only). */
  private def pqEncode(resid: DataFrame, cbs: Seq[Seq[(Long, Seq[Double])]],
                       subDim: Int): DataFrame =
    graft.vector.IvfKMeans.encodeSubspaces(resid, "__r", cbs, subDim)
      .select(col("id"), col("cell"),
        array(cbs.indices.map(i => col(s"code$i").cast("int")): _*).as("codes"))

  /** ANN search over a buildIvfPq'd collection: probe the nprobe nearest
    * cells (coarse centroids, driver-side — tiny by construction), build
    * the per-cell ADC distance tables there (nprobe × M × k doubles:
    * residual query vs each codebook entry), then scan ONLY the probed
    * cells of the version's `_index/pqcodes` — directory-pruned like
    * searchIvf, but reading M-byte codes instead of full vectors — and
    * score each row by M table lookups summed in fixed subspace order.
    * Plans as scan → project → TakeOrdered: no shuffle, no vector reads.
    * Returns (id, cell, adist) with adist = approximate squared L2
    * distance, ascending.
    */
  def searchIvfPq(queryVec: Array[Double], k: Int = 5, nprobe: Int = 2,
                  rerank: Int = 0): DataFrame = {
    val s = snapshot()
    val model = s.ivf("searchIvfPq")
    val (pqK, subDim, cbs) = s.pq("searchIvfPq")
    val m = cbs.length
    require(queryVec.length == m * subDim,
      s"searchIvfPq: query dim ${queryVec.length} != ${m * subDim}")
    val cbByCode = cbs.map(_.toMap)
    val cells = model.probe(queryVec, nprobe)
    val centByCell = model.centroidTable.toMap
    // per probed cell: flatten the M×k table as [sub*k + code] → distance
    val tables: Map[Long, Seq[Double]] = cells.map { c =>
      val cent = centByCell(c)
      val rq = Array.tabulate(queryVec.length)(i => queryVec(i) - cent(i))
      c -> (for (sub <- 0 until m; code <- 0 until pqK) yield {
        // a codebook can legitimately carry FEWER than pqK entries
        // (trainCents drops emptied clusters on degenerate subspaces);
        // codes never reference the absent slots, so the distance is
        // unreachable — fill +Inf rather than crash (r11 review)
        cbByCode(sub).get(code.toLong) match {
          case None => Double.PositiveInfinity
          case Some(cv) =>
            var d = 0.0; var i = 0
            while (i < subDim) { val t = rq(sub * subDim + i) - cv(i); d += t * t; i += 1 }
            d
        }
      })
    }.toMap
    val codes = s.pqCodes
    val tbl = element_at(typedLit(tables), col("cell").cast("long"))
    val adist = (0 until m).map(sub =>
        element_at(col("__tbl"), lit(sub * pqK + 1) + element_at(col("codes"), sub + 1)))
      .reduce(_ + _)
    val adcTop = codes.filter(cellIn(codes, cells))
      .withColumn("__tbl", tbl)
      .withColumn("adist", adist)
      .select(col("id"), col("cell").cast("long").as("cell"), col("adist"))
      .orderBy(col("adist").asc, col("id").asc)
      .limit(math.max(k, rerank))
    if (rerank <= 0) adcTop
    else {
      // FAISS-style refinement (IndexRefineFlat): the ADC scan overfetches
      // `rerank` candidates from the compressed domain, then ONLY those
      // ids re-score against true vectors — a directory-pruned point
      // lookup of ≤ rerank rows, so the exact pass costs O(rerank·dim)
      // regardless of collection size. adist on the result is the EXACT
      // squared L2, not the table approximation.
      val cand = adcTop.select(col("id"), col("cell")).collect()
      val ids = cand.map(_.getLong(0))
      val cellVals = cand.map(_.getLong(1)).distinct
      s.df.filter(cellIn(s.df, cellVals.toSeq) && col("id").isin(ids: _*))
        .withColumn("adist", VectorKernels.sqDistFast(col("vector"), lit(queryVec)))
        .select(col("id"), col("cell").cast("long").as("cell"), col("adist"))
        .orderBy(col("adist").asc, col("id").asc)
        .limit(k)
    }
  }

  /** ONE owner for the typed cell-membership predicate over `rows`: the
    * hive-inferred partition column may surface as INT, BIGINT, or STRING
    * depending on layout history, and a cast on the COLUMN side would
    * defeat partition pruning — so the literal side always adopts the
    * column's type. Shared by every pruned path (changeRows, searchIvf,
    * searchIvfPq and its rerank). */
  private def cellIn(rows: DataFrame, cells: Seq[Long]): Column =
    rows.schema("cell").dataType match {
      case IntegerType => col("cell").isin(cells.map(_.toInt): _*)
      case LongType    => col("cell").isin(cells: _*)
      case _           => col("cell").isin(cells.map(_.toString): _*)
    }

  /** ANN search over a buildIvf'd collection: the query probes only the
    * nprobe nearest cells (centroid table read from `_index/ivf`, argmin on
    * the driver — it is tiny by construction), and the cell predicate
    * becomes a PartitionFilter: it prunes at the DIRECTORY level, not per
    * row. Scan cost shrinks by ~nprobe/nlist — the IVF contract.
    */
  def searchIvf(queryVec: Array[Double], k: Int = 5, nprobe: Int = 2): DataFrame = {
    val s = snapshot()
    topK(s.df.filter(cellIn(s.df, s.ivf("searchIvf").probe(queryVec, nprobe))), queryVec, k)
  }

  /** Batch IVF search: many query vectors in ONE plan (the q73 shape).
    * The centroid table broadcasts; each query ranks its nprobe nearest
    * cells in-plan (`IvfKMeans.probeCells`, the same cell order as
    * `Model.probe`); candidates come from joining the cell-partitioned
    * collection on the probed cells — at scale a hash join on the cell
    * key, never a full cross product; scoring touches ~nprobe/nlist of
    * the rows. `queries` needs (qid BIGINT, qv ARRAY<DOUBLE>).
    */
  def searchIvfBatch(queries: DataFrame, k: Int = 5, nprobe: Int = 2): DataFrame = {
    val s = snapshot()
    val model = s.ivf("searchIvfBatch")
    val probed = graft.vector.IvfKMeans.probeCells(queries, "qv", model.centroidTable, 1.0, nprobe)
      .select(col("qid"), col("qv"), col("cell"))
    rankPerQuery(probed.join(s.df, Seq("cell")), k)
  }

  /** S6: describe — entityCount, dimension, metric. The dimension reports
    * 0 until the first insert defines it. Both are counted once per
    * committed version: a repeated call on an unchanged collection runs
    * no Spark job. */
  def describe(): CollectionInfo = {
    val s = snapshot()
    CollectionInfo(name, s.rows, s.dim, metric)
  }

  /** S9: full scan (pagination dropped by design). */
  def getAll(outputFields: Seq[String] = Nil): DataFrame = {
    val d = snapshot().df
    if (outputFields.isEmpty) d else d.select(outputFields.map(col): _*)
  }

  /** P4/J1: point lookup by primary keys (broadcast semi-join shape). */
  def getByIds(ids: Seq[Long]): DataFrame =
    snapshot().df.filter(col("id").isin(ids: _*))

  /** P1-P3: filter expression + projection + limit, like
    * `query_entities(name, filter, outputFields, limit)`
    * (`scripts/milvus_db.py:51-59`). The filter string hits Catalyst's
    * parser — same `field == value && ...` surface Milvus accepts.
    */
  def query(filter: String = "", outputFields: Seq[String] = Nil, limit: Int = 100): DataFrame = {
    var d = snapshot().df
    if (filter.nonEmpty) d = d.filter(expr(filter))
    if (outputFields.nonEmpty && outputFields != Seq("*")) d = d.select(outputFields.map(col): _*)
    d.limit(limit)
  }

  /** T1: cosine top-k for one query vector. Plans as a single scan +
    * TakeOrderedAndProject — no shuffle, no index required. The reference
    * hard-codes k=1 (`scripts/milvus_db.py:112`) against its own default
    * of 5; we honor the parameter (strict-compat callers pass 1).
    */
  def search(queryVec: Array[Double], k: Int = 5): DataFrame = topK(snapshot().df, queryVec, k)

  /** Batch search: one plan for many query vectors (queries broadcast,
    * rank window per query) — the vectorized form of looping `search`.
    */
  def searchBatch(queries: DataFrame, k: Int = 5): DataFrame =
    rankPerQuery(snapshot().df.join(broadcast(queries), lit(true)), k)

  /** The single-query tail: cosine score, (score desc, id asc), limit k —
    * plans as TakeOrderedAndProject, no shuffle. */
  private def topK(rows: DataFrame, queryVec: Array[Double], k: Int): DataFrame =
    rows.withColumn("score", VectorKernels.cosineFast(col("vector"), lit(queryVec).cast("array<double>")))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)

  /** The batch tail over (query, row) pairs carrying `qid`/`qv`: cosine
    * score and a per-query rank window keeping the top k. */
  private def rankPerQuery(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id").asc)
    pairs.withColumn("score", VectorKernels.cosineFast(col("vector"), col("qv")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .drop("qv")
  }
}

object Collection {
  /** Which old rows a row change removes (`gone`) and which it keeps
    * (`kept`): complementary selections over one version's rows. */
  private final case class Removal(gone: DataFrame => DataFrame, kept: DataFrame => DataFrame)

  /** Schema-on-write vector conformance shared by every ingest path
    * (batch insert, partitioned insert, streaming sink) — ONE owner, so
    * the collection's on-disk element type can't drift between paths.
    */
  def conformVector(rows: DataFrame): DataFrame =
    rows.withColumn("vector",
      col("vector").cast(ArrayType(FloatType, containsNull = true)))

  /** Minimal active schema (`scripts/prepare_data.py:79-90`): id, vector, text. */
  def entitySchema(dim: Int): StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType, containsNull = true), nullable = false),
    StructField("text", StringType, nullable = true)))

  /** S5: create (drop-then-create when overwrite, mirroring
    * `chunking_strategy_docker.py:131-146`): a new collection commits the
    * zero-row `entitySchema` seed as `v1`, an existing one is left alone.
    * Overwrite drops the old collection dir, every version and index
    * inside it — a recreated collection never probes a dead quantizer.
    * The declared metric persists in a `_metric` marker so `open` in
    * another process reports the truth, not a hard-coded default. */
  def create(spark: SparkSession, root: String, name: String,
             dim: Int, metric: String = "COSINE", overwrite: Boolean = false): Collection = {
    if (overwrite) drop(root, name)
    val c = new Collection(spark, root, name, metric)
    if (!new java.io.File(s"$root/$name").exists) {
      val seed = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], entitySchema(dim))
      c.rewriteSwap("create")(tmp => seed.write.parquet(tmp))
    }
    val marker = s"$root/$name/_metric"
    if (!new java.io.File(marker).exists) writeMarker(marker, metric)
    c
  }

  def open(spark: SparkSession, root: String, name: String): Collection = {
    val metric = try readMarker(s"$root/$name/_metric").getOrElse("COSINE")
      catch { case _: java.io.IOException => "COSINE" }
    new Collection(spark, root, name, metric)
  }

  /** S6: list collections under a root. */
  def list(spark: SparkSession, root: String): Seq[String] = {
    val dir = new java.io.File(root)
    if (!dir.exists) Nil
    else dir.listFiles.filter(_.isDirectory).map(_.getName).sorted.toSeq
  }

  /** Removes the collection: its dir holds every version and index. */
  def drop(root: String, name: String): Unit = rmTree(new java.io.File(s"$root/$name"))

  /** Marker commit = tmp + ATOMIC_MOVE — the one way every marker and
    * the `_current` pointer are written: a crash mid-write can never
    * leave a truncated/empty marker (which readers would then fail to
    * parse forever), and because every write lands on a NEW inode,
    * markers hard-link-shared with a shallow clone are never truncated
    * through the shared inode — each side's writes stay its own. */
  private def writeMarker(file: String, content: String): Unit = {
    val tmp = java.nio.file.Paths.get(file + ".__tmp")
    java.nio.file.Files.write(tmp,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(file),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private def readMarker(file: String): Option[String] = {
    val p = java.nio.file.Paths.get(file)
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8).trim)
    else None
  }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmTree)
    f.delete(); ()
  }
}
