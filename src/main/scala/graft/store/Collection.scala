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
  *     batch_size=100) is what partitioned Parquet writes already do;
  *   - the quadratic re-insert bug (`scripts/prepare_data.py:79-95`,
  *     growing list re-inserted every loop) is intentionally NOT
  *     reproduced — each row is written once.
  *
  * Scale design: data lives partitioned by a caller-chosen bucket column
  * (e.g. IVF centroid id or date); `search` is a scan + TakeOrdered (no
  * shuffle of the collection); `getByIds` is an IN-filter pushed to
  * parquet. On a cluster the same layout bucket-prunes.
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
  import Collection.{readMarker, rmTree, writeMarker}

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
    * A collection with no pointer reads the root dir itself — the legacy
    * layout that `create`, plain `insert` and the streaming sink produce.
    */
  private def currentVersion: Option[Int] =
    readMarker(s"$path/_current").map(_.stripPrefix("v").trim.toInt)

  /** The live data directory — root (legacy) or the committed `v<N>`. */
  def dataDir: String = currentVersion.map(v => s"$path/v$v").getOrElse(path)

  def df: DataFrame = spark.read.parquet(dataDir)

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
    * never neither. NOTE: rewrites do not preserve an insertPartitioned
    * hive layout — re-partition afterwards if the collection was
    * cell-partitioned (buildIvf's own rewrite of course does).
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
      // (crash between rename and pointer flip — garbage, cleared below)
      // OR the COMMITTED snapshot of a concurrent writer that read the
      // same base version and won the race. Deleting the latter is
      // catastrophic: `_current` already resolves to it, so readers race
      // a missing directory and a failed re-install bricks the
      // collection. Collections are SINGLE-WRITER by contract — the
      // pointer re-read turns a violated contract into a loud error
      // instead of a silently destroyed commit (r12 review).
      if (currentVersion.exists(_ >= next))
        throw new IllegalStateException(
          s"$op: concurrent writer detected — v$next was committed after " +
            "this rewrite read its base version. Collections are " +
            "single-writer: serialize mutations, or re-open and retry.")
      rmTree(nextDir) // now provably a dead JVM's uncommitted install
      // Install via Files.move WITHOUT replace-existing: if a concurrent
      // writer installed v<next> between the orphan sweep above and this
      // rename, the move throws instead of clobbering — shrinking the
      // check-then-act window from [pointer re-read .. rename] to the
      // rename itself (r12-advice; full closure needs a lock the
      // single-writer contract doesn't require).
      // Best-effort loud pre-check (r14-advice): ATOMIC_MOVE maps to
      // rename(2), which on Linux silently REPLACES an existing EMPTY
      // target directory — the one slice of the writer-race window the
      // evidence-based catch below can never see (the move SUCCEEDS, so
      // there is no exception to classify). A v<next> that reappeared
      // since the orphan sweep above is a concurrent writer's install in
      // progress; refuse before the rename can clobber it. Non-empty
      // targets still fail inside the move and classify there — this
      // check only restores the loud detection the old non-atomic path
      // had for the empty-target case.
      if (nextDir.exists())
        throw new IllegalStateException(
          s"$op: concurrent writer detected — v$next appeared between " +
            "the orphan sweep and install. Collections are " +
            "single-writer: serialize mutations, or re-open and retry.")
      // ATOMIC_MOVE (r13-advice): without it, Files.move silently falls
      // back to copy+delete if tmp and the version dir ever land on
      // different stores, and that fallback's DirectoryNotEmptyException
      // would masquerade as a writer race below. The commit protocol
      // RELIES on rename atomicity — make a cross-store layout fail
      // loudly as AtomicMoveNotSupportedException instead.
      try java.nio.file.Files.move(
        java.nio.file.Paths.get(tmp), nextDir.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // order matters: AtomicMoveNotSupported FIRST (it subclasses
        // FileSystemException). The atomic branch calls rename(2)
        // directly, and Linux reports dir-over-nonempty-dir as ENOTEMPTY,
        // which the JDK surfaces as a GENERIC FileSystemException — not
        // the FileAlreadyExists/DirectoryNotEmpty the pre-check-based
        // non-atomic path threw (r14 review). So classify by EVIDENCE:
        // any rename failure with v<next> now existing is the writer
        // race; anything else (tmp vanished, EIO) rethrows unclassified.
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

  /** Drop snapshots older than the newest `keep`, including the legacy
    * root-file layout once `keep` newer versions exist. Called by every
    * commit with `keep = retention`; callable directly as
    * `vacuum(keepLast = k)` to trim history immediately. */
  private def autoVacuum(committed: Int, keep: Int = retention): Unit = {
    val dir = new java.io.File(path)
    Option(dir.listFiles()).getOrElse(Array.empty[java.io.File]).foreach { f =>
      val n = f.getName
      if (n.matches("v\\d+") && n.stripPrefix("v").toInt <= committed - keep) rmTree(f)
      // legacy v0 = loose files/cell dirs at the root: clear once `keep`
      // real versions supersede it
      else if (committed >= keep && !n.matches("v\\d+") &&
        !n.startsWith("_") && !n.startsWith(".")) rmTree(f)
    }
  }

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
    * sizeBytes, lastModifiedMillis). sizeBytes is PHYSICAL: snapshots
    * share untouched cell files via hard links (upsertIvf), so each
    * distinct on-disk file is counted once, at the oldest snapshot that
    * retains it — per-version sizes sum to actual disk usage, and a
    * newer snapshot's size is the bytes it newly introduced. */
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
    * immutable, so this is copy-on-write — survivors rewrite to a fresh
    * directory which then replaces the old one (the Delta/Iceberg shape
    * minus the transaction log; at cluster scale the rewrite touches only
    * partitions containing matches when the predicate prunes). Returns
    * the number of rows removed.
    */
  def delete(filter: String): Long = {
    val pred = expr(filter)
    val before = df.count()
    // NULL-predicate rows are NOT matches and must survive: plain
    // !pred would drop them (three-valued logic makes NOT NULL = NULL,
    // which filter discards)
    rewriteSwap("delete") { tmp =>
      df.filter(!coalesce(pred, lit(false))).write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    before - df.count()
  }

  /** Compaction: N small append files → ceil(bytes / targetFileBytes)
    * right-sized files. Streaming ingest and per-batch inserts accrete
    * small files (the classic operational problem at scale: open-file
    * overhead and scan-task explosion); compaction is the same
    * copy-on-write swap as delete, sized from the actual on-disk bytes.
    * Returns (filesBefore, filesAfter).
    */
  def compact(targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    def parquetFiles(d: java.io.File): Seq[java.io.File] = {
      val fs = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      fs.filter(_.isFile).filter(_.getName.endsWith(".parquet")) ++
        fs.filter(_.isDirectory).flatMap(parquetFiles)
    }
    val before = parquetFiles(new java.io.File(dataDir))
    val bytes = before.map(_.length()).sum
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    rewriteSwap("compact") { tmp =>
      df.repartition(nOut).write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    (before.size, parquetFiles(new java.io.File(dataDir)).size)
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
    rewriteSwap("clusterBy") { tmp =>
      df.repartitionByRange(nFiles, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    Option(new java.io.File(dataDir).listFiles()).map(_.count(f =>
      f.isFile && f.getName.endsWith(".parquet"))).getOrElse(0)
  }

  /** Multi-dimensional layout clustering (Delta/Iceberg OPTIMIZE ZORDER):
    * `clusterBy` slices lexicographically — perfect pruning on the first
    * column, none on the rest — while z-ordering interleaves quantile-
    * bucket bits so EVERY listed column gets compact per-file ranges and
    * zone-map skipping. Use when scans filter on more than one metadata
    * column. Same copy-on-write swap; returns the file count. */
  def zorderBy(nFiles: Int, buckets: Int, cols: String*): Int = {
    rewriteSwap("zorderBy") { tmp =>
      graft.operators.ZOrder.layout(df, nFiles, buckets, cols: _*)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    }
    Option(new java.io.File(dataDir).listFiles()).map(_.count(f =>
      f.isFile && f.getName.endsWith(".parquet"))).getOrElse(0)
  }

  /** S7/S8: append entity rows. Expects id/vector/text(+metadata) columns.
    * Schema-on-write like the Milvus server (`scripts/milvus_db.py:61-68`
    * inserts are validated server-side): vectors conform to the declared
    * FLOAT_VECTOR element type so the parquet directory stays
    * schema-consistent regardless of the caller's float/double arrays.
    */
  def insert(rows: DataFrame): Unit = {
    requireNotStreamManaged("insert")
    val conformed = Collection.conformVector(rows)
    // schema-on-first-insert: `create` seeds a zero-row file with the
    // canonical (id, vector, text) schema; if the first real batch
    // carries metadata columns, appending would leave a mixed-schema
    // directory where reads surface whichever footer is sampled first.
    // While the collection is still empty, the batch DEFINES the schema —
    // but only by WIDENING the declared column set (a narrower batch
    // would silently drop declared columns), and through rewriteSwap
    // (a direct Overwrite of a legacy-layout root would delete the
    // `_retain`/`_stream_batch` markers living beside the data, and a
    // concurrent reader could catch the directory half-written).
    val batchCols = conformed.schema.fieldNames.toSet
    val declared = df.schema.fieldNames.toSet
    if (batchCols != declared && df.isEmpty) {
      val narrows = declared -- batchCols
      require(narrows.isEmpty,
        s"insert: first batch is missing declared column(s) [${narrows.mkString(",")}] " +
          s"of $name — schema redefinition on an empty collection may only widen")
      rewriteSwap("insert") { tmp =>
        conformed.write.mode(SaveMode.Overwrite).parquet(tmp)
      }
    } else {
      // once the collection is non-empty its schema is FIXED: appending a
      // batch with different columns would create the mixed-schema
      // directory the comment above warns about (reads then surface
      // whichever footer Spark samples) — refuse loudly (r11 review)
      require(batchCols == declared,
        s"insert: batch schema [${conformed.schema.fieldNames.mkString(",")}] does not " +
          s"match $name's declared [${df.schema.fieldNames.mkString(",")}] — " +
          "conform the batch (or rebuild the collection) before appending")
      conformed.write.mode(SaveMode.Append).parquet(dataDir)
    }
  }

  /** Upsert by primary key (Milvus's `upsert`): incoming rows REPLACE
    * same-id rows and append otherwise — the CDC-ingestion primitive.
    * Copy-on-write like delete: survivors = old rows whose id is absent
    * from the batch (left_anti join; Spark picks broadcast vs shuffle by
    * its threshold — no forced hint, so backfill-sized batches don't
    * OOM the driver), then union the conformed new rows. The batch is
    * persisted so its plan (often an embedding computation) runs once,
    * and the counts describe exactly what was written. Batch ids must be
    * unique (a CDC reader compacts per key first); a collection whose
    * layout carries extra columns (cell-partitioned) refuses with a
    * rebuild hint rather than failing inside the union. Returns
    * (replacedOldRows, insertedNewRows).
    */
  def upsert(rows: DataFrame): (Long, Long) = {
    val newRows = Collection.conformVector(rows).persist()
    try {
      val extra = df.columns.toSet -- newRows.columns.toSet
      require(extra.isEmpty,
        s"upsert: collection carries columns [${extra.mkString(",")}] absent from the " +
          "batch — upsert a cell-partitioned layout with upsertIvf (or rebuild via buildIvf)")
      val nNew = newRows.count()
      val batchIds = newRows.select("id").distinct()
      require(batchIds.count() == nNew,
        "upsert: duplicate ids within the batch — compact the batch per key first")
      val replaced = df.join(batchIds, Seq("id"), "left_semi").count()
      val matched = df.select("id").distinct().join(batchIds, Seq("id"), "left_semi").count()
      rewriteSwap("upsert") { tmp =>
        df.join(batchIds, Seq("id"), "left_anti")
          .unionByName(newRows)
          .write.mode(SaveMode.Overwrite).parquet(tmp)
      }
      (replaced, nNew - matched)
    } finally { newRows.unpersist(); () }
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
    * try a destructive pipeline, drop the clone. */
  def shallowClone(newName: String): Collection = {
    requireNotStreamManaged("shallowClone")
    val dstRoot = s"$root/$newName"
    require(!new java.io.File(dstRoot).exists,
      s"shallowClone: collection $newName already exists")
    linkTree(new java.io.File(dataDir), new java.io.File(s"$dstRoot/v1"))
    // index sidecars clone too: the v1 data carries `_ivf_build` stamps,
    // so a clone WITHOUT the matching `.__ivf`/`.__pq`/`.__pqcodes` dirs
    // would refuse searchIvf with a misleading "interrupted build" error.
    // Hard links are safe here like the data files: parquet is immutable
    // and marker writes always commit onto a NEW inode (writeMarker's
    // tmp+atomic-move), so neither side can mutate the other's files.
    for (side <- Seq(".__ivf", ".__pq", ".__pqcodes")) {
      val src = new java.io.File(path + side)
      if (src.isDirectory)
        linkTree(src, new java.io.File(dstRoot + side))
    }
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
    * refuses links. Lets a new snapshot version share untouched cell
    * data with its predecessor, keeping upsertIvf's write IO at
    * O(touched cells) while still committing through the atomic
    * `_current` pointer like every other rewrite. */
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

  /** Build `dst` as `src` with its `affected` cells replaced by `stage`'s:
    * untouched `cell=` dirs ride along as hard links (no data rewrite),
    * rewritten ones move in from the stage. A cell ALL of whose rows were
    * removed has no stage partition and simply does not exist in `dst` —
    * no stale-dir cleanup race. Keeps upsertIvf and its PQ-codes twin at
    * O(touched cells) write IO. */
  private def mergeCells(src: String, stage: String, dst: String,
                         affected: Seq[Long]): Unit = {
    val dstDir = new java.io.File(dst); dstDir.mkdirs()
    val affectedNames = affected.map(c => s"cell=$c").toSet
    def cellDirs(d: String): Array[java.io.File] =
      Option(new java.io.File(d).listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
    cellDirs(src).filterNot(f => affectedNames(f.getName))
      .foreach(f => linkTree(f, new java.io.File(dstDir, f.getName)))
    cellDirs(stage).foreach(f =>
      require(f.renameTo(new java.io.File(dstDir, f.getName)),
        s"$name: could not install ${f.getName}"))
  }

  /** Install a fully staged index sidecar over `live`: move the old dir
    * aside, rename the staged dir in, then delete the aside copy — the
    * order with the shortest window without a live dir. A dead JVM's
    * aside dir is cleared first; callers stamp the staged dir with the
    * build id before installing it. */
  private def installDir(staged: String, live: String): Unit = {
    val liveF = new java.io.File(live)
    val aside = new java.io.File(s"$live.__old")
    rmTree(aside)
    require((!liveF.exists || liveF.renameTo(aside)) &&
        new java.io.File(staged).renameTo(liveF),
      s"$name: could not install $live")
    rmTree(aside)
  }

  /** Incremental IVF maintenance (Milvus's actual behavior for inserts
    * into an IVF collection): batch rows are assigned to the nearest
    * EXISTING centroid — no retrain, quantizer and cell layout untouched
    * — and only the AFFECTED cell partitions rewrite (replaced ids
    * removed, new assignments added). Partition pruning bounds IO at
    * O(touched cells), not O(collection) — the property that makes churn
    * affordable at 100 TB. Commits ATOMICALLY like every other rewrite
    * (ADVICE r4: the previous dynamic-partition overwrite + stale-cell
    * cleanup mutated the live snapshot in place, so a crash between the
    * two steps could leave a moved id duplicated in its old cell): the
    * next version dir hard-links every untouched cell and takes the
    * rewritten cells from the stage, then the `_current` pointer flips —
    * readers see the old snapshot or the new one, never a half-replaced
    * cell, and the write IO stays O(touched cells). Returns
    * (replacedIds, insertedIds, movedIds):
    * `moved` counts replaced ids whose updated vector landed in a
    * different cell — per-call reassignment drift. The cumulative
    * drifted-row count persists in `_ivf_drift`; when `ivfDrift` grows
    * past ~0.2-0.3 the centroids no longer describe the data and recall
    * silently degrades. `maxDrift` makes that policy self-enforcing:
    * when the cumulative drift fraction crosses it, the commit is
    * followed by an automatic `buildIvf` retrain with the original build
    * parameters (persisted in the model dir), which re-learns centroids
    * and resets the counter — repeated ingestion can't silently degrade
    * recall. The default (infinity) keeps retraining caller-driven.
    */
  def upsertIvf(rows: DataFrame,
                maxDrift: Double = Double.PositiveInfinity): (Long, Long, Long) = {
    requireNotStreamManaged("upsertIvf")
    require(df.columns.contains("cell"),
      s"upsertIvf: $name is not cell-partitioned — buildIvf first")
    val model = loadIvfModel()
    val batch = graft.vector.IvfKMeans
      .assignCells(Collection.conformVector(rows), "vector", model.centroidTable, scale = 1.0)
      .drop("dist6").persist()
    try {
      val nNew = batch.count()
      val batchIds = batch.select("id").distinct()
      require(batchIds.count() == nNew,
        "upsertIvf: duplicate ids within the batch — compact the batch per key first")
      val oldMatched = df.join(batchIds, Seq("id"), "left_semi")
        .select(col("id"), col("cell").cast("long").as("old_cell")).persist()
      val replaced = oldMatched.count()
      val matched = oldMatched.select("id").distinct().count()
      val moved = oldMatched
        .join(batch.select(col("id"), col("cell")), Seq("id"))
        .filter(col("old_cell") =!= col("cell")).select("id").distinct().count()
      val affected: Seq[Long] = oldMatched.select(col("old_cell").as("c"))
        .union(batch.select(col("cell").as("c")))
        .distinct().collect().map(_.getLong(0)).toSeq
      oldMatched.unpersist()
      // partition-pruning predicate typed to the INFERRED partition column
      val cellIn: Column = cellPredicate(df.schema("cell").dataType, "cell", affected)
      // survivors of the affected cells + the whole batch; staged to a
      // sibling dir because Spark (correctly) refuses a write that reads
      // from its own destination
      val content = df.filter(cellIn)
        .withColumn("cell", col("cell").cast("long"))
        .join(batchIds, Seq("id"), "left_anti")
        .unionByName(batch)
      val stage = s"$path.__upsert"
      rmTree(new java.io.File(stage))
      val src = dataDir // capture: dataDir advances at the pointer flip
      val prior = readMarker(s"$src/_ivf_drift").map(_.toLong).getOrElse(0L)
      val pqStampPath = s"$path.__pq/_build_id"
      val pqStamp = readMarker(pqStampPath)
      try {
        content.write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(stage)
        // pessimistic PQ invalidation BEFORE the data commit: if anything
        // between here and the end of code maintenance crashes,
        // searchIvfPq refuses loudly instead of serving codes that no
        // longer describe the rows
        if (pqStamp.isDefined) { new java.io.File(pqStampPath).delete(); () }
        rewriteSwap("upsertIvf") { tmp =>
          mergeCells(src, stage, tmp, affected)
          readMarker(s"$src/_ivf_build")
            .foreach(b => writeMarker(s"$tmp/_ivf_build", b))
          writeMarker(s"$tmp/_ivf_drift",
            (prior + moved + (nNew - matched)).toString)
        }
        // the quantizer AND the codebooks survive an upsert (neither
        // depends on row membership), so a consistent PQ sidecar is
        // MAINTAINED: re-encode just the batch with the existing
        // codebooks and rewrite only the affected cells' code
        // partitions, then restore the stamp. A sidecar stamped for a
        // DIFFERENT quantizer was already unusable — its stamp stays
        // deleted and searchIvfPq keeps refusing.
        if (pqStamp.contains(model.contentId))
          maintainPqCodes(model, batch, batchIds, affected)
      } finally rmTree(new java.io.File(stage))
      // the drift probe costs a full df.count() — skip it entirely under
      // the default no-retrain policy instead of comparing to +Inf
      if (maxDrift != Double.PositiveInfinity && ivfDrift > maxDrift) {
        val (nl, rd) = readMarker(s"$path.__ivf/_build_params")
          .map(_.split(" "))
          .map(a => (a(0).toInt, a(1).toInt))
          .getOrElse((model.cells.length, 3))
        // a PQ'd collection retrains PQ TOO: buildIvf alone would mint a
        // new quantizer contentId and leave searchIvfPq refusing until a
        // manual rebuild — the opposite of the self-enforcing contract
        // this knob exists for (r11 review)
        pqMeta match {
          case Some((m, pqK, _)) => buildIvfPq(nl, m, pqK, rd); ()
          case None => buildIvf(nl, rd); ()
        }
      }
      (replaced, nNew - matched, moved)
    } finally { batch.unpersist(); () }
  }

  /** Fraction of the collection that entered or changed cells since the
    * last buildIvf — upsertIvf's cumulative retrain signal. */
  def ivfDrift: Double = {
    val drifted = readMarker(s"$dataDir/_ivf_drift").map(_.toLong).getOrElse(0L)
    val n = df.count()
    if (n == 0) 0.0 else drifted.toDouble / n
  }

  /** IVF-style layout: rows land in hive partitions keyed by `cellCol`
    * (e.g. a coarse-quantizer centroid id). `searchCells` then prunes to
    * the probed cells AT THE SCAN — the 100 TB shape where nprobe/nlist
    * of the data is read. */
  def insertPartitioned(rows: DataFrame, cellCol: String): Unit = {
    requireNotStreamManaged("insertPartitioned")
    Collection.conformVector(rows)
      .write.mode(SaveMode.Append).partitionBy(cellCol).parquet(dataDir)
  }

  /** Trained IVF index build (reference S11: IVF_FLAT with nlist k-means
    * centroids, `src/archive/chunking_strategy_docker.py:161-171`): runs
    * Lloyd's over the stored vectors, rewrites the collection into a
    * hive-partitioned layout keyed by the learned cell, and persists the
    * coarse quantizer in a `.__ivf` sibling directory (outside the data
    * dir, so scans never see it). Returns the trained model. NOTE: like
    * every rewrite, this drops any previous partition layout.
    */
  def buildIvf(nlist: Int, rounds: Int = 3): graft.vector.IvfKMeans.Model = {
    val model = graft.vector.IvfKMeans.train(df, "id", "vector", nlist, rounds)
    val buildId = model.contentId
    // Stage the quantizer BEFORE touching the data (ADVICE r3: saving it
    // only after the swap left a crash window pairing new cell layout
    // with a stale model — silently wrong recall). Both dirs carry the
    // model's content hash; loadIvfModel refuses a mismatched pair, so
    // even the installDir promote window below fails LOUDLY.
    val modelTmp = s"$path.__ivf.__new"
    rmTree(new java.io.File(modelTmp))
    model.save(spark, modelTmp)
    writeMarker(s"$modelTmp/_build_id", buildId)
    // build params ride with the model so upsertIvf's auto-retrain
    // (maxDrift) can rebuild with the same configuration
    writeMarker(s"$modelTmp/_build_params", s"$nlist $rounds")
    rewriteSwap("buildIvf") { tmp =>
      graft.vector.IvfKMeans.assignCells(
          Collection.conformVector(df), "vector", model.centroidTable, scale = 1.0)
        .drop("dist6") // assignCells names the partition column "cell"
        .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(tmp)
      writeMarker(s"$tmp/_ivf_build", buildId) // underscore file: invisible to scans
    }
    installDir(modelTmp, s"$path.__ivf")
    model
  }

  /** IVF_PQ index build — the composition FAISS defaults to ("IVFADC",
    * Jégou et al. TPAMI 2011 §V.B) and Milvus ships as its scale index:
    * `buildIvf` trains the coarse quantizer and rewrites the collection
    * cell-partitioned, then M subspace codebooks are trained over the
    * RESIDUALS v − centroid(cell) (FAISS by_residual=true; residuals
    * concentrate around 0 so the codebooks spend their k codes on the
    * within-cell detail) and every row's M codes land in a `.__pqcodes`
    * sidecar partitioned by the same cell key. The M trainings run
    * concurrently from the driver over one persisted residual frame.
    * Codebooks + codes are stamped with the coarse model's content id —
    * `searchIvfPq` refuses a codes/quantizer mismatch loudly. At scale:
    * codes are M small ints per row (~M bytes once dictionary-encoded)
    * vs dim floats — a 16× scan-set compression; training shuffles are
    * O(centroid table) per round like buildIvf.
    */
  def buildIvfPq(nlist: Int, m: Int = 4, pqK: Int = 16,
                 rounds: Int = 3, pqRounds: Int = 2): graft.vector.IvfKMeans.Model = {
    val model = buildIvf(nlist, rounds)
    val dim = model.centroids.headOption.map(_.length).getOrElse(0)
    require(dim > 0 && dim % m == 0, s"buildIvfPq: dim $dim not divisible by m=$m")
    val subDim = dim / m
    import spark.implicits._
    // M subspace trainings and the encode share one materialization
    val resid = residuals(df, model).persist()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val cbs: Seq[Seq[(Long, Seq[Double])]] =
        Await.result(Future.traverse((0 until m).toList) { i => Future {
          val sub = resid.select(col("id"),
            expr(s"slice(__r, ${i * subDim + 1}, $subDim)").as("sv"))
          // codes re-keyed to dense 0..k-1 (trainCents keys by seed id)
          graft.vector.IvfKMeans.trainCents(sub, "id", "sv", pqK, pqRounds)
            .zipWithIndex.map { case ((_, v), j) => (j.toLong, v) }
        } }, Duration.Inf)
      val wide = pqEncode(resid, cbs, subDim)
      val cbRows = cbs.zipWithIndex.flatMap { case (cb, sub) =>
        cb.map { case (code, v) => (sub, code, v) }
      }
      // install codes + codebooks staged-then-renamed, both stamped with
      // the coarse build id (same crash discipline as buildIvf's model dir)
      val codesTmp = s"$path.__pqcodes.__new"
      val pqTmp = s"$path.__pq.__new"
      rmTree(new java.io.File(codesTmp)); rmTree(new java.io.File(pqTmp))
      wide.write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(codesTmp)
      writeMarker(s"$codesTmp/_build_id", model.contentId)
      cbRows.toDF("sub", "code", "cv").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(pqTmp)
      writeMarker(s"$pqTmp/_build_id", model.contentId)
      writeMarker(s"$pqTmp/_meta", s"$m $pqK $subDim")
      // pessimistically invalidate the LIVE codebook stamp before any
      // install (upsertIvf's discipline): a re-run with identical
      // data/nlist/rounds but different m/pqK keeps the same coarse
      // contentId, so a crash between the two installs would otherwise
      // leave old codebooks validly stamped against the new codes —
      // searchIvfPq would silently mix them. The stamp returns with the
      // pqTmp install below.
      new java.io.File(s"$path.__pq/_build_id").delete()
      installDir(codesTmp, s"$path.__pqcodes")
      installDir(pqTmp, s"$path.__pq")
      model
    } finally { resid.unpersist(); () }
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

  /** PQ-encode residuals against EXISTING codebooks: each subspace slice
    * takes the argmin over its codebook. `resid` is a `residuals` frame;
    * emits (id, cell, codes). Shared by buildIvfPq (all rows) and
    * upsertIvf's incremental code maintenance (batch rows only). */
  private def pqEncode(resid: DataFrame, cbs: Seq[Seq[(Long, Seq[Double])]],
                       subDim: Int): DataFrame = {
    val m = cbs.length
    (0 until m).map { i =>
      val sub = resid.select(col("id"), col("cell").as("__c"),
        expr(s"slice(__r, ${i * subDim + 1}, $subDim)").as("sv"))
      graft.vector.IvfKMeans.assignCells(sub, "sv", cbs(i), 1.0)
        .select(col("id"), col("__c"), col("cell").cast("int").as(s"code$i"))
    }.reduce((a, b) => a.join(b, Seq("id", "__c")))
      .select(col("id"), col("__c").as("cell"),
        array((0 until m).map(i => col(s"code$i")): _*).as("codes"))
  }

  /** Incremental PQ-codes maintenance for upsertIvf: the codebooks do
    * not depend on row membership (only on the training distribution),
    * so an upsert can re-encode JUST the batch with the existing
    * codebooks and rewrite only the affected cells' code partitions —
    * the sidecar twin of upsertIvf's own O(touched cells) contract.
    * Crash discipline: the `.__pq/_build_id` stamp was removed BEFORE
    * the data commit (pessimistic invalidation — a crash anywhere
    * leaves searchIvfPq refusing loudly, never serving stale codes) and
    * is restored here only after the new codes tree is fully installed.
    */
  private def maintainPqCodes(model: graft.vector.IvfKMeans.Model,
                              batch: DataFrame, batchIds: DataFrame,
                              affected: Seq[Long]): Unit = {
    val codesDir = s"$path.__pqcodes"
    val (_, subDim, cbs) = loadPq()
    require(cbs.forall(_.nonEmpty), "maintainPqCodes: empty codebook")
    val old = spark.read.parquet(codesDir)
    val cellIn: Column = cellPredicate(old.schema("cell").dataType, "cell", affected)
    val survivors = old.filter(cellIn)
      .withColumn("cell", col("cell").cast("long"))
      .join(batchIds, Seq("id"), "left_anti")
    val fresh = pqEncode(residuals(batch, model), cbs, subDim)
    val stage = s"$codesDir.__stage"
    val next = s"$codesDir.__next"
    rmTree(new java.io.File(stage)); rmTree(new java.io.File(next))
    try {
      survivors.unionByName(fresh)
        .write.mode(SaveMode.Overwrite).partitionBy("cell").parquet(stage)
      mergeCells(codesDir, stage, next, affected)
      writeMarker(s"$next/_build_id", model.contentId)
      installDir(next, codesDir)
      // the new codes tree is live and consistent: restore the stamp
      writeMarker(s"$path.__pq/_build_id", model.contentId)
    } finally { rmTree(new java.io.File(stage)); rmTree(new java.io.File(next)) }
  }

  /** The PQ sidecar's codebooks as (pqK, subDim, cbs), one `cbs` entry per
    * subspace listing its (code, centroid) pairs sorted by code. */
  private def loadPq(): (Int, Int, Seq[Seq[(Long, Seq[Double])]]) = {
    val (m, pqK, subDim) = pqMeta.get
    val rows = spark.read.parquet(s"$path.__pq").collect()
    (pqK, subDim, (0 until m).map(s =>
      rows.filter(_.getInt(0) == s)
        .map(r => (r.getLong(1), r.getSeq[Double](2).toIndexedSeq)).sortBy(_._1).toSeq))
  }

  /** The PQ build's (m, pqK, subDim), when a PQ sidecar exists. */
  private def pqMeta: Option[(Int, Int, Int)] =
    readMarker(s"$path.__pq/_meta").map(_.split(" ").map(_.toInt)).map {
      case Array(m, pqK, subDim) => (m, pqK, subDim)
    }

  /** ANN search over a buildIvfPq'd collection: probe the nprobe nearest
    * cells (coarse centroids, driver-side — tiny by construction), build
    * the per-cell ADC distance tables there (nprobe × M × k doubles:
    * residual query vs each codebook entry), then scan ONLY the probed
    * cells of the CODES sidecar — directory-pruned like searchIvf, but
    * reading M-byte codes instead of full vectors — and score each row
    * by M table lookups summed in fixed subspace order. Plans as scan →
    * project → TakeOrdered: no shuffle, no vector reads. Returns
    * (id, cell, adist) with adist = approximate squared L2 distance,
    * ascending.
    */
  def searchIvfPq(queryVec: Array[Double], k: Int = 5, nprobe: Int = 2,
                  rerank: Int = 0): DataFrame = {
    val model = loadIvfModel()
    val buildId = readMarker(s"$path.__pq/_build_id")
    require(buildId.contains(model.contentId),
      s"searchIvfPq: PQ index for $name was built for quantizer " +
        s"${buildId.getOrElse("(missing)")} but the live coarse model is " +
        s"${model.contentId} — re-run buildIvfPq")
    // codes reference rows by id: a rewrite since the build (delete/
    // compact/upsert drop the _ivf_build stamp) would leave removed ids
    // resurfacing from the sidecar — refuse rather than answer stale
    require(readMarker(s"$dataDir/_ivf_build").contains(model.contentId),
      s"searchIvfPq: $name was rewritten since buildIvfPq — the codes " +
        "sidecar no longer describes the data; re-run buildIvfPq")
    val (pqK, subDim, cbs) = loadPq()
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
      c -> (for (s <- 0 until m; code <- 0 until pqK) yield {
        // a codebook can legitimately carry FEWER than pqK entries
        // (trainCents drops emptied clusters on degenerate subspaces);
        // codes never reference the absent slots, so the distance is
        // unreachable — fill +Inf rather than crash (r11 review)
        cbByCode(s).get(code.toLong) match {
          case None => Double.PositiveInfinity
          case Some(cv) =>
            var d = 0.0; var i = 0
            while (i < subDim) { val t = rq(s * subDim + i) - cv(i); d += t * t; i += 1 }
            d
        }
      })
    }.toMap
    val codes = spark.read.parquet(s"$path.__pqcodes")
    val cellIn: Column = cellPredicate(codes.schema("cell").dataType, "cell", cells)
    val tbl = element_at(typedLit(tables), col("cell").cast("long"))
    val adist = (0 until m).map(s =>
        element_at(col("__tbl"), lit(s * pqK + 1) + element_at(col("codes"), s + 1)))
      .reduce(_ + _)
    val adcTop = codes.filter(cellIn)
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
      val cellPick: Column =
        cellPredicate(df.schema("cell").dataType, "cell", cellVals.toSeq)
      df.filter(cellPick && col("id").isin(ids: _*))
        .withColumn("adist", aggregate(
          zip_with(col("vector").cast("array<double>"), typedLit(queryVec.toSeq),
            (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, x) => acc + x))
        .select(col("id"), col("cell").cast("long").as("cell"), col("adist"))
        .orderBy(col("adist").asc, col("id").asc)
        .limit(k)
    }
  }

  /** ONE owner for the typed cell-membership predicate: the hive-inferred
    * partition column may surface as INT, BIGINT, or STRING depending on
    * layout history, and a cast on the COLUMN side would defeat partition
    * pruning — so the literal side always adopts the column's type.
    * Shared by every pruned path (upsertIvf, maintainPqCodes,
    * searchIvfPq rerank, searchCells); the copy-pasted blocks this
    * replaces had already omitted the hot search path (r11 review). */
  private def cellPredicate(dt: DataType, cellCol: String, cells: Seq[Long]): Column =
    dt match {
      case IntegerType => col(cellCol).isin(cells.map(_.toInt): _*)
      case LongType    => col(cellCol).isin(cells: _*)
      case _           => col(cellCol).isin(cells.map(_.toString): _*)
    }

  /** Loads the coarse quantizer, validating the data/model build stamps
    * written by `buildIvf` — a data dir stamped with a build the model
    * dir does not match (interrupted build, manual copy) must not be
    * probed: assignments and centroids would disagree. Pre-stamp layouts
    * (no `_ivf_build` in the data dir) load unchecked for compatibility. */
  private def loadIvfModel(): graft.vector.IvfKMeans.Model = {
    readMarker(s"$dataDir/_ivf_build").foreach { dataBuild =>
      val modelBuild = readMarker(s"$path.__ivf/_build_id")
      require(modelBuild.contains(dataBuild),
        s"searchIvf: quantizer/layout mismatch for $name — data is from " +
          s"build $dataBuild but model dir has ${modelBuild.getOrElse("no stamp")}; " +
          "re-run buildIvf (an interrupted build can leave this state)")
    }
    graft.vector.IvfKMeans.load(spark, s"$path.__ivf")
  }

  /** ANN search over a buildIvf'd collection: the query probes only the
    * nprobe nearest cells (centroid table read from `.__ivf`, argmin on
    * the driver — it is tiny by construction), and the cell predicate
    * prunes at the DIRECTORY level via searchCells. Scan cost shrinks by
    * ~nprobe/nlist — the IVF contract.
    */
  def searchIvf(queryVec: Array[Double], k: Int = 5, nprobe: Int = 2): DataFrame = {
    val model = loadIvfModel()
    searchCells(queryVec, "cell", model.probe(queryVec, nprobe), k)
  }

  /** Batch IVF search: many query vectors in ONE plan (the q73 shape).
    * The centroid table broadcasts; each query ranks its nprobe nearest
    * cells in-plan; candidates come from joining the cell-partitioned
    * collection on the probed cells — at scale a hash join on the cell
    * key, never a full cross product; scoring touches ~nprobe/nlist of
    * the rows. `queries` needs (qid BIGINT, qv ARRAY<DOUBLE>).
    */
  def searchIvfBatch(queries: DataFrame, k: Int = 5, nprobe: Int = 2): DataFrame = {
    val model = loadIvfModel()
    // __cdist rounds to 6 dp so batch ranking shares the same total order
    // as Model.probe and assignCells on near-tie cells (ADVICE r3: the
    // three probe paths previously ranked raw doubles computed in
    // different evaluation orders and could probe different cells)
    val wc = Window.partitionBy(col("qid")).orderBy(col("__cdist").asc, col("cell").asc)
    val probed = queries.join(broadcast(centroidFrame(model)), lit(true))
      .withColumn("__cdist", round(aggregate(
        zip_with(col("qv").cast("array<double>"), col("__cv"), (x, y) => (x - y) * (x - y)),
        lit(0.0), (acc, t) => acc + t), 6))
      .withColumn("__crnk", row_number().over(wc))
      .filter(col("__crnk") <= nprobe)
      .select(col("qid"), col("qv"), col("cell"))
    rankPerQuery(probed.join(df, Seq("cell")), k)
  }

  /** Cosine top-k over only the given cells; the cell predicate becomes a
    * PartitionFilter (directory pruning), not a row filter. */
  def searchCells(queryVec: Array[Double], cellCol: String, cells: Seq[Long], k: Int = 5): DataFrame =
    topK(df.filter(cellPredicate(df.schema(cellCol).dataType, cellCol, cells)), queryVec, k)

  /** S6: describe — entityCount, dimension, metric. Row-free on an empty
    * collection: head() on a zero-row projection would throw, so the
    * dimension reports 0 until the first insert defines it (the schema
    * carries the element type but not the length). */
  def describe(): CollectionInfo = {
    val d = df
    val dimRow = d.select(size(col("vector"))).limit(1).collect()
    CollectionInfo(name, d.count(),
      if (dimRow.isEmpty) 0 else dimRow(0).getInt(0), metric)
  }

  /** S9: full scan (pagination dropped by design). */
  def getAll(outputFields: Seq[String] = Nil): DataFrame =
    if (outputFields.isEmpty) df else df.select(outputFields.map(col): _*)

  /** P4/J1: point lookup by primary keys (broadcast semi-join shape). */
  def getByIds(ids: Seq[Long]): DataFrame =
    df.filter(col("id").isin(ids: _*))

  /** P1-P3: filter expression + projection + limit, like
    * `query_entities(name, filter, outputFields, limit)`
    * (`scripts/milvus_db.py:51-59`). The filter string hits Catalyst's
    * parser — same `field == value && ...` surface Milvus accepts.
    */
  def query(filter: String = "", outputFields: Seq[String] = Nil, limit: Int = 100): DataFrame = {
    var d = df
    if (filter.nonEmpty) d = d.filter(expr(filter))
    if (outputFields.nonEmpty && outputFields != Seq("*")) d = d.select(outputFields.map(col): _*)
    d.limit(limit)
  }

  /** T1: cosine top-k for one query vector. Plans as a single scan +
    * TakeOrderedAndProject — no shuffle, no index required. The reference
    * hard-codes k=1 (`scripts/milvus_db.py:112`) against its own default
    * of 5; we honor the parameter (strict-compat callers pass 1).
    */
  def search(queryVec: Array[Double], k: Int = 5): DataFrame = topK(df, queryVec, k)

  /** Batch search: one plan for many query vectors (queries broadcast,
    * rank window per query) — the vectorized form of looping `search`.
    */
  def searchBatch(queries: DataFrame, k: Int = 5): DataFrame =
    rankPerQuery(df.join(broadcast(queries), lit(true)), k)

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
    * `chunking_strategy_docker.py:131-146`). Overwrite also clears the
    * index sidecars a previous incarnation left beside the data dir —
    * a recreated collection must never probe a dead quantizer. The
    * declared metric persists in a `_metric` marker so `open` in
    * another process reports the truth, not a hard-coded default. */
  def create(spark: SparkSession, root: String, name: String,
             dim: Int, metric: String = "COSINE", overwrite: Boolean = false): Collection = {
    if (overwrite) drop(root, name)
    val c = new Collection(spark, root, name, metric)
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], entitySchema(dim))
    empty.write.mode(if (overwrite) SaveMode.Overwrite else SaveMode.Ignore).parquet(s"$root/$name")
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
    else dir.listFiles.filter(_.isDirectory).map(_.getName)
      // `<name>.__*` dirs are index sidecars (.__ivf/.__pq/.__pqcodes)
      // and their stage/aside dirs, not collections
      .filterNot(_.contains(".__"))
      .sorted.toSeq
  }

  def drop(root: String, name: String): Unit = {
    rmTree(new java.io.File(s"$root/$name"))
    // index sidecars (.__ivf/.__pq/.__pqcodes) and crashed stage dirs
    // live BESIDE the collection dir — orphaning them leaks disk and
    // traps a recreated collection into probing a dead quantizer via
    // the unchecked legacy-compat path (r11 review)
    Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .filter(_.getName.startsWith(s"$name.__"))
      .foreach(rmTree)
  }

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
