package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump (and emit
    // oracle SQL for) only those. `q12` selects the query named `q12` or
    // `q12_<suffix>`, never q120-q129. Without it, everything is dumped.
    val (sfDir, outDir) = (args(0), args(1))
    val only: String => Boolean =
      if (args.length > 2) { n => args(2).split(",").exists(q => n == q || n.startsWith(q + "_")) }
      else _ => true
    // default to every core: an unset env must not quietly run local[4]
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions) // KernelRewrite active in the gate
    val spark = GraftSession.applyExtraConf(builder).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SchemaGuard.check(spark, sfDir) // fail at the seam, not mid-query
    new java.io.File(outDir).mkdirs()
    // Spark's scheduler is thread-safe: submit query dumps from a small
    // thread pool so independent jobs overlap (wall time ~ slowest few,
    // not the sum). The streaming query (memory sink, unique name) and
    // the conf-setting events reader are both safe under this.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // Periodic cache hygiene (r11 review): several queries persist()
    // intermediates whose lifecycle ends with their dump, and the
    // thread pool has no between-queries clear — a full run
    // accumulated every query's blocks for the session's lifetime,
    // thrashing late queries' caches under LRU pressure. Clearing every
    // 16 completions is CORRECTNESS-safe (all cached frames here are
    // deterministic; an evicted frame recomputes identically) and bounds
    // storage pressure without serializing the pool.
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val futures = SparkEntry.queries.toSeq.filter(kv => only(kv._1)).map { case (name, fn) =>
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        if (done.incrementAndGet() % 16 == 0) spark.catalog.clearCache()
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures), scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape (shared graft.model.Json.str): backslash, quote,
    // and ALL control chars (<0x20) — a tab or CR in builder-authored SQL
    // would otherwise make the driver's json.load fail and silently zero
    // the round's correctness.
    def q(s: String): String = graft.model.Json.str(s)
    val json = SparkEntry.oracleSql.filter(kv => only(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
