package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, LongType, StructType, TimestampNTZType, TimestampType}

/** One-shot testdata-schema fingerprint at entrypoint start (round-9
  * verdict task 6): the driver regenerates the parquet between rounds
  * and has already shipped two `events.ts` encodings (TIMESTAMP(NANOS)
  * → raw long under the legacy conf; naive TIMESTAMP(MICROS) → NTZ).
  * `Events.normalize` absorbs the KNOWN variants; this guard makes the
  * NEXT unannounced schema change fail loudly at the seam — one line
  * naming the table and the exact column diff — instead of surfacing as
  * a mid-query cast error or, worse, silently wrong values 90 queries
  * in. Footer-only reads: ~10 cheap driver-side calls, no data scan.
  */
object SchemaGuard {

  /** Expected column→acceptable-types per table. `ts` lists every
    * encoding the query layer is KNOWN to normalize; anything else (a
    * third encoding, a renamed/missing/retyped column, a new table
    * shape) throws. Types compare by Catalyst simpleString. */
  private val expected: Map[String, Seq[(String, Set[String])]] = {
    def one(pairs: (String, String)*): Seq[(String, Set[String])] =
      pairs.map { case (c, t) => (c, Set(t)) }
    Map(
      "region" -> one("r_regionkey" -> "int", "r_name" -> "string"),
      "nation" -> one("n_nationkey" -> "int", "n_name" -> "string",
        "n_regionkey" -> "int"),
      "customer" -> one("c_custkey" -> "bigint", "c_name" -> "string",
        "c_nationkey" -> "int", "c_acctbal" -> "double", "c_mktsegment" -> "string"),
      "supplier" -> one("s_suppkey" -> "bigint", "s_name" -> "string",
        "s_nationkey" -> "int", "s_acctbal" -> "double"),
      "part" -> one("p_partkey" -> "bigint", "p_name" -> "string",
        "p_brand" -> "string", "p_type" -> "string", "p_size" -> "int",
        "p_retailprice" -> "double"),
      "orders" -> (one("o_orderkey" -> "bigint", "o_custkey" -> "bigint",
        "o_orderstatus" -> "string", "o_totalprice" -> "double") ++
        Seq(("o_orderdate", tsEncodingsNormalized)) ++
        one("o_orderpriority" -> "string")),
      "lineitem" -> (one("l_orderkey" -> "bigint", "l_partkey" -> "bigint",
        "l_suppkey" -> "bigint", "l_linenumber" -> "int", "l_quantity" -> "double",
        "l_extendedprice" -> "double", "l_discount" -> "double", "l_tax" -> "double",
        "l_returnflag" -> "string", "l_linestatus" -> "string") ++
        Seq(("l_shipdate", tsEncodingsNormalized))),
      "events" -> (one("event_id" -> "bigint") ++ Seq(("ts", tsEncodings)) ++
        one("user_id" -> "bigint", "event_type" -> "string",
          "value" -> "double", "props" -> "string")),
      "documents" -> one("doc_id" -> "bigint", "text" -> "string",
        "lang" -> "string", "source" -> "string", "n_chars" -> "bigint"),
      "embeddings" -> one("vec_id" -> "bigint", "embedding" -> "array<float>",
        "label" -> "int"))
  }

  /** The timestamp encodings the query layer normalizes: raw nanos long
    * (legacy conf), naive micros (NTZ), session-TZ timestamp. ONLY
    * events.ts has a normalizer (`Events.normalize`); orders/lineitem are
    * read raw, so their date columns must refuse the bigint raw-nanos
    * shape — accepting it would pass the guard and then fail (or
    * silently miscompute) mid-query, exactly what the guard exists to
    * prevent (r11 review). */
  private def tsEncodings: Set[String] =
    Set(LongType, TimestampNTZType, TimestampType).map(_.simpleString)
  private def tsEncodingsNormalized: Set[String] =
    Set(TimestampNTZType, TimestampType).map(_.simpleString)

  private def describe(schema: StructType): String =
    schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  /** Validates every table under `dir`, prints ONE fingerprint line to
    * stdout (`[schema] fingerprint=… dir=… tables=…`), throws with the
    * full per-table diff on the first unexpected shape. Idempotent and
    * cheap — call it at the top of every entrypoint main. */
  def check(spark: SparkSession, dir: String): String = {
    // The session-TZ pin is part of the data seam: every query that
    // RENDERS a timestamp (date_format, window/session buckets, SCD2
    // validity strings) produces wall-clock text in the session zone,
    // and the DuckDB oracle is timezone-naive — correctness holds only
    // under UTC, which Verify and SparkSpec both pin. A new entrypoint
    // that forgets the pin must fail HERE, not as a silently shifted
    // q121/q50 string 90 queries in (r11 review).
    val tz = spark.conf.get("spark.sql.session.timeZone",
      java.util.TimeZone.getDefault.getID)
    require(tz == "UTC",
      s"SchemaGuard: spark.sql.session.timeZone is '$tz' but the engine's " +
        "timestamp-rendering queries are only oracle-correct under UTC — " +
        "pin .config(\"spark.sql.session.timeZone\", \"UTC\") in the session builder")
    // TIMESTAMP(NANOS) footers are unreadable without the legacy conf —
    // the guard must be able to LOOK at either encoding to report it
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val diffs = scala.collection.mutable.ArrayBuffer.empty[String]
    val lines = expected.toSeq.sortBy(_._1).map { case (table, cols) =>
      val path = s"$dir/$table.parquet"
      val actual: StructType =
        try spark.read.parquet(path).schema
        catch { case e: Throwable =>
          diffs += s"$table: unreadable ($path): ${e.getMessage}"
          new StructType()
        }
      if (actual.nonEmpty) {
        val got = actual.fields.map(f => f.name -> f.dataType.simpleString)
        val want = cols.map { case (c, ts) => s"$c:${ts.mkString("|")}" }
        if (got.length != cols.length ||
            got.zip(cols).exists { case ((gn, gt), (en, ets)) => gn != en || !ets.contains(gt) })
          diffs += s"$table: expected [${want.mkString(", ")}] got [${describe(actual)}]"
      }
      s"$table(${describe(actual)})"
    }
    val fp = java.security.MessageDigest.getInstance("MD5")
      .digest(lines.mkString(";").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)
    println(s"[schema] fingerprint=$fp dir=$dir tables=${lines.mkString(";")}")
    if (diffs.nonEmpty)
      throw new IllegalStateException(
        "testdata schema drift — the generator changed shape; fix the seam " +
          s"(Events.normalize / SchemaGuard.expected) before trusting any query:\n  ${diffs.mkString("\n  ")}")
    fp
  }
}
