package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic offline text embedder.
  *
  * The reference embeds with SentenceTransformer("Snowflake/
  * snowflake-arctic-embed-s"), dim 384, L2-normalized
  * (`scripts/prepare_data.py:21-22,50-54`). That model needs network +
  * native libs; this zero-egress stand-in preserves the CONTRACT the rest
  * of the engine relies on — fixed dimension, L2-normalized (cosine ≡
  * dot), deterministic, similar texts → similar vectors — while staying a
  * pure column pipeline with an exact DuckDB twin, so retrieval is
  * oracle-checkable end to end.
  *
  * Shape: stopword-filtered tokens plus their 5-char prefixes (subword
  * features, fastText-style — exact-token BoW cannot bridge "Veridia" ↔
  * "Veridian", which measurably breaks diary retrieval) → 60-bit md5 hash
  * → bucket = h % dim with SIGN ±1 from hash bit 8 (signed feature
  * hashing: matching features always reinforce, colliding features cancel
  * in expectation — unsigned accumulation makes every collision a false
  * positive); v[i] = sign(s)·√|s| (sublinear TF — raw counts let frequent
  * words dominate short-chunk cosine); L2-normalize.
  *
  * IMPORTANT perf note: every stage is materialized as its own column via
  * `withEmbed` (never one nested Column expression). Catalyst does NOT do
  * common-subexpression elimination inside lambda functions, so a nested
  * l2Normalize(embedRaw(tokens(text))) tree re-evaluates tokenization and
  * md5 per output element — O(dim² · tokens) per row. Staged columns are
  * aliases, which the optimizer will not re-inline when referenced more
  * than once (CollapseProject only inlines cheap expressions).
  */
object TextEmbed {

  /** Default dim matches the driver testdata embeddings table (64-d);
    * diary pipelines pass 384 (the reference contract). */
  val DefaultDim = 64

  /** Fixed function-word list shared by all three implementations. */
  val Stopwords: Seq[String] = Seq(
    "the", "a", "an", "of", "is", "was", "are", "were", "in", "on", "at",
    "to", "and", "or", "as", "it", "its", "be", "by", "for", "with",
    "that", "this", "these", "those", "from", "had", "has", "have", "my",
    "i", "he", "she", "they", "we", "me", "his", "her", "their", "our")

  def bucket(tok: Column, dim: Int): Column = XHash.hash60(tok) % lit(dim.toLong)

  /** Adds `outCol` = deterministic L2-normalized embedding of `textCol`.
    * Each intermediate (tokens, per-token buckets, raw counts, norm) is
    * one column evaluated once per row.
    */
  def withEmbed(df: DataFrame, textCol: String, outCol: String,
                dim: Int = DefaultDim): DataFrame = {
    val src = "__embed_srctoks"
    withEmbedFromTokens(df.withColumn(src, TextOps.tokens(col(textCol))),
      src, outCol, dim).drop(src)
  }

  /** Same pipeline, but starting from an ALREADY-TOKENIZED array column
    * (`TextOps.tokens` output). Lets a caller that needs both raw tokens
    * (BM25) and embeddings (cosine) derive both from ONE persisted
    * tokenized frame instead of scanning + tokenizing the corpus per leg.
    * Bit-identical to `withEmbed` (which delegates here): the stopword
    * filter and prefix features apply to the same token array either way.
    */
  def withEmbedFromTokens(df: DataFrame, toksCol: String, outCol: String,
                          dim: Int = DefaultDim): DataFrame =
    // One codegen'd kernel (EmbedSig) replaced the staged HOF pipeline —
    // the per-row cost fell from O(dim·tokens) interpreted lambda calls
    // (the raw stage FILTERED the whole bucket array once per output
    // dimension) to O(tokens + dim), bit-identically (TextEmbedSpec)
    // for non-null inputs. NULL token array → NULL embedding is the
    // kernel's INTENDED semantics (TextEmbedSpec pins it): the old HOF
    // chain emitted an array of `dim` nulls instead — a deliberate
    // divergence, since "no tokens known" should propagate as SQL NULL,
    // not as a vector-shaped value that every consumer must special-case
    // (downstream dot/cosine yield NULL either way).
    df.withColumn(outCol,
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        EmbedSig(org.apache.spark.sql.graftbridge.ColumnBridge.expression(
          col(toksCol)), dim)))

  /** Driver-side Scala twin of `withEmbed` — for embedding query strings
    * once on the driver (broadcast as a literal), exactly matching the
    * column pipeline bit for bit. Asserted equal in TextEmbedSpec.
    */
  def embedScala(text: String, dim: Int = DefaultDim): Array[Double] = {
    val stop = Stopwords.toSet
    val kept = text.toLowerCase.split("[^a-z0-9]+").filter(t => t.nonEmpty && !stop(t))
    val toks = kept ++ kept.map(_.take(5))
    val signed = new Array[Double](dim)
    val mdig = java.security.MessageDigest.getInstance("MD5")
    toks.foreach { t =>
      val hex = mdig.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 15)
      val h = java.lang.Long.parseLong(hex, 16)
      signed((h % dim).toInt) += (if (((h >> 8) & 1L) == 1L) 1.0 else -1.0)
    }
    val v = signed.map(x => math.signum(x) * math.sqrt(math.abs(x)))
    val n = math.sqrt(v.map(x => x * x).sum)
    if (n == 0.0) v else v.map(_ / n)
  }

  /** DuckDB twin (staged through CTE columns — DuckDB evaluates each
    * SELECT-list column once per row, so no blow-up there either).
    * Compose into `WITH <stages>, ...` and read `vec` from `<prefix>_vec`.
    */
  def embedSqlStages(srcTable: String, idCol: String, textExpr: String,
                     dim: Int = DefaultDim, prefix: String = "e"): String = {
    val stopList = Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
    val toks = TextOps.tokensSql(textExpr)
    val h = XHash.hash60Sql("t")
    s"""${prefix}_toks AS (
       |  SELECT $idCol,
       |         list_transform(
       |           list_concat(kept, list_transform(kept, k -> substr(k, 1, 5))),
       |           t -> {'b': ($h % $dim), 's': CASE WHEN (($h >> 8) & 1) = 1 THEN 1.0 ELSE -1.0 END}) AS bkts
       |  FROM (SELECT $idCol, list_filter($toks, t -> NOT list_contains($stopList, t)) AS kept
       |        FROM $srcTable)),
       |${prefix}_raw AS (
       |  SELECT $idCol, list_transform(range(0, $dim), i ->
       |    CASE WHEN list_sum(list_transform(list_filter(bkts, e -> e['b'] = i), e -> e['s'])) IS NULL THEN 0.0
       |         ELSE sign(list_sum(list_transform(list_filter(bkts, e -> e['b'] = i), e -> e['s'])))
       |              * sqrt(abs(list_sum(list_transform(list_filter(bkts, e -> e['b'] = i), e -> e['s'])))) END) AS raw
       |  FROM ${prefix}_toks),
       |${prefix}_vec AS (
       |  SELECT $idCol,
       |         CASE WHEN sqrt(list_sum(list_transform(raw, x -> x*x))) = 0 THEN raw
       |              ELSE list_transform(raw, x -> x / sqrt(list_sum(list_transform(raw, y -> y*y)))) END AS vec
       |  FROM ${prefix}_raw)""".stripMargin
  }
}
