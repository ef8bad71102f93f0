package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** THE BM25 scoring kernel — the one owner of the inverted-index
  * arithmetic that the hybrid retriever (`rag/RagPipeline.bm25All`,
  * behind q42/q113/q148) and q87/q146 all route through (r14 verdict:
  * the two parallel copies meant the
  * InSet-inside-array optimization had to be discovered twice — r12 in
  * RagPipeline, r14 in TextQueries — and the term-list tokenizer
  * drifted into a hand-rolled `split` in one of them).
  *
  * Scoring: Lucene-style idf `ln(1 + (N − df + 0.5)/(df + 0.5))` with
  * `tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`, defaults k1=1.2
  * b=0.75. Per-term scores are lifted to exact integers (6dp
  * round-half-up) BEFORE the per-document sum: a raw-double SUM is
  * accumulation-order dependent, so near-tie documents could swap
  * ranks across runs/partitionings.
  *
  * 100 TB shape (the lesson both call sites paid for separately):
  *  - query-term membership is filtered INSIDE the token array before
  *    the explode+groupBy, so the exploded frame carries only
  *    query-term hits instead of the corpus vocabulary (the old shape
  *    shuffled every per-doc token through the tf groupBy — AbQ113
  *    measured that shuffle, not the scoring, as 3.0 s of the 3.55 s
  *    sf1 leg);
  *  - membership rides `isin`, which the optimizer rewrites to a
  *    hash-set InSet above 10 values — `array_contains` on a literal
  *    array scans it per token (O(|terms|) × corpus tokens dominated
  *    q42's sf1 time, AbQ42: 3.4 s → 1.1 s);
  *  - df is a count window over the SAME tf frame — a groupBy +
  *    join-back duplicates the corpus subtree (the branches prune
  *    differently, so ReuseExchange can't fire; measured 1.37 → 0.7 s);
  *  - corpus stats fold in as a 1-row broadcast frame, not a
  *    driver-blocking `.head()` job;
  *  - queries never shuffle the corpus: the only wide edges (tf
  *    groupBy, df window, final per-(qid,doc) sum) carry pre-shrunk
  *    query-term hits.
  */
object Bm25 {

  /** Top-k BM25 over a pre-tokenized corpus frame.
    *
    * @param toks   corpus with columns (`idCol`, `toks: array<string>`,
    *               `dl: double`) — callers own tokenization (through
    *               `TextOps.tokens`), null-scrubbing, and persistence
    * @param idCol  document-id column name (`"id"` / `"doc_id"`)
    * @param qterms (qid, term) pairs, terms produced by the SAME
    *               tokenizer as the corpus side — plan-side
    *               `TextOps.tokens` collected, or driver-side
    *               `TextKernels.tokensLocal` on query literals; never a
    *               hand-rolled split
    * @return (qid: long, idCol, s_int: long, rnk: long) with rnk ≤ k,
    *         ranked by integer score desc, idCol asc tiebreak
    */
  def scoreTopK(toks: DataFrame, idCol: String, qterms: Seq[(Long, String)],
                k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val session = toks.sparkSession
    import session.implicits._
    val st = toks.agg(count(lit(1)).cast("double").as("n"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    val qt = qterms.distinct
    val termList = qt.map(_._2).distinct
    // the plan-size hazard is THIS list: every distinct term becomes a
    // string literal in the pre-explode isin() below. InSet probes stay
    // O(1), but analysis time and serialized-plan size grow with the
    // literal count — so the guard binds on distinct TERMS, here in the
    // kernel that builds the literal list, not on (qid, term) pairs at
    // a call site (a few hundred questions sharing a vocabulary make
    // many pairs but few terms; r16 advice). 4096 literals is far above
    // any real question batch, far below where planning stalls.
    require(termList.size <= 4096,
      s"bm25: ${termList.size} distinct query terms exceed the 4096 " +
        "isin-literal bound — batch the questions; a term list this " +
        "size bloats the serialized plan, not executor work")
    val qtFrame = broadcast(qt.toDF("qid", "term"))
    val tf = toks
      .select(col(idCol), col("dl"),
        explode(filter(col("toks"), t => t.isin(termList: _*))).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("s_int").desc, col(idCol).asc)
    tf
      .withColumn("df", count(lit(1))
        .over(Window.partitionBy(col("term"))).cast("double"))
      .join(qtFrame, Seq("term"))
      .crossJoin(broadcast(st))
      .withColumn("sterm", floor(round(
        log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1.0) /
            (col("tf") + lit(k1) *
              (lit(1.0) - lit(b) + lit(b) * (col("dl") / col("avgdl"))))),
        6) * lit(1e6) + lit(0.5)).cast("long"))
      .groupBy(col("qid"), col(idCol))
      .agg(sum(col("sterm")).as("s_int"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col(idCol), col("s_int"), col("rnk"))
  }

  /** DuckDB twin of [[scoreTopK]] (default k1/b) for the oracles: the
    * CTE chain `<p>_stats` → `<p>_dls` → `<p>_tf` → `<p>_df` → `<p>_sc`
    * (integer per-term score) → `<p>_top(qid, doc_id, s_int, rnk)`, the
    * per-(qid, doc) sum ranked with rnk ≤ k. `tk(doc_id, toks)` is the
    * caller's token table (null scrubbing is the caller's, as in
    * scoreTopK) and `qt(qid, term)` its distinct query-term table. */
  private[graft] def scoreTopKSql(tk: String, qt: String, k: Int, p: String = "bm"): String = s"""
      ${p}_stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
                       CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avgdl FROM $tk),
      ${p}_dls AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
                     unnest(toks) AS term FROM $tk),
      ${p}_tf AS (SELECT doc_id, dl, term, CAST(count(*) AS DOUBLE) AS tf
             FROM ${p}_dls GROUP BY doc_id, dl, term
             HAVING term IN (SELECT term FROM $qt)),
      ${p}_df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM ${p}_tf GROUP BY term),
      ${p}_sc AS (
        SELECT q.qid AS qid, t.doc_id AS doc_id,
               CAST(floor(round(
                 ln((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0) *
                   (t.tf * 2.2 /
                     (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * (t.dl / s.avgdl)))),
                 6) * 1000000.0 + 0.5) AS BIGINT) AS sterm
        FROM ${p}_tf t JOIN ${p}_df d USING (term) JOIN $qt q USING (term)
        CROSS JOIN ${p}_stats s),
      ${p}_top AS (
        SELECT qid, doc_id, s_int,
               row_number() OVER (PARTITION BY qid
                 ORDER BY s_int DESC, doc_id ASC) AS rnk
        FROM (SELECT qid, doc_id, CAST(sum(sterm) AS BIGINT) AS s_int
              FROM ${p}_sc GROUP BY qid, doc_id)
        QUALIFY rnk <= $k)"""
}
