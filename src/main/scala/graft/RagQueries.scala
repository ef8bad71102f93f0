package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.{TextEmbed, VectorKernels}
import graft.rag.RagPipeline

/** End-to-end RAG operators (SURVEY.md §3.1/§3.3) over the documents table.
  *
  * q40 (retrieval) is fully oracle-checkable because the deterministic
  * embedder is a pure column expression with a DuckDB twin. q41/q42 cross
  * the LlmClient boundary (extractive stub) — not SQL-expressible, so they
  * get the driver's rows-only check; their internals are covered by
  * ScalaTest instead.
  */
object RagQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Par(s.read.parquet(s"$dir/documents.parquet"))

  /** The documents as a persisted (id, text, vector) collection, `_q` =
    * `tag` its per-caller cache identity. The retrievers read the
    * collection through four static branches (cosine leg, BM25 stats,
    * BM25 tf, context join-back) whose exchanges all key differently, so
    * AQE stage reuse never dedupes them — unpersisted, the scan + embed
    * ran four deep (r19 verdict #2). StageReuseSpec pins the single
    * runtime scan. Callers unpersist once their result materializes. */
  private def ragCollection(s: SparkSession, dir: String, tag: String): DataFrame =
    TextEmbed.withEmbed(docs(s, dir), "text", "vector")
      .select(col("doc_id").as("id"), col("text"), col("vector"))
      .withColumn("_q", lit(tag))
      .persist()

  val QueryText = "spark batch window join customer value"

  /** q154's question set — q41's three questions, shared so the Spark
    * side and the oracle VALUES list cannot drift (declared before
    * `defs`: the eager Seq evaluates the oracle strings). */
  private val AnswerAuditQuestions: Seq[(Long, String)] = Seq(
    (0L, "spark batch window join customer value"),
    (1L, "hash agg row scan slow fast table"),
    (2L, "stream filter merge sort order group"))

  val defs: Seq[QueryDef] = Seq(

    // ── q40: deterministic-embed retrieval, oracle-checked end to end
    //    (`queryTextTop5`, shared with SparkEntry.entry). ──
    QueryDef("q40_rag_retrieval",
      (s, dir) => queryTextTop5(docs(s, dir)),
      Some {
        val qv = TextEmbed.embedScala(QueryText).mkString("[", ", ", "]")
        val stages = TextEmbed.embedSqlStages("documents", "doc_id", "text")
        s"""
        WITH $stages,
        scored AS (
          SELECT doc_id,
                 round(list_sum(list_transform(range(1, 65), i -> vec[i] * ($qv)[i])), 6) AS score
          FROM e_vec),
        ranked AS (
          SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id ASC) AS rnk
          FROM scored)
        SELECT rnk, doc_id, score FROM ranked WHERE rnk <= 5 ORDER BY rnk"""
      }),

    // ── q41: batch RAG answering through the LlmClient boundary ──
    QueryDef("q41_rag_answer",
      (s, dir) => {
        val collection = ragCollection(s, dir, "q41")
        // the question set is shared with q154, whose oracle re-derives
        // this query's retrieval/context/flag envelope cross-engine
        val questions = s.createDataFrame(AnswerAuditQuestions)
          .toDF("qid", "question")
        try RagPipeline.answerBatch(questions, collection, k = 3)
          .select(col("qid"), col("question"), col("answer"), col("n_context"), col("success"))
          .orderBy(col("qid"))
          .transform(PlanProbe.probe("q41_rag_answer", _))
          .localCheckpoint() // eager |questions| rows; collection freed below
        finally collection.unpersist()
      },
      None),

    // ── q43: the reference's own 55-question diary eval, end to end.
    //   Sources are the reference's committed fixtures (read-only), not
    //   sfDir — this is the flagship capability check: ingest → W7 chunks
    //   → 384-d embed → retrieve k=10 → extractive answer → judge. The
    //   reference's archived run: mean grade 0.216, 46/55 fallbacks. ──
    QueryDef("q43_diary_eval",
      (s, dir) => {
        val ref = "/root/reference"
        val lines = s.read.option("multiLine", true)
          .json(s"$ref/tests/diary_line_chunks.json")
          .select(explode(col("chunks")).as("c"))
          .select(col("c.line_number").cast("long").as("line_no"), col("c.line_text").as("line"))
        val diary = lines.orderBy("line_no")
          .agg(concat_ws("\n", collect_list(col("line"))).as("text"))
        val chunks = diary
          .withColumn("toks", split(col("text"), "\\s+"))
          .withColumn("start", explode(expr(
            "sequence(0L, greatest((size(toks) - 1) div 40, 0L) * 40, 40L)")))
          .filter(col("start") === 0 || col("start") < size(col("toks")))
          .withColumn("chunk_text", array_join(slice(col("toks"), col("start") + 1, lit(50)), " "))
          .select(col("start").as("id"), col("chunk_text"))
        // the 872-chunk × 384-dim embed feeds evalBatch's four collection
        // branches — persist computes it once (the q42/q154 discipline)
        val collection = TextEmbed.withEmbed(Par(chunks), "chunk_text", "vector", 384)
          .select(col("id"), col("chunk_text").as("text"), col("vector"))
          .withColumn("_q", lit("q43")) // per-caller cache identity
          .persist()
        val qa = graft.sources.QaSource.load(s,
            s"$ref/data/questions.txt", s"$ref/data/answers.txt")
          .select(col("qa_id").as("qid"), col("question"), col("expected_answer"))
        try RagPipeline.evalBatch(qa, collection, k = 10, dim = 384)
          .select(col("qid"), col("question"), col("answer"), col("grade"), col("success"))
          .orderBy(col("qid"))
          .transform(PlanProbe.probe("q43_diary_eval", _))
          .localCheckpoint() // eager 55 rows; chunk embeddings freed below
        finally collection.unpersist()
      },
      None),

    // ── q42: eval harness — QA pairs, judge grades, mean grade ──
    QueryDef("q42_rag_eval",
      (s, dir) => {
        // the QA frame derives from the SAME cache instead of a fifth scan
        val collection = ragCollection(s, dir, "q42")
        // QA pairs built from the corpus itself: the question is a snippet
        // of the doc, the expected answer is the doc's opening — retrieval
        // should find the source doc (a self-retrieval sanity corpus).
        val qa = collection.filter(col("id") < 8)
          .select(col("id").as("qid"),
            concat_ws(" ", slice(split(col("text"), " "), 3, 8)).as("question"),
            substring(col("text"), 1, 120).as("expected_answer"))
        try RagPipeline.evalBatch(qa, collection, k = 3)
          .select(col("qid"), col("answer"), col("grade"), col("success"))
          .orderBy(col("qid"))
          .transform(PlanProbe.probe("q42_rag_eval", _))
          .localCheckpoint() // eager |qa| rows; collection freed below
        finally collection.unpersist()
      },
      None),

    // ── q148: ORACLE-CHECKED companion to q42 (r17 verdict #6) — q42's
    //   `no_oracle` row fences regressions with fixtures but never proved
    //   its arithmetic CROSS-ENGINE. Everything in q42 except the
    //   extractive sentence-selection stub IS SQL-expressible, so this
    //   query runs exactly that subset end to end: the SAME QA derivation
    //   (question = tokens 3..10 of the doc, expected = its first 120
    //   chars), the SAME hybrid retrieval machinery (`retrieveHybrid`:
    //   cosine leg + BM25 kernel + RRF fusion, k=3), and the SAME judge
    //   token-F1 through the SAME mapPartitions LlmClient boundary —
    //   graded against the retrieved doc text (deterministic) instead of
    //   the stub's extracted sentence (the one step with no SQL twin;
    //   its lookbehind sentence split doesn't exist in RE2). The DuckDB
    //   twin re-derives both retrieval legs, the fusion, and the F1 from
    //   first principles — rint via roundbankers, the exact half-to-even
    //   the JVM computes. ──
    QueryDef("q148_rag_eval_audit",
      (s, dir) => {
        val collection = ragCollection(s, dir, "q148") // QA derives from the cache
        val qa = collection.filter(col("id") < 8)
          .select(col("id").as("qid"),
            concat_ws(" ", slice(split(col("text"), " "), 3, 8)).as("question"),
            substring(col("text"), 1, 120).as("expected_answer"))
        val q = TextEmbed.withEmbed(qa, "question", "qv")
        try {
          val hits = RagPipeline.retrieveHybrid(q, collection, k = 3)
          RagPipeline.judgeBatch(hits, "question", "expected_answer", "text")
            .select(col("qid"), col("rnk").cast("long").as("rnk"),
              col("id").as("doc_id"), col("grade"))
            .orderBy(col("qid"), col("rnk"))
            .transform(PlanProbe.probe("q148_rag_eval_audit", _))
            .localCheckpoint() // eager |qa|·k rows; collection freed below
        } finally collection.unpersist()
      },
      Some(ragEvalAuditSql)),

    // ── q99: ColBERT-style late-interaction retrieval (MaxSim; Khattab &
    //   Zaharia, SIGIR'20): score(q, d) = Σ_{query tokens} max_{doc
    //   tokens} sim(qt, dt) — token-level interaction instead of one
    //   pooled vector, recovering the term-level precision single-vector
    //   retrieval blurs (the third retriever family beside cosine q40
    //   and BM25 q87). Runs `RagPipeline.maxSimAll` (the retriever
    //   `retrieveHybrid(withMaxSim)` fuses) over q87's query set, so the
    //   oracle checks the engine's own arithmetic and vocabulary-first
    //   shape; score = the integer per-doc sum back at 6dp. ──
    QueryDef("q99_maxsim",
      (s, dir) => {
        val questions = s.createDataFrame(TextQueries.Bm25QuerySet).toDF("qid", "question")
        val collection = docs(s, dir).select(col("doc_id").as("id"), col("text"))
        RagPipeline.maxSimAll(questions, collection, 5)
          .select(col("qid"), col("rnk").cast("long").as("rnk"), col("id").as("doc_id"),
            round(col("ms") / lit(1e6), 6).as("score"))
          .orderBy(col("qid"), col("rnk"))
      },
      Some(maxSimSql)),

    // ── q113: hybrid retrieval fused by reciprocal rank fusion, oracle-
    //   checked end to end — runs `RagPipeline.retrieveHybrid` (k=5:
    //   cosine top-5 + BM25 top-5, rrf = Σ 1/(60 + rank)) over q87's
    //   query set, the retriever behind the q42 eval headline. The
    //   DuckDB twin re-derives both legs and the fusion through the
    //   shared `hybridSql`. Scale shape: both candidate pools are
    //   per-query top-k before fusion, so the fusion join touches
    //   |queries|·k rows — never a corpus; `ragCollection` is one
    //   persisted scan + embed behind every leg (`PlanSpec` pins the
    //   single-scan shape). ──
    QueryDef("q113_hybrid_rrf",
      (s, dir) => {
        val collection = ragCollection(s, dir, "q113")
        val questions = TextEmbed.withEmbed(
          s.createDataFrame(TextQueries.Bm25QuerySet).toDF("qid", "question"),
          "question", "qv")
        try RagPipeline.retrieveHybrid(questions, collection, k = 5)
          .select(col("qid"), col("rnk").cast("long").as("rnk"), col("id").as("doc_id"),
            (floor(col("score") * lit(1e6) + lit(0.5)) / lit(1e6)).as("rrf"))
          .orderBy(col("qid"), col("rnk"))
          .transform(PlanProbe.probe("q113_hybrid_rrf", _))
          .localCheckpoint() // eager |queries|·k rows; collection freed below
        finally collection.unpersist()
      },
      Some(hybridRrfSql)),

    // ── q154: ORACLE-CHECKED companion to q41 (r18 verdict #4, the q148
    //   method) — q41's `no_oracle` row runs the full answerBatch but only
    //   gets a rows-only check because the stub's answer TEXT has no SQL
    //   twin (lookbehind sentence split). Everything AROUND the text IS
    //   SQL-expressible: the hybrid retrieval (cosine + BM25 + RRF, k=3),
    //   the context assembly (source_ids in rank order, n_context), and
    //   the fallback flag — ExtractiveLlm answers the verbatim fallback
    //   iff NO context token survives into the effective question-term
    //   set (stopword-filtered, whole set when filtering empties it; the
    //   per-sentence max-overlap only picks WHICH sentence, never whether
    //   one exists, because the sentence split preserves the token
    //   multiset). So this query runs the SAME answerBatch — the real
    //   mapPartitions LlmClient boundary, success read off the actual
    //   answer string — and the DuckDB twin re-derives retrieval, context
    //   and flag from first principles. success survives as 0/1 BIGINT so
    //   the cross-engine hash is byte-stable. ──
    QueryDef("q154_rag_answer_audit",
      (s, dir) => {
        val collection = ragCollection(s, dir, "q154")
        val questions = s.createDataFrame(AnswerAuditQuestions)
          .toDF("qid", "question")
        try RagPipeline.answerBatch(questions, collection, k = 3)
          .select(col("qid"),
            array_join(transform(col("source_ids"), _.cast("string")), ",")
              .as("src_ids"),
            col("n_context").cast("long").as("n_context"),
            col("success").cast("long").as("success"))
          .orderBy(col("qid"))
          .transform(PlanProbe.probe("q154_rag_answer_audit", _))
          .localCheckpoint() // eager |questions| rows; collection freed below
        finally collection.unpersist()
      },
      Some(ragAnswerAuditSql))
  )

  /** q40's retrieval, shared with `SparkEntry.entry`: the top 5 docs of
    * `docs` for [[QueryText]] by 6dp dot score (doc_id tiebreak) as
    * (rnk, doc_id, score, extra…) in rank order. The query string embeds
    * ONCE on the driver (TextEmbed.embedScala, bit-identical to the
    * column pipeline) — like a real serving path: query vector broadcast,
    * collection scanned once. TakeOrderedAndProject does the top-k
    * (parallel, no global sort); the rank window runs over only k rows. */
  private[graft] def queryTextTop5(docs: DataFrame, extra: Column*): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qv = TextEmbed.embedScala(QueryText)
    val byScore = Seq(col("score").desc, col("doc_id").asc)
    val top = TextEmbed.withEmbed(docs, "text", "vector")
      .withColumn("score", round(VectorKernels.dotFast(col("vector"), typedLit(qv)), 6))
      .select(col("doc_id") +: col("score") +: extra: _*)
      .orderBy(byScore: _*).limit(5)
    top.withColumn("rnk", row_number().over(Window.orderBy(byScore: _*)).cast("long"))
      .select("rnk", top.columns: _*)
      .orderBy(col("rnk"))
  }

  /** DuckDB twin of `RagPipeline.retrieveHybrid` (cosine + BM25 legs) for
    * the questions in `qs(qid, question)` over `documents`: the cosine leg
    * (CosineSim's dot/(|a||b|) with its NULL-on-zero-denominator contract,
    * NULLS LAST) over both sides' shared embedding stages, the BM25 leg
    * through `Bm25.scoreTopKSql` on null-scrubbed tokens (bm25All's), each
    * cut to its top k, RRF-fused (C = 60) into `hybrid(qid, doc_id, score,
    * rnk)` with rnk ≤ k. */
  private def hybridSql(qs: String, k: Int): String = {
    val toks = graft.functions.TextOps.tokensSql _
    s"""
      ${TextEmbed.embedSqlStages(qs, "qid", "question", prefix = "qe")},
      ${TextEmbed.embedSqlStages("documents", "doc_id", "text", prefix = "de")},
      cosscored AS (
        SELECT q.qid AS qid, d.doc_id AS doc_id,
               CASE WHEN sqrt(list_sum(list_transform(q.vec, x -> x*x))) *
                         sqrt(list_sum(list_transform(d.vec, x -> x*x))) = 0
                    THEN NULL
                    ELSE round(
                      list_sum(list_transform(range(1, 65), i -> q.vec[i] * d.vec[i])) /
                      (sqrt(list_sum(list_transform(q.vec, x -> x*x))) *
                       sqrt(list_sum(list_transform(d.vec, x -> x*x)))), 6) END AS score
        FROM qe_vec q CROSS JOIN de_vec d),
      cosleg AS (
        SELECT qid, doc_id,
               row_number() OVER (PARTITION BY qid
                 ORDER BY score DESC NULLS LAST, doc_id ASC) AS cos_rnk
        FROM cosscored QUALIFY cos_rnk <= $k),
      tk AS (SELECT doc_id, coalesce(${toks("text")}, []::VARCHAR[]) AS toks
             FROM documents),
      qt AS (SELECT DISTINCT qid, unnest(${toks("question")}) AS term FROM $qs),
      ${graft.functions.Bm25.scoreTopKSql("tk", "qt", k)},
      fused AS (
        SELECT coalesce(c.qid, b.qid) AS qid,
               coalesce(c.doc_id, b.doc_id) AS doc_id,
               coalesce(1.0 / (60 + c.cos_rnk), 0.0) +
                 coalesce(1.0 / (60 + b.rnk), 0.0) AS score
        FROM cosleg c FULL OUTER JOIN bm_top b
          ON c.qid = b.qid AND c.doc_id = b.doc_id),
      hybrid AS (
        SELECT qid, doc_id, score,
               row_number() OVER (PARTITION BY qid
                 ORDER BY score DESC, doc_id ASC) AS rnk
        FROM fused QUALIFY rnk <= $k)"""
  }

  /** q154 oracle: answerBatch's SQL-expressible envelope from first
    * principles — the q148 retrieval (`hybridSql`, k=3), then
    * rank-ordered source ids, context count, and the fallback flag:
    * success ⇔ some retrieved doc's token set intersects the effective
    * question-term set (`ExtractiveLlm.answer`'s q — content terms after
    * the shared Stop list, all terms when that empties). Tokenizers are
    * the shared TextOps.tokensSql on both sides; the Stop list inlines
    * from the ONE `ExtractiveLlm.Stop` definition. */
  private def ragAnswerAuditSql: String = {
    val toks = graft.functions.TextOps.tokensSql _
    val stop = graft.rag.ExtractiveLlm.Stop.toSeq.sorted
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""
      WITH qs AS ${TextQueries.queriesSql(AnswerAuditQuestions)},
      ${hybridSql("qs", 3)},
      qeff AS (
        SELECT qid,
               CASE WHEN len(list_filter(alltoks,
                      t -> NOT list_contains($stop, t))) > 0
                    THEN list_filter(alltoks, t -> NOT list_contains($stop, t))
                    ELSE alltoks END AS qset
        FROM (SELECT qid, list_distinct(${toks("question")}) AS alltoks
              FROM qs)),
      ctx AS (
        SELECT h.qid AS qid,
               string_agg(CAST(h.doc_id AS VARCHAR), ',' ORDER BY h.rnk)
                 AS src_ids,
               count(*) AS n_context,
               max(CASE WHEN len(list_intersect(
                      list_distinct(${toks("coalesce(d.text, '')")}), q.qset)) > 0
                    THEN 1 ELSE 0 END) AS ov
        FROM hybrid h JOIN documents d ON h.doc_id = d.doc_id
        JOIN qeff q ON h.qid = q.qid
        GROUP BY h.qid)
      SELECT CAST(s.qid AS BIGINT) AS qid,
             coalesce(c.src_ids, '') AS src_ids,
             CAST(coalesce(c.n_context, 0) AS BIGINT) AS n_context,
             CAST(CASE WHEN coalesce(c.n_context, 0) > 0 AND c.ov = 1
                  THEN 1 ELSE 0 END AS BIGINT) AS success
      FROM qs s LEFT JOIN ctx c ON s.qid = c.qid
      ORDER BY qid"""
  }

  /** q148 oracle: the q42 subset with SQL twins — QA derivation, the
    * hybrid retrieval (`hybridSql`, k=3), and the judge's token-F1 (sets
    * via list_distinct, rint via roundbankers — half to even, what
    * math.rint computes). Tokenizers are the shared TextOps.tokensSql on
    * both sides. */
  private def ragEvalAuditSql: String = {
    val toks = graft.functions.TextOps.tokensSql _
    s"""
      WITH qa AS (
        SELECT doc_id AS qid,
               array_to_string(list_slice(string_split(text, ' '), 3, 10), ' ') AS question,
               substr(text, 1, 120) AS expected_answer
        FROM documents WHERE doc_id < 8),
      ${hybridSql("qa", 3)},
      hits AS (
        SELECT r.qid AS qid, r.rnk AS rnk, r.doc_id AS doc_id,
               coalesce(d.text, '') AS predicted,
               coalesce(a.expected_answer, '') AS expected_answer
        FROM hybrid r JOIN documents d ON r.doc_id = d.doc_id
        JOIN qa a ON r.qid = a.qid),
      graded AS (
        SELECT qid, rnk, doc_id,
               list_distinct(${toks("expected_answer")}) AS e,
               list_distinct(${toks("predicted")}) AS p
        FROM hits)
      SELECT CAST(qid AS BIGINT) AS qid, CAST(rnk AS BIGINT) AS rnk, doc_id,
             CASE WHEN len(e) = 0 OR len(p) = 0
                       OR len(list_intersect(e, p)) = 0 THEN 0.0
                  ELSE roundbankers(
                    200.0 * (len(list_intersect(e, p)) / CAST(len(p) AS DOUBLE))
                          * (len(list_intersect(e, p)) / CAST(len(e) AS DOUBLE))
                    / ((len(list_intersect(e, p)) / CAST(len(p) AS DOUBLE))
                       + (len(list_intersect(e, p)) / CAST(len(e) AS DOUBLE))), 0)
                    / 100.0
             END AS grade
      FROM graded ORDER BY qid, rnk"""
  }

  /** q99 oracle: query-token vectors inlined as literals (driver-embedded
    * by embedScala, bit-identical to the column embedding maxSimAll runs —
    * the q40 precedent), doc vocabulary embedded by the shared SQL stages,
    * MaxSim arithmetic mirrored op for op. */
  private def maxSimSql: String = {
    val qtRows = TextQueries.Bm25QuerySet.flatMap { case (qid, qtext) =>
      qtext.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct.toSeq
        .map(t => (qid, t, TextEmbed.embedScala(t).toSeq))
        .filter(_._3.exists(_ != 0.0))
    }.map { case (qid, t, v) => s"($qid, '$t', [${v.mkString(", ")}])" }
      .mkString(",\n            ")
    s"""
      WITH qt AS (SELECT * FROM (VALUES
            $qtRows) AS v(qid, qtok, qv)),
      dt AS (SELECT DISTINCT doc_id, t.token AS token
             FROM (SELECT doc_id, ${graft.functions.TextOps.tokensSql("text")} AS toks
                   FROM documents), unnest(toks) AS t(token)),
      vocabsrc AS (SELECT DISTINCT token FROM dt),
      ${TextEmbed.embedSqlStages("vocabsrc", "token", "token", prefix = "v")},
      sc AS (SELECT q.qid AS qid, q.qtok AS qtok, d.doc_id AS doc_id,
                    round(list_sum(list_transform(range(1, 65),
                      i -> (q.qv)[i] * vec[i])), 6) AS m
             FROM dt d JOIN v_vec e ON d.token = e.token CROSS JOIN qt q),
      mx AS (SELECT qid, qtok, doc_id,
                    CAST(floor(max(m) * 1000000.0 + 0.5) AS BIGINT) AS mx_int
             FROM sc GROUP BY qid, qtok, doc_id),
      agg AS (SELECT qid, doc_id, CAST(sum(mx_int) AS BIGINT) AS s_int
              FROM mx GROUP BY qid, doc_id),
      ranked AS (SELECT qid, doc_id, s_int,
                        row_number() OVER (PARTITION BY qid
                          ORDER BY s_int DESC, doc_id ASC) AS rnk
                 FROM agg)
      SELECT CAST(qid AS BIGINT) AS qid, CAST(rnk AS BIGINT) AS rnk, doc_id,
             round(s_int / 1000000.0, 6) AS score
      FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk"""
  }

  /** q113 oracle: `hybridSql` at k=5 with the explicit half-up rrf. */
  private def hybridRrfSql: String = s"""
      WITH qs AS ${TextQueries.queriesSql()},
      ${hybridSql("qs", 5)}
      SELECT CAST(qid AS BIGINT) AS qid, CAST(rnk AS BIGINT) AS rnk, doc_id,
             floor(score * 1000000.0 + 0.5) / 1000000.0 AS rrf
      FROM hybrid ORDER BY qid, rnk"""
}
