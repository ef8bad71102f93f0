package graft.rag

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{Bm25, TextEmbed, TextOps, VectorKernels}

/** Batch RAG pipeline (SURVEY.md §3.1 / §3.3), vectorized.
  *
  * The reference answers one question per HTTP round-trip (embed → Milvus
  * top-k → fetch-by-id → LLM, `app.py:59-111`); its eval loops that 55
  * times sequentially (`scripts/eval.py:72-120`). Here ALL questions are
  * answered in ONE plan: questions ⨯ (broadcast) → per-question top-k via
  * a rank window → contexts gathered with sort_array(collect_list) →
  * one LlmClient call per question. The search-then-get round trip
  * (`app.py:63-92`) collapses into the same plan — the top-k rows already
  * carry the text column.
  *
  * Scale shape: the collection side is never shuffled for retrieval —
  * questions are the broadcast side; the rank window partitions by
  * question id, so the only shuffle is |questions| × k rows.
  */
object RagPipeline {

  /** Per-question cosine top-k over a collection that has a `vector` column.
    * Emits all collection columns plus qid/score/rnk.
    */
  def retrieveAll(questions: DataFrame, collection: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("rnk_tiebreak").asc)
    collection
      .join(broadcast(questions), lit(true))
      .withColumn("score", round(VectorKernels.cosineFast(col("qv"), col("vector")), 6))
      .withColumn("rnk_tiebreak", col("id"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .drop("rnk_tiebreak", "qv")
  }

  /** Per-question BM25 top-k over the collection's text column — the
    * lexical retriever `retrieveHybrid` fuses with cosine. Scoring and
    * scale shape live in the ONE shared kernel `functions.Bm25.scoreTopK`
    * (also behind the oracle-checked q87_bm25/q113_hybrid_rrf); this
    * wrapper owns null-text scrubbing and the question-batch term
    * collect. Emits (qid, id, rnk).
    */
  def bm25All(questions: DataFrame, collection: DataFrame, k: Int): DataFrame = {
    // null text tokenizes to NULL and size(NULL) = -1 under the legacy
    // default, silently corrupting avgdl (r11 review) — a null-text doc
    // is a zero-length doc
    val toks = collection.select(col("id"),
        coalesce(TextOps.tokens(col("text")), array().cast("array<string>")).as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    // the query-term set is tiny by construction (a question batch):
    // collect it once — through the SAME TextOps.tokens kernel that
    // tokenizes the corpus side — so Bm25.scoreTopK can drop non-query
    // tokens INSIDE the scan projection, before the explode. This cap is
    // the driver-MEMORY bound on the collected (qid, term) pairs only;
    // the plan-size bound binds on distinct TERMS (what actually becomes
    // isin() literals) and lives inside Bm25.scoreTopK where the literal
    // list is built — a pair cap was the wrong proxy for it: hundreds of
    // questions sharing a vocabulary make many pairs but few terms
    // (r16 advice).
    val qterms = graft.Bounded.collectBounded(
      questions
        // cast, don't assume: qid arrives as int from some sources; the
        // old .as[(Long, String)] encoder upcast it, getLong would throw
        .select(col("qid").cast("long").as("qid"),
          explode(TextOps.tokens(col("question"))).as("term"))
        .distinct(),
      65536, "bm25: query-term",
      "the question batch's term set is driver-collected to pre-filter " +
        "the corpus explode; batch the questions, don't stream a corpus " +
        "through the qid column")
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    // scoring arithmetic + 100 TB shape (InSet-inside-array, df window,
    // 1-row stats broadcast, integer-score discipline) live in the ONE
    // shared kernel — see functions.Bm25 (r14 verdict #1)
    Bm25.scoreTopK(toks, "id", qterms, k)
      .select(col("qid"), col("id"), col("rnk"))
  }

  /** Hybrid retrieval: cosine top-k and BM25 top-k fused by reciprocal
    * rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009:
    * rrf(d) = Σ_r 1/(C + rank_r(d)), C = 60). RRF needs no score
    * calibration between the two retrievers — only ranks — which is why
    * it is the standard fusion for lexical+dense hybrids. Emits the same
    * shape as retrieveAll (collection columns + qid/question/score/rnk)
    * so answerBatch is retriever-agnostic. Both candidate pools are the
    * caller's k: at 100 TB each pool is a TakeOrdered-style top-k, never
    * a full ranking, and fusion joins |questions|·k-row frames.
    */
  def retrieveHybrid(questions: DataFrame, collection: DataFrame, k: Int,
                     rrfC: Int = 60, withMaxSim: Boolean = false,
                     retrievalCol: String = "question"): DataFrame = {
    val cos = retrieveAll(questions, collection, k)
      .select(col("qid"), col("id"), col("rnk").as("cos_rnk"))
    // the lexical legs read the RETRIEVAL text (CoT widens it; the
    // original question column rides through untouched for the LLM)
    val bm = bm25All(questions.select(col("qid"), col(retrievalCol).as("question")),
        collection, k)
      .select(col("qid"), col("id"), col("rnk").as("bm_rnk"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id").asc)
    def rrf(c: Column): Column = coalesce(lit(1.0) / (lit(rrfC) + c), lit(0.0))
    val twoWay = cos.join(bm, Seq("qid", "id"), "full_outer")
    val pooled =
      if (!withMaxSim) twoWay.withColumn("score", rrf(col("cos_rnk")) + rrf(col("bm_rnk")))
      else {
        val ms = maxSimAll(questions.select(col("qid"), col(retrievalCol).as("question")),
          collection, k)
          .select(col("qid"), col("id"), col("rnk").as("ms_rnk"))
        twoWay.join(ms, Seq("qid", "id"), "full_outer")
          .withColumn("score",
            rrf(col("cos_rnk")) + rrf(col("bm_rnk")) + rrf(col("ms_rnk")))
      }
    val fused = pooled
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("id"), col("score"), col("rnk"))
    fused.join(collection, Seq("id"))
      .join(broadcast(questions.drop("qv")), Seq("qid"))
  }

  /** Per-question MaxSim top-k (ColBERT late interaction; q99_maxsim runs
    * it oracle-checked): Σ over query tokens of the max dot against the
    * document's token embeddings. Vocabulary-first: distinct corpus
    * tokens embed once (Heaps' law keeps that table ≪ corpus) and join
    * back to the (id, token) incidence list; each dot rounds to 6dp and
    * integer-lifts before the max and the per-doc sum, so ranking is
    * accumulation-order independent. Emits (qid, id, ms, rnk), `ms` the
    * integer score (×1e6). */
  def maxSimAll(questions: DataFrame, collection: DataFrame, k: Int): DataFrame = {
    val qt = TextEmbed.withEmbed(
      questions.select(col("qid"),
        explode(TextOps.tokens(col("question"))).as("qtok")).distinct(),
      "qtok", "qv")
    val dt = collection
      .select(col("id"), explode(TextOps.tokens(col("text"))).as("token"))
      .distinct()
    val vocab = TextEmbed.withEmbed(dt.select(col("token")).distinct(), "token", "tvec")
    val w = Window.partitionBy(col("qid")).orderBy(col("ms").desc, col("id").asc)
    // VOCABULARY-first for real (the q99 shape, r11 review): the dot
    // depends only on (vocab token, query token), so score that small
    // cross first and join the SCALAR back to the (id, token) incidence
    // list — the pre-fix plan carried both vectors through the widest
    // frame and re-ran the O(dim) kernel once per incidence row.
    // Identical arithmetic (same operands, same 6dp lift) → same output.
    // SCALE BOUND: the broadcast table is |vocab|·|qtoks| skinny rows and
    // vocabulary grows ~n^0.5 (Heaps) — sf1 ≈ 30k × 17 ≈ 0.5M rows
    // (~20 MB), and a 100×-vocab corpus is still far under the 8 GB
    // broadcast limit.
    val scored = broadcast(
      vocab.join(qt, lit(true))
        .withColumn("m", floor(round(VectorKernels.dotFast(col("qv"), col("tvec")), 6) *
          lit(1e6) + lit(0.5)).cast("long"))
        .select(col("token"), col("qid"), col("qtok"), col("m")))
    dt.join(scored, Seq("token"))
      .groupBy(col("qid"), col("qtok"), col("id"))
      .agg(max(col("m")).as("mx"))
      .groupBy(col("qid"), col("id"))
      .agg(sum(col("mx")).as("ms"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("id"), col("ms"), col("rnk"))
  }

  /** The external-service boundary: appends `out` = f(client, row) via
    * mapPartitions so `client.open()` runs ONCE per partition and the
    * opened client (connection pool, loaded model) is reused for every
    * row — SURVEY §2.8's rule ("external-service ops via mapPartitions +
    * trait injection, never row-per-connection UDFs"), same lifecycle as
    * `Embedder.withEmbedding`. A per-row `udf` would give a real client
    * no init point and no reuse.
    */
  private def withLlmColumn(df: DataFrame, llm: LlmClient, out: String,
                            outType: org.apache.spark.sql.types.DataType)(
      f: (LlmClient, org.apache.spark.sql.Row) => Any): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.encoders.RowEncoder
    import org.apache.spark.sql.types.{StructField, StructType}
    val outSchema = StructType(df.schema.fields :+ StructField(out, outType))
    df.mapPartitions { rows =>
      llm.open() // once per partition — connection-reuse contract
      rows.map(r => Row.fromSeq(r.toSeq :+ f(llm, r)))
    }(RowEncoder.encoderFor(outSchema))
  }

  /** Full batch QA: embed questions, retrieve top-k, answer with the LLM
    * boundary. Output: qid, question, answer, source_ids, n_context, success.
    * `success=false` ⇔ the fallback answer (reference `app.py:105-111`
    * collapses failures to success=false).
    */
  def answerBatch(
      questions: DataFrame, // qid BIGINT, question STRING
      collection: DataFrame, // id BIGINT, text STRING, vector ARRAY<DOUBLE-ish>
      k: Int = 5,
      dim: Int = TextEmbed.DefaultDim,
      llm: LlmClient = ExtractiveLlm,
      withMaxSim: Boolean = false,
      retrievalCol: String = "question"): DataFrame = {
    import org.apache.spark.sql.types.StringType
    // retrievalCol lets a caller retrieve on WIDENED text (CoT thoughts)
    // while the LLM and the output still see the original question —
    // overwriting `question` broke RecordedLlm lookups and question-keyed
    // joins downstream (r11 review)
    val q = TextEmbed.withEmbed(questions, retrievalCol, "qv", dim)
    val hits = retrieveHybrid(q, collection, k, withMaxSim = withMaxSim,
      retrievalCol = retrievalCol)
    val gathered = hits
      .groupBy(col("qid"))
      // a null-text row can rank into the top-k (cosine reads only the
      // vector) and a null context element NPEs the LlmClient boundary
      // (the server path already guarded this; r11 review)
      .agg(sort_array(collect_list(struct(col("rnk"), col("id"),
        coalesce(col("text"), lit("")).as("text")))).as("hits"))
      .withColumn("context", transform(col("hits"), h => h.getField("text")))
      .withColumn("source_ids", transform(col("hits"), h => h.getField("id")))
      .select("qid", "context", "source_ids")
    // LEFT join from the question set: a question whose retrieval came
    // back empty must surface as a fallback success=false row, not
    // vanish (the reference collapses failures to success=false,
    // app.py:105-111; r11 review). Empty context → ExtractiveLlm answers
    // the verbatim fallback.
    val withAll = questions.select(col("qid"), col("question"))
      .join(gathered, Seq("qid"), "left")
      .withColumn("context",
        coalesce(col("context"), array().cast("array<string>")))
      .withColumn("source_ids",
        coalesce(col("source_ids"), array().cast("array<bigint>")))
    val qIdx = withAll.schema.fieldIndex("question")
    val cIdx = withAll.schema.fieldIndex("context")
    // the boundary emits the SENTINEL form (null ⇔ fell back) so success
    // is read off what the client DID, never off answer-text equality —
    // an extractive client can legitimately return corpus text that
    // equals the fallback string, which is a success (r19 advice)
    withLlmColumn(withAll, llm, "answer_raw", StringType) { (client, r) =>
      client.answerOrNull(r.getString(qIdx), r.getSeq[String](cIdx))
    }
      .withColumn("answer", coalesce(col("answer_raw"), lit(ExtractiveLlm.Fallback)))
      .withColumn("n_context", size(col("context")))
      .withColumn("success", col("answer_raw").isNotNull)
      .select("qid", "question", "answer", "source_ids", "n_context", "success")
  }

  /** Eval harness (SURVEY.md §3.3): QA pairs → answer → judge → grade. */
  def evalBatch(
      qa: DataFrame, // qid, question, expected_answer
      collection: DataFrame,
      k: Int = 5,
      dim: Int = TextEmbed.DefaultDim,
      llm: LlmClient = ExtractiveLlm,
      withMaxSim: Boolean = false): DataFrame = {
    val answered = answerBatch(qa.select(col("qid"), col("question")), collection, k, dim, llm,
        withMaxSim = withMaxSim)
      .join(qa.select(col("qid"), col("expected_answer")), Seq("qid"))
    judgeBatch(answered, "question", "expected_answer", "answer", llm)
  }

  /** Judge-only harness: appends `grade` = llm.judge(question, expected,
    * predicted) over arbitrary columns through the mapPartitions
    * LlmClient boundary — evalBatch's grader. Callable on its own so the
    * judge's token-F1 arithmetic can be oracle-checked cross-engine (q148): the
    * generative step has no SQL twin, but grading a DETERMINISTIC
    * predicted column (e.g. the retrieved doc text) does. */
  def judgeBatch(df: DataFrame, questionCol: String, expectedCol: String,
                 predictedCol: String, llm: LlmClient = ExtractiveLlm): DataFrame = {
    import org.apache.spark.sql.types.DoubleType
    val qIdx = df.schema.fieldIndex(questionCol)
    val eIdx = df.schema.fieldIndex(expectedCol)
    val pIdx = df.schema.fieldIndex(predictedCol)
    withLlmColumn(df, llm, "grade", DoubleType) { (client, r) =>
      client.judge(r.getString(qIdx), r.getString(eIdx), r.getString(pIdx))
    }
  }
}
