package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's flagship RAG batch query (`Qdrant/main.py:114-133` →
  * `Qdrant/llm.py:75-136`, SURVEY §3.2) as ONE set-oriented plan:
  * the per-row Python loop (encode → HTTP search → context → generate)
  * becomes  queries ⋈kNN points → budgeted context → extractive
  * prediction, with the LLM generation boundary (L2) replaced by the
  * documented deterministic stand-in: top-k most frequent terms of the
  * retrieved context (SURVEY §2.5).
  *
  * Two shuffles total (kNN top-k heap + context group-by), queries broadcast.
  */
object Rag {

  /** Corpus = embeddings ⋈ documents on vec_id = doc_id (1:1). */
  private def points(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.embeddings(spark, sfDir)
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    emb.join(docs, emb("vec_id") === docs("doc_id"))
      .select(col("vec_id").as("point_id"), col("embedding"), col("text"))
  }

  /** Top-k hits for the first `nQueries` embeddings against the corpus. */
  def hits(spark: SparkSession, sfDir: String, nQueries: Int, k: Int): DataFrame = {
    val queries = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id"), col("embedding"))
    Knn.knnJoin(queries, points(spark, sfDir), "vec_id", "embedding", "point_id", "embedding", k)
  }

  /** Char-budgeted retrieval context per query (R1–R4), oracle-checkable. */
  def contextQuery(spark: SparkSession, sfDir: String, nQueries: Int = 5, k: Int = 5,
      maxCtxChars: Int = 800): DataFrame =
    ContextAssembly
      .budgetedContext(
        hits(spark, sfDir, nQueries, k),
        "query_id", "rank", "text",
        pageCol = col("point_id"), chunkCol = col("rank"),
        maxCtxChars = maxCtxChars)
      .orderBy(col("query_id"))

  /** Deterministic extractive "generation" stand-in (the L2 boundary,
    * SURVEY §2.5): per query, the top-5 most frequent terms of the
    * retrieved hits' `textCol`, ranked (count DESC, term ASC) and joined
    * by `sep` as `predicted`, with their summed counts as `support`.
    */
  private def topTerms(hits: DataFrame, textCol: String, sep: String): DataFrame = {
    val counted = hits
      .select(col("query_id"), explode(split(trim(col(textCol)), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("query_id"), col("tok")).agg(count(lit(1)).as("c"))
    Knn.rankTopK(counted, Seq(col("query_id")), Seq(desc("c"), col("tok").asc), lit(5), "r")
      .groupBy(col("query_id"))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("r"), col("tok").as("t")))), s => s.getField("t")),
          sep).as("predicted"),
        sum(col("c")).as("support"))
  }

  /** [[topTerms]] over the [[hits]] of the first `nQueries` embeddings. */
  def predictQuery(spark: SparkSession, sfDir: String, nQueries: Int = 5, k: Int = 5): DataFrame =
    topTerms(hits(spark, sfDir, nQueries, k), "text", ",").orderBy(col("query_id"))

  /** End-to-end flagship on raw documents (chunk → hash-embed → normalize
    * → kNN → context → predict) — the full reference pipeline shape with
    * the in-engine featurizer (SURVEY §3.2).
    *
    * `portableHash = true` swaps the murmur3 bucket hash for the
    * md5-based portable one, making the WHOLE pipeline reproducible in
    * DuckDB — this is the variant the correctness gate hash-matches
    * (`rag_flagship`). Murmur3 stays the default for speed (`entry`).
    */
  def flagship(spark: SparkSession, sfDir: String, dim: Int = 64, nQueries: Int = 5,
      k: Int = 5, maxCtxChars: Int = 500, portableHash: Boolean = false): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    // Word-soup corpus has no "\n\n": chunk on a frequent token to get
    // multi-chunk docs, preserving the reference's gap-index semantics.
    val chunks = Chunker.chunk(docs, Seq("doc_id"), separator = " the ", minLen = 20)
      .withColumn("chunk_id", col("doc_id") * 1000 + col("chunk_index"))
    val embed =
      if (portableHash) VectorOps.embedTextPortable _
      else VectorOps.embedTextDistributed _
    // Featurize on the COMPACT key only: the featurizer's one
    // aggregation shuffles sparse (bucket, count) buffers keyed by
    // chunk_id — the chunk text never enters a shuffle as a grouping
    // key. Text + metadata join back on chunk_id afterwards; the
    // aggregate's output is already hash-partitioned on chunk_id, so the
    // text transits at most ONE co-location shuffle. (Round 1 carried
    // chunk_text THROUGH the group-bys to save this join; at 100 TB
    // corpus-text-in-shuffle dominates everything — re-reading the
    // zero-shuffle chunker subtree is the cheap side of the trade.)
    val chunkVecs = embed(chunks, Seq("chunk_id"), "chunk_text", dim)
    val points = chunkVecs.join(chunks, "chunk_id")
    val queries = embed(docs.filter(col("doc_id") < nQueries), Seq("doc_id"), "text", dim)
      .select(col("doc_id").as("qid"), col("embedding").as("qvec"))
    // both sides L2-normalized by construction → dot metric (1 array pass)
    // hitRows feeds BOTH the context and prediction subtrees; measured:
    // ReuseExchange already dedups the shared chunk→embed→kNN upstream,
    // and an explicit persist() only added materialization overhead
    // (6.0 s vs 6.4–8.3 s at sf0.1) — so no cache here.
    val hitRows = Knn.knnJoin(queries, points, "qid", "qvec", "chunk_id", "embedding", k,
      metric = "dot")
    val ctx = ContextAssembly.budgetedContext(
      hitRows, "query_id", "rank", "chunk_text",
      pageCol = col("doc_id"), chunkCol = col("chunk_index"), maxCtxChars = maxCtxChars)
    val predicted = topTerms(hitRows, "chunk_text", " ")
    // L1 prompt projection with the reference's empty-context fallback.
    // The QUERY side drives the join (left to ctx/predicted): a query
    // with no retrievable context must still appear, carrying the
    // '(ไม่พบบริบท)' fallback prompt — an inner join on ctx would
    // silently drop it and the fallback branch could never fire.
    val q = docs.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("query_id"), col("text").as("question"))
    q.join(ctx, Seq("query_id"), "left")
      .join(predicted, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("context"), lit("")).as("context"),
        coalesce(col("context_text_chars"), lit(0L)).as("context_text_chars"),
        coalesce(col("predicted"), lit("")).as("predicted"),
        ContextAssembly.prompt(coalesce(col("context"), lit("")), col("question"),
          "คุณเป็นผู้ช่วยกฎหมาย จงตอบโดยอ้างอิงมาตราที่เกี่ยวข้อง").as("prompt"))
      .orderBy(col("query_id"))
  }
}
