package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** RAG retrieval shape (ref: agents/rag/rag_config.yaml:4-6 chunk_size
  * 128 / chunk_overlap 16; FAISS cosine index with similarity_threshold
  * 0.95 at :22-26; agents/rag/vanilla_rag.py:1-19 retrieve-then-answer):
  * overlap chunking of the document corpus, deterministic chunk feature
  * vectors, and chunk-level top-k retrieval that carries doc provenance
  * (doc_id + chunk span) on every hit.
  *
  * Scale shape: chunking and vectorization are pure per-row transforms
  * (one posexplode, no shuffle of text); retrieval broadcasts the query
  * chunks and scores corpus chunks in-map (bruteTopK's shape), so the
  * corpus never crosses an exchange; the window top-k survives as a
  * partial WindowGroupLimit.
  *
  * Scoring is `cos²·10000` in EXACT integer arithmetic (counts are
  * integers, so dot and norms are exact longs) — engine-independent, no
  * float rounding parity risk with the DuckDB oracle. The reference's
  * cosine threshold 0.95 maps to cos² ≥ 0.9025 (counts are nonnegative,
  * so cosine ≥ 0 and the square is order-preserving).
  */
object RagOps {

  /** ref: agents/rag/rag_config.yaml:4 */
  val ChunkSize = 128

  /** ref: agents/rag/rag_config.yaml:5 */
  val ChunkOverlap = 16

  /** Feature-hash dimensionality of the deterministic chunk vectors. */
  val RagDims = 64

  /** Verify-scale knobs: the sf corpus docs are ~30-130 tokens, so the
    * production 128/16 chunking would yield one chunk per doc — the
    * verify queries chunk at 32/8 to genuinely exercise multi-chunk docs
    * (the 128/16 defaults are pinned by RagOpsSpec on a long synthetic
    * doc), and the acceptance threshold sits where the word-soup corpus
    * actually splits. ONE definition feeding engine call and oracle.
    */
  val VerifyChunkSize = 32
  val VerifyChunkOverlap = 8
  val VerifyRagThresholdX10000 = 7000L // sf-corpus cos2 runs 4.7k-9.8k, median ~7.1k: gate genuinely splits
  val RagK = 3
  val RagNQueryDocs = 4L

  /** Overlap chunking: chunk c of a doc covers tokens
    * [c·stride, c·stride + chunkSize), stride = chunkSize - overlap;
    * starts run while start < n_tokens (so consecutive chunks share
    * `overlap` tokens and the tail chunk may be short). Output:
    * (doc_id, chunk_idx, start_tok, n_chunk_tokens, chunk_sha) — the sha
    * is over the space-joined chunk tokens, giving the oracle byte-level
    * equality of chunk CONTENT without hauling text through the compare.
    * Pure narrow transform: split → sequence of starts → posexplode.
    */
  def chunkDocs(
      docs: DataFrame,
      chunkSize: Int = ChunkSize,
      chunkOverlap: Int = ChunkOverlap): DataFrame =
    chunked(docs, chunkSize, chunkOverlap)
      .select(
        col("doc_id"), col("chunk_idx"), col("start_tok"),
        col("n_chunk_tokens"),
        sha2(array_join(col("chunk_toks"), " "), 256).as("chunk_sha"))

  /** Shared chunk derivation: one row per chunk with its token slice. */
  private def chunked(docs: DataFrame, chunkSize: Int, chunkOverlap: Int): DataFrame = {
    require(chunkOverlap >= 0 && chunkSize > chunkOverlap,
      s"need 0 <= overlap < size, got size=$chunkSize overlap=$chunkOverlap")
    val stride = chunkSize - chunkOverlap
    docs
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .withColumn("n", size(col("words")))
      // n >= 1 always (split yields at least one element), so the start
      // list 0, stride, ... caps at the last start <= n-1
      .select(
        col("doc_id"), col("words"), col("n"),
        posexplode(sequence(lit(0), col("n") - 1, lit(stride)))
          .as(Seq("chunk_idx", "start_tok")))
      .select(
        col("doc_id"), col("chunk_idx"), col("start_tok"),
        least(lit(chunkSize), col("n") - col("start_tok")).as("n_chunk_tokens"),
        slice(col("words"), col("start_tok") + 1, lit(chunkSize)).as("chunk_toks"))
  }

  /** Deterministic chunk feature vector: token t lands in dimension
    * sha256(t)[0:8] mod dims (the hex-prefix bucket trick shared with the
    * oracle), vector = per-dimension token counts (exact longs).
    *
    * Shape matters — two slower formulations measured at sf0.1 before the
    * codegen'd `graft_count_vec` expression (graft.functions.CountVec,
    * one digest per token, one long[dims] per row): a per-dimension
    * `filter` re-hashes each token `dims` times after project-collapse
    * (q73 = 20 s), and an `aggregate`/`zip_with` fold hashes once but
    * allocates two dims-length arrays per token (q73 = 6.9 s). The
    * expression's bucket function is bit-identical to
    * `pmod(conv(substring(sha2(t,256),1,8),16,10), dims)`, so the DuckDB
    * oracle SQL is untouched (parity pinned in FunctionsSpec/RagOpsSpec).
    */
  private def countVector(toks: Column, dims: Int): Column =
    call_function("graft_count_vec", toks, lit(dims))

  /** Chunks with their count vectors: (doc_id, chunk_idx, start_tok, vec). */
  def chunkVectors(
      docs: DataFrame,
      chunkSize: Int = ChunkSize,
      chunkOverlap: Int = ChunkOverlap,
      dims: Int = RagDims): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    chunked(docs, chunkSize, chunkOverlap)
      .select(
        col("doc_id"), col("chunk_idx"), col("start_tok"),
        countVector(col("chunk_toks"), dims).as("vec"))
  }

  /** floor(cos²(a,b) · 10000) over two long-count vectors — exact integer
    * arithmetic end to end (dot and norms are exact longs; Java integer
    * division == DuckDB `//` on the nonnegative operands). Zero-norm
    * chunks score 0. Codegen'd expression (graft.functions.Cos2X10000) —
    * the SQL-fold formulation it replaced paid three interpreted
    * 64-element lambdas per scored PAIR (parity pinned in FunctionsSpec).
    */
  private def cos2X10000(a: Column, b: Column): Column =
    call_function("graft_cos2_x10000", a, b)

  /** Chunk-level retrieval with doc provenance: every chunk of the first
    * `nQueryDocs` docs queries the chunks of all OTHER docs; per
    * (query chunk, corpus doc) the best-matching chunk is kept (provenance:
    * doc_id + chunk_idx + start_tok), then the top-k docs per query chunk
    * by that best score. `accepted` applies the similarity threshold (the
    * reference drops retrievals under 0.95 cosine).
    *
    * Brute exact baseline: query side broadcast, corpus scanned once,
    * in-map scoring, partial top-k.
    */
  def retrieveChunks(
      spark: SparkSession, dir: String,
      k: Int = RagK,
      nQueryDocs: Long = RagNQueryDocs,
      chunkSize: Int = VerifyChunkSize,
      chunkOverlap: Int = VerifyChunkOverlap,
      thresholdX10000: Long = VerifyRagThresholdX10000): DataFrame = {
    val chunks = chunkVectors(
      RelationalOps.table(spark, dir, "documents"), chunkSize, chunkOverlap)
    val queries = chunks
      .filter(col("doc_id") < nQueryDocs)
      .select(
        col("doc_id").as("q_doc"), col("chunk_idx").as("q_chunk"),
        col("vec").as("q_vec"))
    val scored = chunks
      .filter(col("doc_id") >= nQueryDocs)
      .crossJoin(broadcast(queries))
      .select(
        col("q_doc"), col("q_chunk"), col("doc_id"), col("chunk_idx"),
        col("start_tok"), cos2X10000(col("q_vec"), col("vec")).as("cos2_x10000"))
    val bestPerDoc = scored
      .groupBy(col("q_doc"), col("q_chunk"), col("doc_id"))
      .agg(
        max(col("cos2_x10000")).as("cos2_x10000"),
        // provenance of the best chunk; ties resolve to the smallest idx
        max_by(
          struct(col("chunk_idx"), col("start_tok")),
          struct(col("cos2_x10000"), -col("chunk_idx"))).as("best"))
      .select(
        col("q_doc"), col("q_chunk"), col("doc_id"),
        col("best.chunk_idx").as("best_chunk_idx"),
        col("best.start_tok").as("best_start_tok"),
        col("cos2_x10000"))
    val w = Window.partitionBy(col("q_doc"), col("q_chunk"))
      .orderBy(col("cos2_x10000").desc, col("doc_id").asc)
    bestPerDoc
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(
        col("q_doc"), col("q_chunk"), col("rank"), col("doc_id"),
        col("best_chunk_idx"), col("best_start_tok"), col("cos2_x10000"),
        (col("cos2_x10000") >= thresholdX10000).as("accepted"))
  }
}
