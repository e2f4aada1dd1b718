package graft

import graft.QuerySpec.{Oracle, RowsOnly}
import graft.ops._
import graft.pipeline.Pipeline
import graft.synth.SynthDataset
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's query contract (SURVEY.md §7): `entry` plus one
  * `QuerySpec` per query in `specs`.
  *
  * Every SQL-expressible operator has a DuckDB oracle beside its run
  * (column names aligned on both sides; numeric aggregates flow through
  * exact decimal/integer arithmetic so results are independent of
  * partial-aggregation order). A query whose output DuckDB cannot
  * recompute independently is `RowsOnly` with its reason; its
  * correctness gate is the golden-equality ScalaTest suites
  * (`sbt -batch test`).
  */
object SparkEntry {

  /** Convs in the verify-scale synthetic corpus (extraction queries). */
  val VerifyConvs = 150L

  /** Structured records in the verify-scale shredding corpus. */
  val VerifyRecords = 200L

  /** One records frame INSTANCE per session, so consumers that memoize on
    * plan identity (GraphSurface's materialized views) recognize repeat
    * registrations of the same synthetic input. The frame itself is a
    * lazy plan — sharing it adds no caching, only identity.
    */
  private val recordsMemo =
    scala.collection.concurrent.TrieMap.empty[SparkSession, DataFrame]
  private def verifyRecords(s: SparkSession): DataFrame =
    recordsMemo.getOrElseUpdate(s, ShredOps.structuredRecords(s, VerifyRecords).toDF())

  /** Synthetic web docs (planted emails/phones/URLs) for q61/q62. */
  val VerifyWebDocs = 240L

  /** Planted real-PDF container corpus size for q192. */
  val VerifyPdfDocs = 300L

  /** q194 time-travel store shape: bucket count, buckets per commit, and
    * the simulated-kill point — the deterministic commit schedule the
    * oracle re-derives (completed after k commits = first min(3k, 8)
    * buckets; the kill after 2 commits plus the resume yields exactly
    * versions 1, 2, 3). Single-sourced into the oracle SQL.
    */
  val TtBuckets = 8
  val TtPerBatch = 3
  val TtKillAfter = 2

  /** Base conversations in the planted retry/loop corpus (q116-q118). */
  val VerifyRetryConvs = 240L

  /** Docs in the planted domain-mixture corpus (q132 DSIR selection). */
  val VerifyDomainDocs = 400L

  /** Docs in the planted HTML-table corpus (q133 table extraction). */
  val VerifyTableDocs = 200L

  /** Docs in the planted markdown pipe-table corpus (q135). */
  val VerifyMdTableDocs = 200L

  /** Docs in the planted heading-outline corpus (q137/q138). */
  val VerifyOutlineDocs = 240L

  /** Docs in the planted encoding-damage corpus (q142). */
  val VerifyNoisyDocs = 210L

  /** Docs in the planted positioned-run grid corpus (q145). */
  val VerifyPdfGridDocs = 180L

  /** Flagship: full extraction pipeline over the synthetic transcript
    * corpus — per-conversation failure rollup (SURVEY.md §7.2 minimum
    * slice). Driver smoke-checks rows > 0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame = {
    val turns = SynthDataset.turns(spark, VerifyConvs)
    Pipeline.run(spark, turns)
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(when(col("failure").isNotNull, 1L).otherwise(0L)).as("n_failures"),
        sum(length(col("extracted_text")).cast("long")).as("extracted_chars"))
  }

  /** q193's body over `(doc_id, pdf bytes)`: containers grouped on the
    * sha of their extracted text. A container that fails extraction keys
    * on `FAILED:<class>:<doc_id>` (q192's marker plus its id), so every
    * failure is its own group instead of all joining one sha("") group.
    */
  def pdfProducerDedup(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val ex = graft.extract.PdfContainerExtractor.extractBytes(bytes)
        (id, ex.failure.fold(ex.text)(f => s"FAILED:$f:$id"))
      }
      .toDF("doc_id", "text")
      .groupBy(sha2(col("text"), 256).as("text_sha"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_copies"),
        max(col("doc_id")).as("max_id"))
  }

  /** Fixed scratch dir per (query, input tag, JVM): wiped and recreated
    * on every use, so repeated Verify/Bench invocations REUSE one path
    * instead of accumulating checkpoint/index trees in the temp dir (the
    * q169 bucketed-layout discipline; a fresh createTempDirectory per
    * call leaked the full parquet index per run). The root is per user
    * under `java.io.tmpdir`; the key carries the process id (two
    * concurrent JVMs on one host must not wipe each other's live trees)
    * and a sha-derived input tag (String.hashCode collisions must not
    * alias two inputs). A file that vanishes mid-wipe is already gone:
    * the wipe walks again until the dir itself is gone. A sibling keyed by
    * a pid that is no longer alive belongs to a JVM that has exited and is
    * wiped too; a live pid, reused or not, is left alone.
    */
  private[graft] def scratchDir(query: String, input: String): String = {
    import java.nio.file.{Files, NoSuchFileException, Paths}
    import scala.jdk.CollectionConverters._
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(input.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val pid = java.lang.ProcessHandle.current().pid()
    val root = Paths.get(System.getProperty("java.io.tmpdir"), s"graft_scratch_${System.getProperty("user.name")}")
    val p = root.resolve(s"${query}_${tag}_p$pid")
    val exited = if (!Files.isDirectory(root)) Nil
      else scala.util.Using.resource(Files.list(root))(_.iterator().asScala.toList).filter(d =>
        "_p(\\d+)$".r.findFirstMatchIn(d.getFileName.toString)
          .flatMap(_.group(1).toLongOption).exists(!java.lang.ProcessHandle.of(_).isPresent))
    (exited :+ p).foreach { d =>
      while (Files.exists(d))
        try scala.util.Using.resource(Files.walk(d)) { st =>
          st.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.deleteIfExists)
        } catch {
          case _: NoSuchFileException =>
          case e: java.io.UncheckedIOException if e.getCause.isInstanceOf[NoSuchFileException] =>
        }
    }
    Files.createDirectories(p)
    p.toString
  }

  /** The query contract, one `QuerySpec` per query: its name, how it
    * runs, and how its output is checked — a DuckDB oracle beside the
    * run, or the stated reason it is rows-only. `queries`, `oracleSql` and
    * Verify's synth-table labels are all projections of this list.
    */
  lazy val specs: Seq[QuerySpec] = Seq(
    // --- relational operator inventory (SURVEY.md §2), DuckDB-oracled ---
    QuerySpec("q01_agg", (s, d) => RelationalOps.q1Agg(s, d), Oracle(
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
         count(*) AS n_rows
         FROM lineitem GROUP BY 1, 2""")),
    QuerySpec("q02_registry_join", (s, d) => RelationalOps.q2RegistryJoin(s, d), Oracle(
      """SELECT r_name, n_name, count(*) AS n_orders,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2""")),
    QuerySpec("q03_range_validation", (s, d) => RelationalOps.q3RangeValidation(s, d), Oracle(
      """SELECT l_returnflag, l_quantity BETWEEN 10.0 AND 40.0 AS quantity_within_range,
         count(*) AS n_rows FROM lineitem GROUP BY 1, 2""")),
    QuerySpec("q04_window_top_per_key", (s, d) => RelationalOps.q4WindowTopPerKey(s, d), Oracle(
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) t WHERE rn = 1""")),
    QuerySpec("q05_anti_join", (s, d) => RelationalOps.q5AntiJoin(s, d), Oracle(
      """SELECT c_nationkey, count(*) AS n_customers_without_orders
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)
         GROUP BY 1""")),
    QuerySpec("q06_semi_join", (s, d) => RelationalOps.q6SemiJoin(s, d), Oracle(
      """SELECT p_brand, count(*) AS n_parts_used
         FROM part WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
         GROUP BY 1""")),
    QuerySpec("q07_topk", (s, d) => RelationalOps.q7TopK(s, d), Oracle(
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 50""")),
    QuerySpec("q08_positional_cycling", (s, d) => RelationalOps.q8PositionalCycling(s, d), Oracle(
      s"""SELECT l_orderkey, l_linenumber,
          ($reviewerList)[((l_linenumber - 1) % 16) + 1] AS performed_by
          FROM lineitem""")),
    QuerySpec("q09_signature_hash", (s, d) => RelationalOps.q9SignatureHash(s, d), Oracle(
      """SELECT c_custkey, sha256(concat_ws('|', c_custkey, c_name, c_mktsegment)) AS signature
         FROM customer""")),
    QuerySpec("q10_set_difference", (s, d) => RelationalOps.q10SetDifference(s, d), Oracle(
      """SELECT c_custkey, c_name FROM customer
         WHERE c_mktsegment = 'BUILDING'
           AND c_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)""")),
    QuerySpec("q11_json_shred", (s, d) => RelationalOps.q11JsonShred(s, d), Oracle(
      """SELECT event_type, count(*) AS n_events,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
         FROM events GROUP BY 1""")),
    QuerySpec("q12_time_window", (s, d) => RelationalOps.q12TimeWindow(s, d), Oracle(
      """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type, count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         FROM events GROUP BY 1, 2""")),
    QuerySpec("q13_argmin", (s, d) => RelationalOps.q13ArgMin(s, d), Oracle(
      """SELECT p_brand,
         first(p_partkey ORDER BY p_retailprice ASC, p_partkey ASC) AS cheapest_part,
         min(p_retailprice) AS min_price
         FROM part GROUP BY 1""")),
    // --- text analysis (documents table) ---
    QuerySpec("q14_token_stats", (s, d) => TextOps.tokenStats(s, d), Oracle(
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS sum_tokens,
         max(len(string_split_regex(trim(text), '\s+'))) AS max_tokens,
         min(len(string_split_regex(trim(text), '\s+'))) AS min_tokens
         FROM documents GROUP BY 1""")),
    QuerySpec("q15_quality_score", (s, d) => TextOps.qualityScore(s, d), Oracle(
      s"""SELECT doc_id, n_chars_m, n_tokens, n_punct, mean_wordlen_x100, stopword_x1000,
                (n_tokens BETWEEN 10 AND 100000) AND (mean_wordlen_x100 BETWEEN 150 AND 1200) AS quality_pass
         FROM ($qualityFeatureSql) t""")),
    QuerySpec("q16_lang_id", (s, d) => TextOps.langId(s, d), Oracle(langIdSql)),
    QuerySpec("q17_bpe_tokens", (s, d) => TextOps.tokenCountBpe(s, d), Oracle(
      """SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z]{1,6}|[0-9]{1,3}|[^A-Za-z0-9\s]')) AS n_bpe_tokens
         FROM documents""")),
    // q18/q22/q36 oracles read engine-materialized intermediates from
    // `__SYNTH__` (ordered k-gram hashes, simhash values, minhash pair
    // list) because their inner hash (splitmix64) has no DuckDB
    // equivalent. DuckDB independently recomputes the DOWNSTREAM
    // algorithm — winnow window-min selection, all-pairs Hamming
    // (vs the engine's segment blocking), connected components (vs the
    // engine's label propagation) — so these validate the algorithmic
    // step, while hash production is pinned by local-truth ScalaTests
    // (TextAlgosSpec/FunctionsSpec/OpsSpec).
    QuerySpec("q18_fingerprint", (s, d) => TextOps.fingerprint(s, d), Oracle(
      s"""WITH g AS (SELECT doc_id, grams, len(grams) AS n
                    FROM read_parquet('__SYNTH__/grams.parquet/*.parquet')),
         p AS MATERIALIZED (SELECT doc_id, n, grams, unnest(range(1, n + 1)) AS pos FROM g WHERE n > $WinW),
         v AS (SELECT doc_id, n, pos, grams[pos] AS val FROM p),
         wm AS (SELECT doc_id, n, pos,
                       min(val) OVER (PARTITION BY doc_id ORDER BY pos
                                      ROWS BETWEEN CURRENT ROW AND ${WinW - 1} FOLLOWING) AS wmin
                FROM v),
         longd AS (SELECT doc_id, CAST(count(DISTINCT wmin) AS INTEGER) AS n_fingerprints,
                          min(wmin) AS min_fingerprint, bit_xor(DISTINCT wmin) AS xor_fingerprint
                   FROM wm WHERE pos <= n - ${WinW - 1} GROUP BY doc_id),
         shortd AS (SELECT doc_id, 1 AS n_fingerprints, list_min(grams) AS min_fingerprint,
                           list_min(grams) AS xor_fingerprint
                    FROM g WHERE n BETWEEN 1 AND $WinW),
         emptyd AS (SELECT doc_id, 0 AS n_fingerprints, CAST(0 AS BIGINT) AS min_fingerprint,
                           CAST(0 AS BIGINT) AS xor_fingerprint FROM g WHERE n = 0)
         SELECT * FROM longd UNION ALL SELECT * FROM shortd UNION ALL SELECT * FROM emptyd""")),
    QuerySpec("q19_simhash", (s, d) => TextOps.simhashDf(s, d), RowsOnly(
      "the output IS the engine's splitmix64 simhash value, which DuckDB cannot compute; " +
      "an oracle reading it back from engine output would be circular (TextAlgosSpec pins it)")),
    // --- deduplication family ---
    QuerySpec("q20_exact_dedup", (s, d) => DedupOps.exactDedup(s, d), Oracle(
      """SELECT sha256(text) AS content_hash, min(doc_id) AS doc_id, count(*) AS dup_count
         FROM documents GROUP BY 1""")),
    QuerySpec("q21_minhash_pairs", (s, d) => DedupOps.minhashPairs(s, d), RowsOnly(
      "the output IS the splitmix64 minhash pair production, which DuckDB cannot compute; " +
      "an oracle reading it back from engine output would be circular (OpsSpec pins it)")),
    QuerySpec("q22_simhash_pairs", (s, d) => DedupOps.simhashPairs(s, d), Oracle(
      """WITH s AS (SELECT doc_id, simhash FROM read_parquet('__SYNTH__/simhash.parquet/*.parquet'))
         SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
         FROM s a JOIN s b ON a.doc_id < b.doc_id
         WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""")),
    QuerySpec("q23_ngram_jaccard_pairs", (s, d) => DedupOps.ngramJaccardPairs(s, d), Oracle(
      """WITH t AS (
           SELECT doc_id, lang,
                  list_filter(string_split_regex(regexp_replace(text, '^\s+|\s+$', '', 'g'), '\s+'),
                              tk -> tk <> '') AS toks
           FROM documents),
         s AS (
           SELECT doc_id, lang, len(toks) // 16 AS bucket,
                  CASE WHEN len(toks) < 3 THEN []
                       ELSE list_distinct(list_transform(range(1, len(toks)-1),
                              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) END AS sh
           FROM t),
         p AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  len(list_intersect(a.sh, b.sh)) AS inter,
                  len(a.sh) AS na, len(b.sh) AS nb
           FROM s a JOIN s b ON a.lang = b.lang AND a.bucket = b.bucket AND a.doc_id < b.doc_id
                            AND len(a.sh) > 0 AND len(b.sh) > 0
                            -- same band-agreement predicate as the engine's candidate
                            -- generation: the prefilter is one-sided-probabilistic, so
                            -- an oracle WITHOUT it would list pairs (at jaccard barely
                            -- >= 0.6) that the engine is allowed to miss
                            AND EXISTS (SELECT 1
                                        FROM read_parquet('__SYNTH__/bands.parquet/*.parquet') x
                                        JOIN read_parquet('__SYNTH__/bands.parquet/*.parquet') y
                                          ON x.band_key = y.band_key
                                        WHERE x.doc_id = a.doc_id AND y.doc_id = b.doc_id)),
         j AS (
           SELECT doc_a, doc_b,
                  CAST(CASE WHEN na = 0 AND nb = 0 THEN 1000
                            WHEN na = 0 OR nb = 0 THEN 0
                            ELSE inter * 1000 // (na + nb - inter) END AS INT) AS jaccard_x1000
           FROM p)
         SELECT doc_a, doc_b, jaccard_x1000 FROM j WHERE jaccard_x1000 >= 600""")),
    // threshold 0.45 (not the 0.95 of a real near-dup corpus): the
    // verify-scale threshold/planes are single-sourced in DedupOps (the
    // oracle interpolates the SAME constants; see VerifyEmbDup* scaladoc)
    QuerySpec("q24_embedding_dup_pairs", (s, d) =>
      DedupOps.embeddingDupPairs(s, d,
        thresholdX10000 = DedupOps.VerifyEmbDupThresholdX10000,
        nPlanes = DedupOps.VerifyEmbDupPlanes), Oracle(
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         b AS MATERIALIZED (SELECT vec_id, v, ${bucketSqlColsEmbDup} FROM e)
         SELECT a.vec_id AS vec_a, c.vec_id AS vec_b,
                CAST(floor(list_cosine_similarity(a.v, c.v) * 10000) AS BIGINT) AS cosine_x10000
         FROM b a JOIN b c ON a.vec_id < c.vec_id
           AND (${anyTableMatchSql("a", "c", ops.DedupOps.EmbDupNTables)})
         WHERE floor(list_cosine_similarity(a.v, c.v) * 10000) >= ${ops.DedupOps.VerifyEmbDupThresholdX10000}""")),
    QuerySpec("q36_dedup_clusters", (s, d) => DedupOps.dedupClusters(s, d), Oracle(
      """WITH RECURSIVE
         e AS (SELECT doc_a, doc_b FROM read_parquet('__SYNTH__/minhash_pairs.parquet/*.parquet')
               UNION
               SELECT doc_b, doc_a FROM read_parquet('__SYNTH__/minhash_pairs.parquet/*.parquet')),
         comp(doc_id, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.doc_b, comp.lbl FROM comp JOIN e ON e.doc_a = comp.doc_id
           WHERE comp.lbl < e.doc_b)
         SELECT doc_id, min(lbl) AS cluster_id, (doc_id = min(lbl)) AS is_canonical
         FROM comp GROUP BY doc_id""")),
    QuerySpec("q37_class_balance", (s, d) => RelationalOps.q14ClassBalance(s, d), Oracle(
      """WITH counts AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
         bounds AS (SELECT min(cnt) AS min_cnt, max(cnt) AS max_cnt FROM counts),
         r AS (SELECT doc_id, lang,
                      row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
               FROM documents)
         SELECT r.doc_id, r.lang,
                CAST(floor(b.max_cnt / b.min_cnt) +
                     (CASE WHEN r.rn <= b.max_cnt % b.min_cnt THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_copies_to_max
         FROM r CROSS JOIN bounds b
         WHERE r.rn <= b.min_cnt""")),
    // frame boundaries only (the stub per-frame checksum uses wrapping
    // i64 arithmetic DuckDB can't express; it stays covered by OpsSpec)
    QuerySpec("q38_frame_sample", (s, d) => MultimodalOps.frameSample(s, d)
      .select(col("doc_id"), col("frame_idx"), col("n_bytes")), Oracle(
      """SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx,
                CAST(least(n, s + 64) - s AS INTEGER) AS n_bytes
         FROM (
           SELECT doc_id, octet_length(encode(text)) AS n,
                  unnest(range(0, greatest(octet_length(encode(text)), 1), 48)) AS s,
                  generate_subscripts(range(0, greatest(octet_length(encode(text)), 1), 48), 1) - 1 AS fi
           FROM documents)""")),
    // --- similarity search (embeddings table) ---
    QuerySpec("q25_ann_brute_topk", (s, d) => SimilarityOps.bruteTopK(s, d), Oracle(
      s"""WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                     WHERE vec_id < ${ops.SimilarityOps.NQueries}),
         s AS (SELECT qid AS query_id, vec_id AS neighbor_id,
                      CAST(floor(list_cosine_similarity(qe, embedding) * 10000) AS BIGINT) AS cosine_x10000
               FROM q, embeddings WHERE vec_id <> qid)
         SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_x10000 FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_x10000 DESC, neighbor_id ASC) AS rank
           FROM s) t
         WHERE rank <= ${ops.SimilarityOps.DefaultK}""")),
    // AUTO-TUNED multi-table LSH (b, l derived from the sampled
    // neighbor-agreement estimate, Hamming-1 multi-probe)
    QuerySpec("q26_ann_lsh_topk", (s, d) => SimilarityOps.lshTopKTuned(s, d), Oracle(
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         $lshCandidateCtes,
         s AS MATERIALIZED (SELECT c.query_id, c.neighbor_id,
                      CAST(floor(list_cosine_similarity(q.v, n.v) * 10000) AS BIGINT) AS cosine_x10000
               FROM lcand c JOIN e q ON q.vec_id = c.query_id JOIN e n ON n.vec_id = c.neighbor_id)
         SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_x10000 FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_x10000 DESC, neighbor_id ASC) AS rank
           FROM s) t
         WHERE rank <= ${ops.SimilarityOps.DefaultK}""")),
    // --- multimodal plumbing ---
    QuerySpec("q27_media_features", (s, d) => MultimodalOps.mediaFeatures(s, d), Oracle(
      """WITH b AS (SELECT doc_id, encode(text) AS blob FROM documents),
         u AS (SELECT doc_id,
                      unnest(list_transform(range(octet_length(blob)),
                             i -> CAST('0x' || substr(hex(blob), i*2+1, 2) AS INT))) AS byte
               FROM b),
         h AS (SELECT doc_id, byte, count(*) AS c FROM u GROUP BY 1, 2),
         top AS (SELECT doc_id, byte AS top_byte FROM (
                   SELECT doc_id, byte,
                          row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, byte ASC) AS rn
                   FROM h) WHERE rn = 1),
         s AS (SELECT doc_id, CAST(sum(byte) AS BIGINT) AS byte_sum FROM u GROUP BY 1)
         SELECT b.doc_id, CAST(octet_length(b.blob) AS INTEGER) AS n_bytes,
                CAST(coalesce(top.top_byte, 0) AS INTEGER) AS top_byte,
                coalesce(s.byte_sum, 0) AS byte_sum
         FROM b LEFT JOIN top USING (doc_id) LEFT JOIN s USING (doc_id)""")),
    // --- extraction pipeline (synthetic corpus; golden-tested) ---
    // --- synthetic-corpus oracles. `__SYNTH__` is rewritten by
    // graft.Verify to the absolute path of the materialized synthetic
    // inputs (golden_turns = raw payloads + BY-CONSTRUCTION expected
    // extraction from the generator; records = nested structured records).
    QuerySpec("q28_extract_turns", (s, _) => {
      // text_sha makes the DuckDB compare a PER-TURN TEXT EQUALITY check
      // against the generator's by-construction expectations (north rule)
      Pipeline.run(s, SynthDataset.turns(s, VerifyConvs))
        .select(col("conv_id"), col("turn_idx"), col("kind"),
          length(col("extracted_text")).as("n_chars_out"),
          sha2(col("extracted_text"), 256).as("text_sha"), col("failure"))
    }, Oracle(
      """SELECT conv_id, turn_idx, kind,
         CAST(length(expected_text) AS INTEGER) AS n_chars_out,
         sha256(expected_text) AS text_sha,
         expected_failure AS failure
         FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')""")),
    QuerySpec("q29_extract_failures_per_conv", (s, _) => entry(s), Oracle(
      """SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
         CAST(sum(CASE WHEN expected_failure IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_failures,
         CAST(sum(length(expected_text)) AS BIGINT) AS extracted_chars
         FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')
         GROUP BY 1""")),
    // --- shredding / registry / rules (structured records; golden-tested) ---
    QuerySpec("q30_shred_material_usage", (s, _) =>
      ShredOps.shredMaterialUsage(verifyRecords(s)), Oracle(
      """SELECT conv_id,
         sha256(concat_ws('|', conv_id, 'material_usage_rows', pos)) AS row_key,
         CAST(pos AS INTEGER) AS pos,
         r.material_name AS material_name,
         r.standard_quantity AS standard_quantity,
         r.allowed_range_min AS allowed_range_min,
         r.allowed_range_max AS allowed_range_max,
         r.actual_quantity AS actual_quantity,
         r.performed_by AS performed_by,
         r.checked_by AS checked_by,
         r.actual_quantity BETWEEN r.allowed_range_min AND r.allowed_range_max AS quantity_within_range
         FROM (SELECT conv_id, generate_subscripts(material_usage_rows, 1) - 1 AS pos,
                      unnest(material_usage_rows) AS r
               FROM read_parquet('__SYNTH__/records.parquet/*.parquet'))""")),
    QuerySpec("q31_shred_temperature", (s, _) =>
      ShredOps.shredTemperatureRecords(verifyRecords(s)), Oracle(
      """SELECT conv_id, step_key, step_no, CAST(rec_pos AS INTEGER) AS rec_pos,
         rec.time_point AS time_point, rec.temperature_c AS temperature_c
         FROM (
           SELECT conv_id, step_key, step_no,
                  generate_subscripts(trs, 1) - 1 AS rec_pos, unnest(trs) AS rec
           FROM (
             SELECT conv_id,
                    sha256(concat_ws('|', conv_id, 'steps', step_pos)) AS step_key,
                    step.step_no AS step_no, step.temperature_records AS trs
             FROM (SELECT conv_id, generate_subscripts(steps, 1) - 1 AS step_pos,
                          unnest(steps) AS step
                   FROM read_parquet('__SYNTH__/records.parquet/*.parquet'))))""")),
    QuerySpec("q32_rule_violations", (s, _) => ShredOps.ruleViolations(verifyRecords(s)), Oracle(
      """SELECT conv_id, count(*) AS n_violations,
         max(r.actual_quantity - r.allowed_range_max) AS worst_overage
         FROM (SELECT conv_id, unnest(material_usage_rows) AS r
               FROM read_parquet('__SYNTH__/records.parquet/*.parquet'))
         WHERE NOT (r.actual_quantity BETWEEN r.allowed_range_min AND r.allowed_range_max)
         GROUP BY 1""")),
    QuerySpec("q33_registry", (s, _) => ShredOps.registry(verifyRecords(s)), Oracle(
      """SELECT conv_id, row_number() OVER (ORDER BY conv_id) AS reg_id
         FROM (SELECT DISTINCT conv_id
               FROM read_parquet('__SYNTH__/records.parquet/*.parquet'))""")),
    QuerySpec("q34_delete_anti", (s, _) => {
      val recs = verifyRecords(s)
      val toDelete = recs.filter(col("conv_id") < "conv-000010").select(col("conv_id"))
      ShredOps.deleteConv(ShredOps.shredMaterialUsage(recs), toDelete)
        .groupBy(col("conv_id")).agg(count(lit(1)).as("n_rows"))
    }, Oracle(
      """SELECT conv_id, count(*) AS n_rows
         FROM (SELECT conv_id, unnest(material_usage_rows) AS r
               FROM read_parquet('__SYNTH__/records.parquet/*.parquet'))
         WHERE conv_id >= 'conv-000010'
         GROUP BY 1""")),
    QuerySpec("q35_equipment_csv", (s, _) => ShredOps.flattenEquipment(verifyRecords(s)), Oracle(
      """SELECT conv_id, array_to_string(equipment_no, ',') AS equipment_csv,
         CAST(len(equipment_no) AS INTEGER) AS n_equipment
         FROM read_parquet('__SYNTH__/records.parquet/*.parquet')""")),
    QuerySpec("q39_shred_all", (s, _) => ShredOps.shredAllSummary(verifyRecords(s)), Oracle(
      """WITH r AS (SELECT * FROM read_parquet('__SYNTH__/records.parquet/*.parquet'))
         SELECT * FROM (
           SELECT 'main_table' AS table_name, CAST(count(*) AS BIGINT) AS n_rows, 4 AS n_cols FROM r
           UNION ALL
           SELECT 'main_table_batch_details', CAST(count(*) AS BIGINT), 6 FROM r
           UNION ALL
           SELECT 'main_table_material_usage_rows', CAST(sum(len(material_usage_rows)) AS BIGINT), 11 FROM r
           UNION ALL
           SELECT 'main_table_steps', CAST(sum(len(steps)) AS BIGINT), 6 FROM r
           UNION ALL
           SELECT 'main_table_steps_temperature_records',
                  CAST(sum(list_sum(list_transform(steps, s -> len(s.temperature_records)))) AS BIGINT), 6 FROM r
         ) ORDER BY table_name""")),
    // --- composed curation pipeline (quality -> lang -> dedup -> balance) ---
    QuerySpec("q40_curation", (s, d) => CurationOps.curate(s, d), Oracle(
      s"""WITH $curationCtes
         SELECT doc_id, predicted_lang FROM r CROSS JOIN b WHERE rn <= b.min_cnt""")),
    // --- round-2 additions ---
    QuerySpec("q41_canon_signature", (s, d) => RelationalOps.q41CanonSignature(s, d), Oracle(
      """SELECT l_orderkey, l_linenumber,
         sha256(concat_ws('|', l_orderkey, l_linenumber,
                CAST(l_quantity AS VARCHAR), CAST(l_extendedprice AS VARCHAR),
                CAST(l_discount AS VARCHAR))) AS signature
         FROM lineitem""")),
    QuerySpec("q42_l2_nearest", (s, d) => SimilarityOps.l2NearestAccept(s, d), Oracle(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e
               WHERE vec_id < ${ops.SimilarityOps.NQueries}),
         s AS (SELECT query_id, vec_id,
                      CAST(floor(list_distance(qv, v) * 10000) AS BIGINT) AS l2_x10000
               FROM q, e WHERE vec_id <> query_id)
         SELECT query_id,
                first(vec_id ORDER BY l2_x10000 ASC, vec_id ASC) AS best_id,
                min(l2_x10000) AS min_l2_x10000,
                min(l2_x10000) <= ${ops.SimilarityOps.L2AcceptX10000} AS accepted
         FROM s GROUP BY 1""")),
    QuerySpec("q43_schema_evolution", (s, _) =>
      SchemaOps.schemaEvolutionQueryChecked(verifyRecords(s)), Oracle(
      """WITH r AS (SELECT * FROM read_parquet('__SYNTH__/records.parquet/*.parquet')),
         a AS MATERIALIZED (SELECT conv_id, batch_details.product_name AS product_name,
                      CAST(len(material_usage_rows) AS INTEGER) AS n_materials
               FROM r WHERE conv_id < 'conv-000100'),
         b AS (SELECT conv_id, batch_details.product_name AS product_name,
                      CAST(len(steps) AS INTEGER) AS n_steps
               FROM r WHERE conv_id >= 'conv-000100')
         SELECT conv_id, product_name,
                CAST(coalesce(n_materials, -1) AS INTEGER) AS n_materials,
                CAST(coalesce(n_steps, -1) AS INTEGER) AS n_steps
         FROM (SELECT * FROM a UNION ALL BY NAME SELECT * FROM b)""")),
    QuerySpec("q44_graph_vertices", (s, _) => GraphOps.graph(verifyRecords(s))._1, Oracle(
      """WITH r AS (SELECT * FROM read_parquet('__SYNTH__/records.parquet/*.parquet')),
         n0 AS (SELECT sha256(concat_ws('|', 'main_table',
                  'equipment_no=' || coalesce(array_to_string(equipment_no, ','), 'null'))) AS signature,
                'main_table' AS label FROM r),
         n1 AS (SELECT sha256(concat_ws('|', 'main_table_batch_details',
                  'batch_completed_on=' || coalesce(CAST(batch_details.batch_completed_on AS VARCHAR), 'null'),
                  'batch_no=' || coalesce(batch_details.batch_no, 'null'),
                  'batch_started_on=' || coalesce(CAST(batch_details.batch_started_on AS VARCHAR), 'null'),
                  'product_name=' || coalesce(batch_details.product_name, 'null'))) AS signature,
                'main_table_batch_details' AS label FROM r),
         n2 AS (SELECT sha256(concat_ws('|', 'main_table_material_usage_rows',
                  'actual_quantity=' || coalesce(CAST(m.actual_quantity AS VARCHAR), 'null'),
                  'allowed_range_max=' || coalesce(CAST(m.allowed_range_max AS VARCHAR), 'null'),
                  'allowed_range_min=' || coalesce(CAST(m.allowed_range_min AS VARCHAR), 'null'),
                  'checked_by=' || coalesce(m.checked_by, 'null'),
                  'material_name=' || coalesce(m.material_name, 'null'),
                  'performed_by=' || coalesce(m.performed_by, 'null'),
                  'standard_quantity=' || coalesce(CAST(m.standard_quantity AS VARCHAR), 'null'))) AS signature,
                'main_table_material_usage_rows' AS label
                FROM (SELECT unnest(material_usage_rows) AS m FROM r)),
         n3 AS (SELECT sha256(concat_ws('|', 'main_table_steps',
                  'description=' || coalesce(s.description, 'null'),
                  'step_no=' || coalesce(CAST(s.step_no AS VARCHAR), 'null'))) AS signature,
                'main_table_steps' AS label FROM (SELECT unnest(steps) AS s FROM r)),
         n4 AS (SELECT sha256(concat_ws('|', 'main_table_steps_temperature_records',
                  'temperature_c=' || coalesce(CAST(t.temperature_c AS VARCHAR), 'null'),
                  'time_point=' || coalesce(t.time_point, 'null'))) AS signature,
                'main_table_steps_temperature_records' AS label
                FROM (SELECT unnest(s.temperature_records) AS t
                      FROM (SELECT unnest(steps) AS s FROM r)))
         SELECT signature, label, count(*) AS n_merged
         FROM (SELECT * FROM n0 UNION ALL SELECT * FROM n1 UNION ALL SELECT * FROM n2
               UNION ALL SELECT * FROM n3 UNION ALL SELECT * FROM n4)
         GROUP BY 1, 2""")),
    QuerySpec("q45_page_ranges", (s, d) => RelationalOps.q45PageRanges(s, d), Oracle(
      """SELECT doc_id, page_ranges, CAST(page AS INTEGER) AS page FROM (
           SELECT doc_id, page_ranges,
                  unnest(flatten(list_transform(string_split(page_ranges, ','),
                    t -> generate_series(CAST(string_split(t, '-')[1] AS INT),
                                         CAST(string_split(t, '-')[-1] AS INT))))) AS page
           FROM (SELECT doc_id,
                        '1-' || CAST(doc_id % 4 + 1 AS VARCHAR) || ',' ||
                        CAST(doc_id % 3 + 6 AS VARCHAR) || '-' ||
                        CAST(doc_id % 3 + 7 AS VARCHAR) || ',10' AS page_ranges
                 FROM documents))""")),
    QuerySpec("q46_base64_transport", (s, d) =>
      MultimodalOps.toBase64Transport(
        RelationalOps.table(s, d, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
        "payload").select(col("doc_id"), col("payload_b64")), Oracle(
      """SELECT doc_id, to_base64(encode(text)) AS payload_b64 FROM documents""")),
    QuerySpec("q47_rule_registry", (s, _) => {
      val shredded = ShredOps.shredMaterialUsage(
        verifyRecords(s))
      val reg = new graft.pipeline.RuleRegistry(
        scratchDir("q47_rules", "synth") + "/rules.tsv")
      reg.register("quantities_within_range",
        "actual_quantity BETWEEN allowed_range_min AND allowed_range_max",
        RuleRecipients("quantities_within_range").split(',').toSeq)
      reg.register("independent_check", "performed_by != checked_by",
        RuleRecipients("independent_check").split(',').toSeq)
      reg.evaluate(shredded)
    }, Oracle(
      s"""WITH m AS (SELECT conv_id, unnest(material_usage_rows) AS r
                    FROM read_parquet('__SYNTH__/records.parquet/*.parquet')),
         c AS MATERIALIZED (SELECT conv_id,
                 CAST(sum(CASE WHEN NOT (r.actual_quantity BETWEEN r.allowed_range_min AND r.allowed_range_max)
                               THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
                 CAST(sum(CASE WHEN NOT (r.performed_by <> r.checked_by)
                               THEN 1 ELSE 0 END) AS BIGINT) AS v_check
               FROM m GROUP BY 1)
         SELECT 'quantities_within_range' AS rule_name, conv_id, v_range AS n_violations,
                '${RuleRecipients("quantities_within_range")}' AS recipients
         FROM c WHERE v_range > 0
         UNION ALL
         SELECT 'independent_check', conv_id, v_check,
                '${RuleRecipients("independent_check")}' FROM c WHERE v_check > 0""")),
    QuerySpec("q48_lang_accuracy", (s, d) => TextOps.langAccuracy(s, d), Oracle(
      """SELECT lang, count(*) AS n_docs,
         CAST(sum(CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         CAST(floor(sum(CASE WHEN predicted_lang = lang THEN 1 ELSE 0 END) * 10000.0 / count(*)) AS BIGINT) AS accuracy_x10000
         FROM (
           SELECT lang,
                  CASE WHEN score_en = best AND best > 0 THEN 'en'
                       WHEN score_fr = best AND best > 0 THEN 'fr'
                       WHEN score_es = best AND best > 0 THEN 'es'
                       WHEN score_de = best AND best > 0 THEN 'de'
                       ELSE 'unknown' END AS predicted_lang
           FROM (
             SELECT lang, score_en, score_fr, score_es, score_de,
                    greatest(0, score_en, score_fr, score_es, score_de) AS best
             FROM (
               SELECT lang,
                      len(regexp_extract_all(text, '\b(the|and|of|to|in|is|that|for)\b')) AS score_en,
                      len(regexp_extract_all(text, '\b(le|la|les|et|de|un|une|est)\b')) AS score_fr,
                      len(regexp_extract_all(text, '\b(el|la|los|las|y|de|que|es)\b')) AS score_es,
                      len(regexp_extract_all(text, '\b(der|die|das|und|ist|von|zu|mit)\b')) AS score_de
               FROM documents)))
         GROUP BY 1""")),
    QuerySpec("q49_confidence_stats", (s, _) =>
      TextOps.confidenceStats(SynthDataset.turns(s, VerifyConvs).toDF()), Oracle(
      """SELECT conv_id, count(*) AS n_annotations,
         CAST(sum(CAST(c AS BIGINT)) AS BIGINT) AS sum_conf_x100,
         CAST(floor(sum(CAST(c AS BIGINT)) * 1.0 / count(*)) AS BIGINT) AS mean_conf_x100
         FROM (SELECT conv_id,
                      unnest(regexp_extract_all(text, '\(Confidence: 0\.([0-9]{2})\)', 1)) AS c
               FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet'))
         GROUP BY 1""")),
    QuerySpec("q50_doctype_norm", (s, d) => RelationalOps.docTypeNorm(s, d), Oracle(
      """WITH n AS (SELECT lower(replace(trim(p_name), ' ', '_')) AS doc_type FROM part)
         SELECT doc_type, count(*) AS n_docs,
                list_aggregate(list_transform(string_split(doc_type, '_'),
                               s -> upper(s[1]) || s[2:]), 'string_agg', '') AS class_name
         FROM n GROUP BY doc_type""")),
    // clusterEdges composes with any pair generator — here the simhash
    // (Hamming<=3) edge family instead of minhash-Jaccard
    // independent end-to-end check of the simhash edge family THROUGH
    // clustering: DuckDB recomputes the pairs all-pairs (vs the engine's
    // segment blocking) and the components via recursive CTE (vs label
    // propagation + shortcutting); only the simhash values themselves are
    // engine-materialized (splitmix64 has no DuckDB equivalent).
    QuerySpec("q51_simhash_clusters", (s, d) =>
      DedupOps.clusterEdges(
        RelationalOps.table(s, d, "documents").select(org.apache.spark.sql.functions.col("doc_id")),
        DedupOps.simhashPairs(s, d).select(
          org.apache.spark.sql.functions.col("doc_a"),
          org.apache.spark.sql.functions.col("doc_b"))), Oracle(
      """WITH RECURSIVE
         s AS (SELECT doc_id, simhash FROM read_parquet('__SYNTH__/simhash.parquet/*.parquet')),
         p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
               FROM s a JOIN s b ON a.doc_id < b.doc_id
               WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         e AS (SELECT doc_a, doc_b FROM p UNION SELECT doc_b, doc_a FROM p),
         comp(doc_id, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.doc_b, comp.lbl FROM comp JOIN e ON e.doc_a = comp.doc_id
           WHERE comp.lbl < e.doc_b)
         SELECT doc_id, min(lbl) AS cluster_id, (doc_id = min(lbl)) AS is_canonical
         FROM comp GROUP BY doc_id""")),
    // --- training-set assembly ---
    QuerySpec("q52_train_split", (s, d) => TrainingOps.trainSplit(s, d), Oracle(
      """SELECT doc_id, bucket,
         CASE WHEN bucket < 64 THEN 'train' WHEN bucket < 80 THEN 'val' ELSE 'test' END AS split
         FROM (SELECT doc_id,
                      CAST('0x' || substr(sha256('42|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket
               FROM documents) t""")),
    QuerySpec("q53_contrastive_pairs", (s, d) => TrainingOps.contrastivePairs(s, d), Oracle(
      """WITH v AS (SELECT vec_id, label FROM embeddings),
         r AS (SELECT vec_id, label,
                      row_number() OVER (PARTITION BY label ORDER BY vec_id) AS rn,
                      lead(vec_id) OVER (PARTITION BY label ORDER BY vec_id) AS nxt,
                      min(vec_id) OVER (PARTITION BY label) AS head_id,
                      count(*) OVER (PARTITION BY label) AS cnt
               FROM v),
         s AS (SELECT label, count(*) AS cnt,
                      row_number() OVER (ORDER BY label) AS lbl_idx
               FROM v GROUP BY label),
         n AS (SELECT count(*) AS n_labels FROM s),
         tgt AS (SELECT s.label, t.label AS t_label, t.cnt AS t_cnt
                 FROM s CROSS JOIN n JOIN s t ON t.lbl_idx = (s.lbl_idx % n.n_labels) + 1
                 WHERE t.label <> s.label),
         pos AS (SELECT vec_id AS anchor_id, coalesce(nxt, head_id) AS other_id, 1 AS is_positive
                 FROM r WHERE cnt >= 2),
         neg AS (SELECT a.vec_id AS anchor_id, b.vec_id AS other_id, 0 AS is_positive
                 FROM r a JOIN tgt ON a.label = tgt.label
                          JOIN r b ON b.label = tgt.t_label AND b.rn = ((a.rn - 1) % tgt.t_cnt) + 1)
         SELECT * FROM pos UNION ALL SELECT * FROM neg""")),
    // IVF ANN: learned-coarse-quantizer scale path (centroids recomputed
    // in-query, deterministically — exact fixed-point means)
    // centroids are engine-materialized (their exact fixed-point training
    // is pinned by the local-truth ScalaTest); DuckDB independently
    // recomputes the DOWNSTREAM search — corpus cell assignment, nProbe
    // cell selection, candidate scoring, top-k — from those centroids
    QuerySpec("q54_ann_ivf_topk", (s, d) => SimilarityOps.ivfTopK(s, d), Oracle(ivfTopkOracleSql)),
    // the edge side of the property-graph sink (q44 oracles the vertices)
    // edge side of q44: same per-label signature recipe, plus the
    // containment joins (root->struct child, root->array elements,
    // step->its temperature records), deduplicated after unification
    QuerySpec("q55_graph_edges", (s, _) => GraphOps.graph(verifyRecords(s))._2, Oracle(
      s"""WITH $graphSigCtes
         SELECT parent_sig, child_sig, 'HAS' AS edge_label FROM edges""")),
    // test-set leakage: eval docs sharing k-grams with the train split
    // grams are engine-materialized (splitmix64 has no DuckDB equivalent;
    // the hash itself is pinned by TextAlgosSpec) — DuckDB independently
    // recomputes the split assignment and the contamination join
    QuerySpec("q56_decontaminate", (s, d) => TrainingOps.decontaminate(s, d), Oracle(
      s"""WITH g AS (SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, unnest(grams) AS gram
             FROM read_parquet('__SYNTH__/grams.parquet/*.parquet')) u),
         s AS (SELECT doc_id,
                      CAST('0x' || substr(sha256('${TrainingOps.DefaultSeed}|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket
               FROM documents),
         tg AS (SELECT DISTINCT gram FROM g JOIN s USING (doc_id) WHERE s.bucket < ${TrainingOps.TrainPct})
         SELECT g.doc_id,
                CASE WHEN s.bucket < ${TrainingOps.TrainPct + TrainingOps.ValPct} THEN 'val' ELSE 'test' END AS split,
                count(*) AS n_shared_grams
         FROM g JOIN s USING (doc_id) JOIN tg USING (gram)
         WHERE s.bucket >= ${TrainingOps.TrainPct}
         GROUP BY 1, 2""")),
    QuerySpec("q57_vocab_build", (s, d) => TrainingOps.vocabBuild(s, d), Oracle(
      s"""SELECT token, cnt, CAST(row_number() OVER (ORDER BY cnt DESC, token ASC) AS INTEGER) AS vocab_id
         FROM (SELECT token, count(*) AS cnt
               FROM (SELECT unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents) u
               WHERE token <> ''
               GROUP BY 1) c
         ORDER BY cnt DESC, token ASC
         LIMIT ${TrainingOps.DefaultVocabSize}""")),
    // concat-and-chunk dataloader layout with a two-phase global offset
    QuerySpec("q58_pack_sequences", (s, d) => TrainingOps.packSequences(s, d), Oracle(
      s"""WITH t AS (SELECT doc_id,
                len(regexp_extract_all(text, '[A-Za-z]{1,6}|[0-9]{1,3}|[^A-Za-z0-9\\s]')) AS n_tokens
              FROM documents),
         c AS (SELECT doc_id, n_tokens,
                      sum(n_tokens) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
               FROM t)
         SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
                CAST(cum - n_tokens AS BIGINT) AS start_offset,
                CAST((cum - n_tokens) // ${TrainingOps.DefaultChunkBudget} AS BIGINT) AS chunk_first,
                CAST(CASE WHEN n_tokens = 0 THEN -1 ELSE (cum - 1) // ${TrainingOps.DefaultChunkBudget} END AS BIGINT) AS chunk_last
         FROM c""")),
    // acceptance metric for the approximate ANN paths: per-(method, query)
    // recall@k vs the exact brute-force top-k
    // DuckDB recomputes ALL THREE result sets itself — exact (brute), LSH
    // (bucket recomputed from the pinned hyperplanes), IVF (assignment +
    // probe + search from the materialized centroids, as in q54) — and
    // then measures recall; nothing about the measurement comes from the
    // engine, so this is an end-to-end independent check of both scale
    // paths' output quality, not just their row sets.
    QuerySpec("q59_ann_recall", (s, d) => SimilarityOps.annRecall(s, d), Oracle(
      s"""WITH $annTierCtes,
         hl AS MATERIALIZED (SELECT l.query_id, count(*) AS hits FROM lsh l
                JOIN exact x ON l.query_id = x.query_id AND l.neighbor_id = x.neighbor_id
                GROUP BY l.query_id),
         hi AS MATERIALIZED (SELECT i.query_id, count(*) AS hits FROM ivf i
                JOIN exact x ON i.query_id = x.query_id AND i.neighbor_id = x.neighbor_id
                GROUP BY i.query_id)
         SELECT 'lsh' AS method, q.query_id, coalesce(hl.hits, 0) AS hits,
                CAST(${ops.SimilarityOps.DefaultK} AS INTEGER) AS k
         FROM q LEFT JOIN hl ON q.query_id = hl.query_id
         UNION ALL
         SELECT 'ivf' AS method, q.query_id, coalesce(hi.hits, 0) AS hits,
                CAST(${ops.SimilarityOps.DefaultK} AS INTEGER) AS k
         FROM q LEFT JOIN hi ON q.query_id = hi.query_id""")),
    // token encoding with the top-V vocab (the q57 -> q63 -> q58 chain);
    // V=20 < |corpus vocab| so OOV (id 0) genuinely occurs at verify scale
    // token encoding: DuckDB rebuilds the top-V vocab, encodes by explode +
    // left join + ORDER BY position (the orthogonal algorithm to the
    // engine's broadcast-map transform) and shas the joined id sequence
    QuerySpec("q63_encode_docs", (s, d) => TrainingOps.encodeDocs(s, d), Oracle(
      s"""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents),
         v AS (SELECT token, row_number() OVER (ORDER BY cnt DESC, token ASC) AS vocab_id
               FROM (SELECT token, count(*) AS cnt
                     FROM (SELECT unnest(words) AS token FROM d) u
                     WHERE token <> '' GROUP BY 1) c
               ORDER BY cnt DESC, token ASC
               LIMIT ${ops.TrainingOps.EncodeVocabSize}),
         tok AS (SELECT doc_id, generate_subscripts(words, 1) AS pos, unnest(words) AS token FROM d),
         enc AS (SELECT t.doc_id, t.pos, CAST(coalesce(v.vocab_id, 0) AS INTEGER) AS id
                 FROM tok t LEFT JOIN v USING (token))
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
                sha256(string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos)) AS ids_sha
         FROM enc GROUP BY doc_id""")),
    // deterministic per-language stratified sampling (content-hash bucket)
    QuerySpec("q64_stratified_sample", (s, d) => TrainingOps.stratifiedSample(s, d), Oracle(
      s"""SELECT doc_id, lang, bucket FROM (
           SELECT doc_id, lang,
                  CAST('0x' || substr(sha256('7|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket
           FROM documents) t
         WHERE bucket < (CASE lang ${ops.TrainingOps.DefaultStrata
          .map { case (l, p) => s"WHEN '$l' THEN $p" }
          .mkString(" ")} ELSE 0 END)""")),
    // --- web-corpus curation (Gopher-style repetition, PII, URL norm) ---
    // Gopher-style repetition stats: DuckDB recomputes the 2-gram
    // frequencies the ORTHOGONAL way (unnest + groupBy + window rank)
    // vs the engine's narrow array_sort+fold — same result, independent
    // algorithm. `//` (floor) == Spark `div` (truncate) on the
    // non-negative operands here.
    QuerySpec("q60_repetition", (s, d) => WebOps.repetitionStats(s, d), Oracle(
      s"""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents),
         w AS (SELECT doc_id, words, CAST(len(words) AS BIGINT) AS n_words,
                      CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct,
                      CAST(list_sum(list_transform(words, x -> length(x))) AS BIGINT) AS word_chars
               FROM d),
         b AS (SELECT doc_id, unnest([words[i] || ' ' || words[i+1] for i in range(1, len(words))]) AS bigram FROM w),
         c AS (SELECT doc_id, bigram, count(*) AS cnt FROM b GROUP BY 1, 2),
         t AS (SELECT doc_id, bigram, cnt FROM (
                 SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bigram ASC) AS rn FROM c) z
               WHERE rn = 1),
         r AS (SELECT w.doc_id, w.n_words,
                      CAST(CASE WHEN w.n_words = 0 THEN 0
                           ELSE (w.n_words - w.n_distinct) * 10000 // w.n_words END AS BIGINT) AS dup_word_frac_x10000,
                      coalesce(t.bigram, '') AS top_bigram,
                      CAST(coalesce(t.cnt, 0) AS BIGINT) AS top_bigram_count,
                      CAST(CASE WHEN w.word_chars = 0 OR t.cnt IS NULL THEN 0
                           ELSE t.cnt * (length(t.bigram) - 1) * 10000 // w.word_chars END AS BIGINT) AS top_bigram_char_frac_x10000
               FROM w LEFT JOIN t USING (doc_id))
         SELECT *, dup_word_frac_x10000 <= ${ops.WebOps.MaxDupWordFracX10000}
                   AND top_bigram_char_frac_x10000 <= ${ops.WebOps.MaxTopBigramCharFracX10000} AS keep
         FROM r""")),
    // PII redaction parity: DuckDB (RE2) re-runs the SAME patterns the
    // engine (Java regex) uses — leftmost-first semantics agree for these
    // alternations — and sha256 asserts byte equality of the redacted text
    QuerySpec("q61_pii_redact", (s, _) =>
      WebOps.piiRedact(graft.synth.WebDocs.docs(s, VerifyWebDocs)), Oracle(
      s"""SELECT doc_id,
         CAST(len(regexp_extract_all(text, '${ops.WebOps.EmailRe}')) AS BIGINT) AS n_emails,
         CAST(len(regexp_extract_all(text, '${ops.WebOps.PhoneRe}')) AS BIGINT) AS n_phones,
         sha256(regexp_replace(regexp_replace(text, '${ops.WebOps.EmailRe}', '<EMAIL>', 'g'),
                               '${ops.WebOps.PhoneRe}', '<PHONE>', 'g')) AS redacted_sha
         FROM read_parquet('__SYNTH__/web_docs.parquet/*.parquet')""")),
    QuerySpec("q62_url_hosts", (s, _) =>
      WebOps.urlHosts(graft.synth.WebDocs.docs(s, VerifyWebDocs)), Oracle(
      s"""WITH u AS (SELECT doc_id, unnest(regexp_extract_all(text, '${ops.WebOps.UrlRe}')) AS url
                   FROM read_parquet('__SYNTH__/web_docs.parquet/*.parquet')),
         h AS (SELECT doc_id, regexp_replace(lower(regexp_extract(url, '${ops.WebOps.HostRe}', 1)), '^www\\.', '') AS host FROM u)
         SELECT host, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs FROM h GROUP BY host""")),
    // C4-style duplicated-span coverage (planted near-dups share 5-grams)
    // duplicated-span coverage: DuckDB rebuilds the k-grams with list
    // comprehension slicing (engine: transform over a guarded sequence),
    // hashes with the same sha prefix, and recounts cross-doc occurrence
    QuerySpec("q65_dup_spans", (s, d) => WebOps.dupSpanStats(s, d), Oracle {
      val k = ops.WebOps.SpanK
      s"""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents),
         g AS (SELECT doc_id, CASE WHEN len(words) >= $k
                 THEN list_distinct([substr(sha256(array_to_string(words[i:i+${k - 1}], ' ')), 1, 16) for i in range(1, len(words)-${k - 2})])
                 ELSE CAST([] AS VARCHAR[]) END AS grams FROM d),
         e AS (SELECT doc_id, unnest(grams) AS gram_h FROM g),
         c AS (SELECT gram_h, count(*) AS cnt FROM e GROUP BY 1),
         a AS (SELECT e.doc_id, count(*) AS n_grams,
                      sum(CASE WHEN c.cnt >= 2 THEN 1 ELSE 0 END) AS n_dup_grams
               FROM e JOIN c USING (gram_h) GROUP BY 1)
         SELECT g.doc_id,
                CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
                CAST(coalesce(a.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
                CAST(CASE WHEN coalesce(a.n_grams, 0) = 0 THEN 0
                     ELSE a.n_dup_grams * 10000 // a.n_grams END AS BIGINT) AS dup_span_frac_x10000
         FROM g LEFT JOIN a USING (doc_id)"""
    }),
    // linear quality-model application (integer dot product, exact oracle)
    // linear quality model: integer features (the q15 definitions) dotted
    // with the engine's literal weights — exact in any engine
    QuerySpec("q66_quality_logit", (s, d) => TextOps.qualityLogit(s, d), Oracle {
      val Seq(wTok, wLen, wStop, wPunct) = ops.TextOps.QualityLogitWeights
      s"""SELECT doc_id, n_tokens, mean_wordlen_x100, stopword_x1000, n_punct,
                n_tokens * $wTok + mean_wordlen_x100 * $wLen
                  + stopword_x1000 * $wStop + n_punct * $wPunct AS logit,
                n_tokens * $wTok + mean_wordlen_x100 * $wLen
                  + stopword_x1000 * $wStop + n_punct * $wPunct
                  >= ${ops.TextOps.QualityLogitThreshold} AS model_pass
         FROM ($qualityFeatureSql) t"""
    }),
    // crawl-hygiene domain blocklist (narrow exists over extracted URLs)
    QuerySpec("q67_domain_filter", (s, _) =>
      WebOps.domainFilter(graft.synth.WebDocs.docs(s, VerifyWebDocs)), Oracle(
      s"""SELECT doc_id,
                CAST(len(regexp_extract_all(text, '${ops.WebOps.UrlRe}')) AS BIGINT) AS n_urls
         FROM read_parquet('__SYNTH__/web_docs.parquet/*.parquet')
         WHERE len(list_filter(regexp_extract_all(text, '${ops.WebOps.UrlRe}'),
               u -> list_contains([${ops.WebOps.BlockedHosts.map(h => s"'$h'").mkString(", ")}],
                    regexp_replace(lower(regexp_extract(u, '${ops.WebOps.HostRe}', 1)), '^www\\.', '')))) = 0""")),
    // --- round-3 additions ---
    // ad-hoc SQL surface: engine tables as temp views + the reference's
    // policy query (always join doc_info, group by doc, top_k 50)
    // ad-hoc SQL policy query: DuckDB rebuilds doc_info (registry dense
    // ids) and the material_usage shred from the records table and runs
    // the SAME policy aggregation/ordering/limit as SqlSurface.PolicySql
    QuerySpec("q68_sql_policy", (s, _) => SqlSurface.policySummary(s, verifyRecords(s)), Oracle(
      """WITH rp AS (SELECT * FROM read_parquet('__SYNTH__/records.parquet/*.parquet')),
         d AS (SELECT conv_id, row_number() OVER (ORDER BY conv_id) AS reg_id
               FROM (SELECT DISTINCT conv_id FROM rp)),
         m AS (SELECT conv_id, r.actual_quantity AS actual_quantity,
                      r.actual_quantity BETWEEN r.allowed_range_min AND r.allowed_range_max AS quantity_within_range
               FROM (SELECT conv_id, unnest(material_usage_rows) AS r FROM rp))
         SELECT d.conv_id, d.reg_id,
                count(*) AS n_materials,
                CAST(sum(CASE WHEN NOT m.quantity_within_range THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
                CAST(sum(CAST(m.actual_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_actual_qty
         FROM m JOIN d ON m.conv_id = d.conv_id
         GROUP BY d.conv_id, d.reg_id
         ORDER BY n_violations DESC, d.conv_id ASC
         LIMIT 50""")),
    // schema identification: try-parse dispatch against candidate schemas
    // in deterministic first-match order (ambiguous + malformed planted)
    // schema dispatch: DuckDB re-classifies the SAME payloads via JSON
    // field-presence predicates in the SAME first-match order (json_valid
    // guard nulls out malformed payloads -> 'unknown', as the engine's
    // from_json null-struct does)
    QuerySpec("q69_schema_classify", (s, _) =>
      SchemaOps.classifyJson(graft.synth.JsonRecords.docs(s, VerifyJsonRecords), "payload")
        .select(col("rec_id"), col("schema_name"), col("key_field")), Oracle(
      """WITH r AS (SELECT rec_id, CASE WHEN json_valid(payload) THEN payload ELSE NULL END AS j
                    FROM read_parquet('__SYNTH__/json_records.parquet/*.parquet'))
         SELECT rec_id,
                CASE WHEN json_extract_string(j, '$.material_name') IS NOT NULL THEN 'material_usage'
                     WHEN json_extract_string(j, '$.step_no') IS NOT NULL THEN 'step'
                     WHEN json_extract_string(j, '$.time_point') IS NOT NULL THEN 'temperature'
                     ELSE 'unknown' END AS schema_name,
                CASE WHEN json_extract_string(j, '$.material_name') IS NOT NULL THEN json_extract_string(j, '$.material_name')
                     WHEN json_extract_string(j, '$.step_no') IS NOT NULL THEN json_extract_string(j, '$.description')
                     WHEN json_extract_string(j, '$.time_point') IS NOT NULL THEN json_extract_string(j, '$.time_point')
                     ELSE NULL END AS key_field
         FROM r""")),
    // exact-before-near dedup composition: the canonical keep-set frame
    // that feeds the near-dup family (DedupOps.nearDupPairsCanonical)
    QuerySpec("q70_canonical_docs", (s, d) =>
      DedupOps.canonicalDocs(s, d).select(col("doc_id"), col("lang")), Oracle(
      """SELECT doc_id, lang FROM documents
         WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY sha256(text))""")),
    // snapshot diff (T6): planted next-snapshot delta — first 5 convs
    // deleted, every turn 0 drifted, one turn added per conv ≡ 0 mod 10 —
    // the engine's content-hash anti join must find EXACTLY that delta
    // snapshot diff: DuckDB derives the SAME planted delta from the
    // mutation rules (drifted turn-0 rows of surviving convs + the added
    // turn-999 rows) — deletions are correctly absent from the diff
    QuerySpec("q71_snapshot_diff", (s, _) =>
      Pipeline.changedTurnKeys(SynthDataset.turns(s, VerifyConvs), verifyNextSnapshot(s)), Oracle(
      """WITH g AS (SELECT DISTINCT conv_id, turn_idx
                    FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')
                    WHERE conv_id >= 'conv-000005')
         SELECT conv_id, turn_idx FROM g WHERE turn_idx = 0
         UNION ALL
         SELECT DISTINCT conv_id, CAST(999 AS INT) AS turn_idx FROM g
         WHERE CAST(substr(conv_id, 6) AS INT) % 10 = 0""")),
    // RAG overlap chunking (ref config 128/16; verify-scale 32/8 so the
    // short sf docs genuinely multi-chunk — defaults pinned by RagOpsSpec)
    // RAG chunking: DuckDB re-chunks via 1-based stride range + inclusive
    // list slicing (engine: 0-based sequence + slice) and shas the joined
    // chunk tokens — byte equality of every chunk's content
    QuerySpec("q72_rag_chunks", (s, d) =>
      RagOps.chunkDocs(RelationalOps.table(s, d, "documents"),
        RagOps.VerifyChunkSize, RagOps.VerifyChunkOverlap), Oracle {
      val sz = ops.RagOps.VerifyChunkSize
      val stride = sz - ops.RagOps.VerifyChunkOverlap
      s"""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents),
         c AS (SELECT doc_id, words, len(words) AS n,
                      unnest(range(1, len(words) + 1, $stride)) AS s,
                      generate_subscripts(range(1, len(words) + 1, $stride), 1) - 1 AS chunk_idx
               FROM d)
         SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx, CAST(s - 1 AS INT) AS start_tok,
                CAST(least($sz, n - (s - 1)) AS INT) AS n_chunk_tokens,
                sha256(array_to_string(words[s : s + ${sz - 1}], ' ')) AS chunk_sha
         FROM c"""
    }),
    // RAG chunk-level retrieval with doc provenance + accept threshold
    // RAG retrieval: DuckDB rebuilds the chunk count-vectors (sha-prefix
    // feature hashing), scores every (query chunk, corpus chunk) pair
    // with the SAME exact-integer cos^2 x10000, keeps the best chunk per
    // corpus doc (provenance) and the top-k docs per query chunk
    QuerySpec("q73_rag_retrieve", (s, d) => RagOps.retrieveChunks(s, d), Oracle {
      val sz = ops.RagOps.VerifyChunkSize
      val stride = sz - ops.RagOps.VerifyChunkOverlap
      val dims = ops.RagOps.RagDims
      s"""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents),
         c AS (SELECT doc_id,
                      generate_subscripts(range(1, len(words) + 1, $stride), 1) - 1 AS chunk_idx,
                      unnest(range(1, len(words) + 1, $stride)) AS s,
                      words FROM d),
         t AS (SELECT doc_id, chunk_idx, s - 1 AS start_tok, words[s : s + ${sz - 1}] AS toks FROM c),
         v AS (SELECT doc_id, chunk_idx, start_tok,
                      [CAST(len(list_filter(toks, tk ->
                         (CAST('0x' || substr(sha256(tk), 1, 8) AS BIGINT) % $dims) = dd)) AS BIGINT)
                       for dd in range(0, $dims)] AS vec
               FROM t),
         nn AS (SELECT *, CAST(list_sum([x * x for x in vec]) AS BIGINT) AS nrm FROM v),
         q AS (SELECT doc_id AS q_doc, chunk_idx AS q_chunk, vec AS q_vec, nrm AS q_nrm
               FROM nn WHERE doc_id < ${ops.RagOps.RagNQueryDocs}),
         cor AS (SELECT * FROM nn WHERE doc_id >= ${ops.RagOps.RagNQueryDocs}),
         sc0 AS (SELECT q.q_doc, q.q_chunk, cor.doc_id, cor.chunk_idx, cor.start_tok,
                        q.q_nrm, cor.nrm,
                        CAST(list_sum([q.q_vec[i] * cor.vec[i] for i in range(1, ${dims + 1})]) AS BIGINT) AS dot
                 FROM q CROSS JOIN cor),
         sc AS (SELECT q_doc, q_chunk, doc_id, chunk_idx, start_tok,
                       CAST(CASE WHEN q_nrm = 0 OR nrm = 0 THEN 0
                            ELSE (dot * dot * 10000) // (q_nrm * nrm) END AS BIGINT) AS cos2_x10000
                FROM sc0),
         b AS (SELECT q_doc, q_chunk, doc_id,
                      max(cos2_x10000) AS cos2_x10000,
                      first(chunk_idx ORDER BY cos2_x10000 DESC, chunk_idx ASC) AS best_chunk_idx,
                      first(start_tok ORDER BY cos2_x10000 DESC, chunk_idx ASC) AS best_start_tok
               FROM sc GROUP BY 1, 2, 3),
         r AS (SELECT *, row_number() OVER (PARTITION BY q_doc, q_chunk
                         ORDER BY cos2_x10000 DESC, doc_id ASC) AS rank FROM b)
         SELECT q_doc, CAST(q_chunk AS INT) AS q_chunk, CAST(rank AS INT) AS rank, doc_id,
                CAST(best_chunk_idx AS INT) AS best_chunk_idx,
                CAST(best_start_tok AS INT) AS best_start_tok,
                CAST(cos2_x10000 AS BIGINT) AS cos2_x10000,
                cos2_x10000 >= ${ops.RagOps.VerifyRagThresholdX10000} AS accepted
         FROM r WHERE rank <= ${ops.RagOps.RagK}"""
    }),
    // the surfaced LSH auto-tune derivation (sample estimates + chosen
    // params) — DuckDB recomputes the whole chain independently
    // LSH auto-tune derivation, recomputed END TO END by DuckDB: sample
    // cosines + top-k neighbor selection, empirical plane-sign agreement
    // (the same 128-plane family), the fixed-point (b, l) grid search,
    // and the chosen row's estimates
    QuerySpec("q74_lsh_params", (s, d) => SimilarityOps.lshParamsDf(s, d), Oracle(
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         $lshCandidateCtes
         SELECT CAST(ch.b AS INT) AS n_planes, CAST(ch.l AS INT) AS n_tables,
                t.qnear AS q_near_x10000, t.qrand AS q_rand_x10000,
                CAST(g.r AS BIGINT) AS exp_recall_x10000, CAST(g.v AS BIGINT) AS exp_volume_x10000
         FROM chosen ch, tune t, grid g WHERE g.b = ch.b AND g.l = ch.l""")),
    // integer-LM surprise quality filter (CCNet shape: unigram LM trained
    // on the quality-passing subset, every doc scored in whole bits)
    // integer-LM surprise: DuckDB retrains the unigram LM on the same
    // quality-passing subset (shared qualityFeatureSql) and rescores every
    // doc by explode + LEFT JOIN (the orthogonal algorithm to the engine's
    // broadcast-map fold). bits(x) = floor(log2 x) = length(bin(x)) - 1;
    // both engines' binary strings are unpadded, so the log is exact.
    QuerySpec("q75_lm_surprise", (s, d) => TextOps.lmSurprise(s, d), Oracle(
      s"""WITH $lmSurpriseAggSql
         SELECT doc_id, n_tokens, surprise_bits, mean_surprise_x100,
                n_tokens > 0 AND mean_surprise_x100 <= ${ops.TextOps.LmSurpriseThresholdX100} AS lm_pass
         FROM (SELECT d.doc_id,
                      CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
                      CAST(coalesce(a.surprise_bits, 0) AS BIGINT) AS surprise_bits,
                      CAST(CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0
                           ELSE a.surprise_bits * 100 // a.n_tokens END AS BIGINT) AS mean_surprise_x100
               FROM documents d LEFT JOIN agg a USING (doc_id)) t""")),
    // C4-style duplicated-span removal (the cleaning step measured by
    // q65): first occurrence wins, kept text sha'd for byte equality
    // duplicated-span removal: DuckDB recomputes positioned grams, picks
    // the same lexicographic-first keeper via a window (the orthogonal
    // algorithm to the engine's min-struct agg), masks tokens with a
    // range anti-exists, and shas the kept sequence
    QuerySpec("q76_remove_dup_spans", (s, d) => WebOps.removeDupSpans(s, d), Oracle {
      val k = ops.WebOps.SpanK
      s"""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS words FROM documents),
         g0 AS (SELECT doc_id, CASE WHEN len(words) >= $k
                  THEN [substr(sha256(array_to_string(words[i:i+${k - 1}], ' ')), 1, 16) for i in range(1, len(words)-${k - 2})]
                  ELSE CAST([] AS VARCHAR[]) END AS grams FROM d),
         g AS (SELECT doc_id, generate_subscripts(grams, 1) AS pos, unnest(grams) AS gram_h FROM g0),
         r AS (SELECT doc_id, pos,
                      row_number() OVER (PARTITION BY gram_h ORDER BY doc_id, pos) AS rn
               FROM g),
         rem AS (SELECT doc_id, pos FROM r WHERE rn > 1),
         tok AS (SELECT doc_id, generate_subscripts(words, 1) AS j, unnest(words) AS w FROM d),
         kept AS (SELECT t.doc_id, t.j, t.w FROM tok t
                  WHERE NOT EXISTS (SELECT 1 FROM rem x
                                    WHERE x.doc_id = t.doc_id
                                      AND t.j BETWEEN x.pos AND x.pos + ${k - 1})),
         a AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                      sha256(string_agg(w, ' ' ORDER BY j)) AS cleaned_sha
               FROM kept GROUP BY 1)
         SELECT d.doc_id, CAST(len(words) AS BIGINT) AS n_tokens,
                CAST(len(words) - coalesce(a.n_kept, 0) AS BIGINT) AS n_removed,
                coalesce(a.cleaned_sha, sha256('')) AS cleaned_sha
         FROM d LEFT JOIN a USING (doc_id)"""
    }),
    // SFT pair assembly: user turn + immediately-following assistant
    // turn over EXTRACTED text (re-pins extraction equality per pair)
    // SFT pairs: DuckDB re-derives adjacency with lead() over the golden
    // turns and shas the generator's by-construction expected text — the
    // engine's pair shas over EXTRACTED text must equal them byte-for-byte
    QuerySpec("q77_sft_pairs", (s, _) =>
      TrainingOps.sftPairs(s, SynthDataset.turns(s, VerifyConvs)), Oracle(
      """WITH t AS (SELECT conv_id, turn_idx, role, expected_text,
                           lead(role) OVER w AS next_role,
                           lead(turn_idx) OVER w AS next_idx,
                           lead(expected_text) OVER w AS next_text
                    FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')
                    WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
         SELECT conv_id, CAST(turn_idx AS INTEGER) AS prompt_idx,
                sha256(expected_text) AS prompt_sha,
                sha256(next_text) AS response_sha,
                CAST(length(expected_text) + length(next_text) AS BIGINT) AS n_chars
         FROM t
         WHERE role = 'user' AND next_role = 'assistant' AND next_idx = turn_idx + 1""")),
    // chat-context assembly: per assistant turn, the maximal contiguous
    // run of preceding turns fitting a token budget (the context an SFT
    // fine-tune packs in front of the target), sha'd over extracted text
    // running token sums are non-decreasing, so the budget-fitting run is
    // exactly the preceding turns with pre >= pre(target) - budget; the
    // oracle rebuilds the same per-conv list and filters it per target
    QuerySpec("q78_context_assembly", (s, _) =>
      TrainingOps.contextAssembly(s, SynthDataset.turns(s, VerifyConvs)), Oracle(
      s"""WITH t AS (SELECT conv_id, turn_idx, role, expected_text,
                           COALESCE(SUM(len(list_filter(
                               regexp_split_to_array(expected_text, '\\s+'), x -> x <> '')))
                             OVER (PARTITION BY conv_id ORDER BY turn_idx
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
                    FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')),
         l AS (SELECT conv_id,
                      list(struct_pack(turn_idx := turn_idx, pre := pre,
                                       txt := expected_text) ORDER BY turn_idx) AS arr
               FROM t GROUP BY conv_id),
         a AS (SELECT t.conv_id, t.turn_idx, t.pre,
                      list_filter(l.arr, x -> x.turn_idx < t.turn_idx
                        AND x.pre >= t.pre - ${TrainingOps.CtxBudgetTokens}) AS kept
               FROM t JOIN l USING (conv_id)
               WHERE t.role = 'assistant')
         SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx,
                CAST(len(kept) AS INTEGER) AS n_ctx_turns,
                CAST(CASE WHEN len(kept) > 0 THEN pre - kept[1].pre ELSE 0 END AS BIGINT) AS ctx_tokens,
                sha256(coalesce(array_to_string([x.txt for x in kept], chr(10)), '')) AS ctx_sha
         FROM a""")),
    // distributed BPE tokenizer training: q79 is the kernel of one round
    // (weighted adjacent-pair counts), q80 the learned merge table after
    // DefaultMerges rounds, q81 the corpus re-encoded with those merges
    // BPE family: DuckDB independently retrains the merges from raw text
    // via BpeOps.duckdbTrainCtes (same packed-string replace semantics,
    // same tie-breaks, same MinWordCount training floor; encodes go
    // through the unfloored duckdbMapCtes mapping chain, mirroring the
    // engine's total merge-fold encoder) — nothing engine-materialized
    // is trusted
    QuerySpec("q79_bpe_pair_counts", (s, d) => BpeOps.topPairs(s, d), Oracle(
      s"""WITH ${BpeOps.duckdbTrainCtes(0)},
         p1 AS (SELECT pr.l AS lhs, pr.r AS rhs, CAST(SUM(cnt) AS BIGINT) AS pair_count FROM (
             SELECT unnest([{'l': s[i], 'r': s[i+1]} for i in range(1, len(s))]) AS pr, cnt FROM (
               SELECT str_split(trim(packed), '  ') AS s, cnt FROM w0) z) e
             GROUP BY pr.l, pr.r)
         SELECT lhs, rhs, pair_count FROM p1
         ORDER BY pair_count DESC, lhs ASC, rhs ASC LIMIT ${BpeOps.PairTopK}""")),
    QuerySpec("q80_bpe_merges", (s, d) => BpeOps.mergeTable(s, d), Oracle {
      val rounds = (1 to BpeOps.DefaultMerges)
        .map(r => s"SELECT $r AS rr, lhs, rhs, pair_count FROM m$r")
        .mkString(" UNION ALL ")
      s"""WITH ${BpeOps.duckdbTrainCtes(BpeOps.DefaultMerges)}
         SELECT CAST(rr AS INTEGER) AS merge_rank, lhs, rhs, pair_count
         FROM ($rounds) allm"""
    }),
    QuerySpec("q81_bpe_encode", (s, d) => BpeOps.encode(s, d), Oracle {
      val n = BpeOps.DefaultMerges
      s"""WITH ${BpeOps.duckdbTrainCtes(n)}${BpeOps.duckdbMapCtes(n)},
         enc AS (SELECT word, trim(packed) AS e FROM v$n),
         docw AS (SELECT doc_id,
                         list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'), x -> x <> '') AS ws
                  FROM documents),
         ex AS (SELECT doc_id, generate_subscripts(ws, 1) AS pos, unnest(ws) AS word FROM docw),
         j AS (SELECT ex.doc_id, ex.pos, enc.e FROM ex JOIN enc USING (word)),
         agg AS (SELECT doc_id, CAST(count(*) AS INTEGER) AS n_words,
                        CAST(SUM(len(str_split(e, '  '))) AS BIGINT) AS n_bpe_tokens,
                        sha256(string_agg(e, ' | ' ORDER BY pos)) AS enc_sha
                 FROM j GROUP BY doc_id)
         SELECT d.doc_id, coalesce(a.n_words, 0) AS n_words,
                coalesce(a.n_bpe_tokens, 0) AS n_bpe_tokens,
                coalesce(a.enc_sha, sha256('')) AS enc_sha
         FROM docw d LEFT JOIN agg a USING (doc_id)"""
    }),
    // time-gap sessionization of the event stream (lag + running break
    // count in one user-partitioned window; rollup reuses the partitioning)
    QuerySpec("q82_sessionize", (s, d) => RelationalOps.sessionize(s, d), Oracle(
      s"""WITH e AS (SELECT user_id, event_id, ts, event_type, epoch_us(ts) AS us FROM events),
         b AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL
                                OR us - lag(us) OVER w > ${RelationalOps.SessionGapUs}
                              THEN 1 ELSE 0 END AS brk
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         s AS (SELECT *, CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                             ROWS UNBOUNDED PRECEDING) - 1 AS INTEGER) AS session_idx
               FROM b)
         SELECT user_id, session_idx,
                CAST(count(*) AS BIGINT) AS n_events,
                min(ts) AS start_ts, max(ts) AS end_ts,
                CAST(max(us) - min(us) AS BIGINT) AS duration_us,
                CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS n_errors
         FROM s GROUP BY user_id, session_idx""")),
    // exact per-language token-count quantiles via integer rank math
    // the p-th percentile is the value at 1-based rank ceil(p/100*n) of
    // the sorted counts — integer rank math, identical in both engines
    QuerySpec("q83_token_quantiles", (s, d) => TextOps.tokenQuantiles(s, d), Oracle(
      s"""WITH d AS (SELECT lang,
                CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS n_tokens
              FROM documents),
         r AS (SELECT lang, n_tokens,
                      row_number() OVER (PARTITION BY lang ORDER BY n_tokens) AS rn,
                      count(*) OVER (PARTITION BY lang) AS n
               FROM d),
         x AS (SELECT lang, n_tokens, rn, n,
                      unnest([${TextOps.QuantilePcts.mkString(", ")}]) AS pct
               FROM r)
         SELECT lang, CAST(pct AS INTEGER) AS pct, n_tokens AS token_count,
                CAST(n AS BIGINT) AS n_docs
         FROM x WHERE rn = (n * pct + 99) // 100""")),
    // REAL PNG encode->decode round-trip (JDK ImageIO): features come
    // from the decoded raster; the oracle recomputes them from text
    // the engine's features come from a REAL PNG decode of a real PNG
    // encode; the oracle recomputes the planted pixels from text, so a
    // match proves the codec round-trip is pixel-exact
    QuerySpec("q84_image_codec", (s, d) => MultimodalOps.imageFeatures(s, d), Oracle(codecFeatureOracleSql)),
    // exact fixed-point PageRank over the host co-link graph
    // DuckDB re-runs ALL PageRank rounds from raw text via the generated
    // CTE chain (same regexes, same integer floor arithmetic)
    QuerySpec("q85_host_rank", (s, _) =>
      WebOps.hostRank(graft.synth.WebDocs.docs(s, VerifyWebDocs)), Oracle(
      s"""WITH ${WebOps.duckdbRankCtes(WebOps.RankIters, "__SYNTH__/web_docs.parquet/*.parquet")}
         SELECT host, CAST(rank AS BIGINT) AS rank_x1e12 FROM r${WebOps.RankIters}""")),
    // TF-IDF keyword extraction with exact whole-bit integer idf
    // idf = whole-bit log2 of N*10^4/df via unpadded binary length (the
    // q75 recipe) — integer score, no float log to reconcile
    QuerySpec("q86_tfidf_keywords", (s, d) => TextOps.tfidfKeywords(s, d), Oracle(
      s"""WITH w AS (SELECT doc_id,
                unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS word
              FROM documents),
         tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY doc_id, word),
         df AS (SELECT word, count(DISTINCT doc_id) AS df FROM w GROUP BY word),
         n AS (SELECT count(*) AS n FROM documents),
         s AS (SELECT tf.doc_id, tf.word, tf.tf,
                      CAST(tf.tf * (length(bin((SELECT n FROM n) * 10000 // df.df)) - 1) AS BIGINT) AS score
               FROM tf JOIN df USING (word)),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word ASC) AS rn FROM s)
         SELECT doc_id, word, tf, score, CAST(rn AS INTEGER) AS rank
         FROM r WHERE rn <= ${TextOps.KeywordK}""")),
    // --- round-4 additions ---
    // graph-query surface: the reference's worked Cypher (float-cast
    // range predicate over string node properties) over a depth-bounded
    // HAS traversal from the document roots, top_k 50
    // q87: DuckDB recomputes the whole graph-query chain independently —
    // per-label node signatures (the q44/q55 recipe), the HAS edge table,
    // the depth-bounded traversal via self-joins, the string property
    // values, and the float-cast range predicate + top_k 50
    QuerySpec("q87_graph_range_query", (s, _) =>
      GraphSurface.rangeQuery(s, verifyRecords(s)), Oracle(
      s"""WITH $graphSigCtes,
         roots AS (SELECT DISTINCT sig FROM root),
         hop1 AS (SELECT e.child_sig AS sig FROM roots JOIN edges e ON e.parent_sig = roots.sig),
         hop2 AS (SELECT e.child_sig AS sig FROM hop1 JOIN edges e ON e.parent_sig = hop1.sig),
         reached AS (SELECT DISTINCT sig FROM (SELECT sig FROM hop1 UNION ALL SELECT sig FROM hop2)),
         nodes AS (SELECT DISTINCT sig, material_name, actual_quantity, allowed_range_min, allowed_range_max
                   FROM mat WHERE sig IN (SELECT sig FROM reached))
         SELECT sig AS signature, material_name, actual_quantity, allowed_range_min, allowed_range_max
         FROM nodes
         WHERE CAST(actual_quantity AS DOUBLE) > CAST(allowed_range_min AS DOUBLE)
           AND CAST(actual_quantity AS DOUBLE) < CAST(allowed_range_max AS DOUBLE)
         ORDER BY signature ASC
         LIMIT 50""")),
    // cross-family SQL surface: extraction health x rule violations per
    // document over the full engine-view catalog (doc_info join policy,
    // top_k 50)
    // q88: extraction failures (golden expectations) x rule violations
    // (re-derived from raw records) joined on the document key — DuckDB
    // recomputes both families independently
    QuerySpec("q88_cross_family", (s, d) =>
      SqlSurface.crossFamilySummary(s, d, SynthDataset.turns(s, VerifyConvs),
        verifyRecords(s)), Oracle(
      """WITH t AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
                CAST(sum(CASE WHEN expected_failure IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_failures
              FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')
              GROUP BY 1),
         rp AS (SELECT * FROM read_parquet('__SYNTH__/records.parquet/*.parquet')),
         d AS (SELECT conv_id, row_number() OVER (ORDER BY conv_id) AS reg_id
               FROM (SELECT DISTINCT conv_id FROM rp)),
         v AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_violations
               FROM (SELECT conv_id, unnest(material_usage_rows) AS r FROM rp)
               WHERE NOT (r.actual_quantity BETWEEN r.allowed_range_min AND r.allowed_range_max)
               GROUP BY 1)
         SELECT t.conv_id, d.reg_id, t.n_turns, t.n_failures,
                coalesce(v.n_violations, 0) AS n_violations
         FROM t JOIN d ON t.conv_id = d.conv_id
         LEFT JOIN v ON t.conv_id = v.conv_id
         ORDER BY n_failures DESC, n_violations DESC, t.conv_id ASC
         LIMIT 50""")),
    // second REAL lossless codec (JDK ImageIO BMP): same text-derived
    // oracle as q84 — a green row proves the BMP encode->decode path
    // pixel-exact too (JPEG, lossy, is bounded by a local tolerance test)
    // q89: identical expected values to q84 — the BMP round-trip must be
    // just as pixel-exact as the PNG one (GIF was probed and REJECTED
    // here: ImageIO's GIF writer palette-quantizes even 256-level
    // grayscale, so it belongs to the q98 lossy family, not this exact
    // one)
    QuerySpec("q89_bmp_codec", (s, d) => MultimodalOps.codecFeatures(s, d, "bmp"),
      Oracle(codecFeatureOracleSql)),
    // driver-visible streaming surface: the synthetic corpus lands as a
    // file-source stream, drains through readStream -> extract -> parquet
    // sink (checkpointed, Trigger.AvailableNow), and the STREAM-PRODUCED
    // table is what the oracle compares against the golden expectations —
    // per-turn text equality THROUGH the streaming path
    // q90: the q28 per-turn text-equality oracle, but the engine side is
    // the STREAM-produced parquet table — green means the streaming path
    // extracts byte-identically to the golden expectations
    QuerySpec("q90_stream_extract", (s, _) => {
      val base = scratchDir("stream_q90", "synth")
      SynthDataset.turns(s, VerifyConvs).toDF()
        .write.mode("overwrite").parquet(s"$base/in")
      graft.streaming.StreamingExtract
        .runAvailableNow(s, s"$base/in", s"$base/out", s"$base/ck")
        .awaitTermination()
      s.read.parquet(s"$base/out")
        .select(col("conv_id"), col("turn_idx"), col("kind"),
          length(col("extracted_text")).as("n_chars_out"),
          sha2(col("extracted_text"), 256).as("text_sha"), col("failure"))
    }, Oracle(
      """SELECT conv_id, turn_idx, kind,
         CAST(length(expected_text) AS INTEGER) AS n_chars_out,
         sha256(expected_text) AS text_sha,
         expected_failure AS failure
         FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')""")),
    // per-root reachable-subtree rollup over the graph views: distinct
    // node count by label within 2 HAS hops of each document root (the
    // graph-shaped "what does this document contain" summary)
    // q91: DuckDB rebuilds the same signature graph, then rolls up the
    // per-root 2-hop reachable set by node label
    QuerySpec("q91_graph_subtree_rollup", (s, _) =>
      GraphSurface.subtreeRollup(s, verifyRecords(s)), Oracle(
      s"""WITH $graphSigCtes,
         verts AS (SELECT DISTINCT sig, label FROM (
           SELECT sig, 'main_table' AS label FROM root
           UNION ALL SELECT sig, 'main_table_batch_details' FROM bd
           UNION ALL SELECT sig, 'main_table_material_usage_rows' FROM mat
           UNION ALL SELECT sig, 'main_table_steps' FROM st
           UNION ALL SELECT sig, 'main_table_steps_temperature_records' FROM tr) u),
         roots AS (SELECT DISTINCT sig AS root_sig FROM root),
         hop1 AS (SELECT r2.root_sig, e.child_sig AS sig FROM roots r2
                  JOIN edges e ON e.parent_sig = r2.root_sig),
         hop2 AS (SELECT h.root_sig, e.child_sig AS sig FROM hop1 h
                  JOIN edges e ON e.parent_sig = h.sig),
         reached AS (SELECT DISTINCT root_sig, sig
                     FROM (SELECT root_sig, sig FROM hop1 UNION ALL SELECT root_sig, sig FROM hop2) u)
         SELECT rc.root_sig, v.label, count(*) AS n_nodes
         FROM reached rc JOIN verts v ON v.sig = rc.sig
         GROUP BY 1, 2""")),
    // domain-mixture sampling: cap every source at a token budget with an
    // exact fixed-point keep-fraction and a deterministic sha-bucket gate
    // q92: DuckDB recomputes the per-source totals, the fixed-point
    // keep-fraction and the sha-bucket gate independently
    QuerySpec("q92_mixture_sample", (s, d) => TrainingOps.mixtureSample(s, d), Oracle(
      s"""WITH d AS (SELECT doc_id, source,
                CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
              FROM documents),
         t AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM d GROUP BY 1),
         f AS (SELECT source,
                 CASE WHEN total_tokens = 0 THEN 0
                      ELSE least(10000, (${TrainingOps.DefaultMixBudget} * CAST(10000 AS BIGINT)) // total_tokens)
                 END AS frac_x10000
               FROM t)
         SELECT d.doc_id, d.source, d.n_tokens, f.frac_x10000
         FROM d JOIN f USING (source)
         WHERE CAST('0x' || substr(sha256('${TrainingOps.DefaultSeed}|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < f.frac_x10000""")),
    // cluster-balanced sampling: cap every IVF cell (latent topic) at a
    // document budget — same fixed-point gate, balance by embedding
    // cluster instead of declared source
    // q93: DuckDB re-derives the cell assignment from the materialized
    // centroids (the q54-proven fixed-point argmin), then recomputes the
    // per-cell cap fraction and the sha gate independently
    QuerySpec("q93_cluster_balance", (s, d) => TrainingOps.clusterBalancedSample(s, d), Oracle(
      s"""WITH c AS (SELECT cell, CAST(centroid AS DOUBLE[]) AS cv
                    FROM read_parquet('__SYNTH__/centroids.parquet/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         a AS MATERIALIZED (SELECT vec_id,
                      first(cell ORDER BY CAST(floor(list_distance(v, cv) * 10000) AS BIGINT) ASC, cell ASC) AS cell
               FROM e CROSS JOIN c GROUP BY vec_id),
         t AS (SELECT cell, count(*) AS cnt FROM a GROUP BY 1),
         f AS (SELECT cell,
                 least(10000, (${TrainingOps.DefaultCellCap} * CAST(10000 AS BIGINT)) // cnt) AS frac_x10000
               FROM t)
         SELECT a.vec_id, a.cell, f.frac_x10000
         FROM a JOIN f USING (cell)
         WHERE CAST('0x' || substr(sha256('${TrainingOps.DefaultSeed}|' || CAST(a.vec_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 < f.frac_x10000""")),
    // driver-visible lineage: run the extraction pipeline WITH the
    // per-partition lineage accumulator, roll the (partition-count-
    // bounded) rows up to snapshot totals — the oracle recomputes the
    // totals from the golden corpus, proving the metrics side-channel
    // observes exactly the work done
    // q94: the lineage totals must equal corpus ground truth — turn
    // count, failure-injection count, input byte (char) count
    QuerySpec("q94_lineage_rollup", (s, _) => {
      import s.implicits._
      val turns = SynthDataset.turns(s, VerifyConvs)
      val (out, lineage) =
        graft.pipeline.Pipeline.runWithLineage(s, turns, "snap-v1")
      out.count() // force the job; lineage() is valid only after an action
      val rows = lineage()
      Seq((
        "snap-v1",
        rows.map(_.turn_count).sum,
        rows.map(_.failure_count).sum,
        rows.map(_.bytes_processed).sum
      )).toDF("input_snapshot", "n_turns", "n_failures", "bytes_in")
    }, Oracle(
      """SELECT 'snap-v1' AS input_snapshot,
         count(*) AS n_turns,
         CAST(sum(CASE WHEN expected_failure IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_failures,
         CAST(sum(coalesce(length(text), 0)) AS BIGINT) AS bytes_in
         FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')""")),
    // as-of join (trades-to-quotes shape): each purchase attributed to
    // the latest prior-or-equal view by the same user — one user-keyed
    // running window over the union, never a per-row lookup
    // q95: DuckDB's NATIVE ASOF JOIN is the oracle — the engine's
    // window-carry composition must agree with the real operator
    QuerySpec("q95_asof_join", (s, d) => RelationalOps.asofJoin(s, d), Oracle(
      """SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_ts_us,
         coalesce(v.event_id, -1) AS view_event_id,
         coalesce(epoch_us(v.ts), -1) AS view_ts_us,
         CASE WHEN v.event_id IS NULL THEN -1
              ELSE epoch_us(p.ts) - epoch_us(v.ts) END AS lag_us
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         ASOF LEFT JOIN (SELECT user_id, ts, max(event_id) AS event_id
                         FROM events WHERE event_type = 'view' GROUP BY 1, 2) v
           ON p.user_id = v.user_id AND p.ts >= v.ts""")),
    // range (interval) join, bucketed to an equi-join: per-error count
    // of same-user events in the 30-minute follow-up window
    // q96: DuckDB recomputes the interval join as a plain inequality
    // join — the engine's bucket-equi-join + exact filter must agree
    QuerySpec("q96_range_followups", (s, d) => RelationalOps.rangeFollowups(s, d), Oracle(
      s"""SELECT e.event_id AS error_event_id, e.user_id,
         CAST(count(x.event_id) AS BIGINT) AS n_followups
         FROM (SELECT * FROM events WHERE event_type = 'error') e
         LEFT JOIN events x
           ON x.user_id = e.user_id
          AND epoch_us(x.ts) > epoch_us(e.ts)
          AND epoch_us(x.ts) <= epoch_us(e.ts) + ${RelationalOps.FollowupWindowUs}
         GROUP BY 1, 2""")),
    // KMV distinct sketch: k-minimum sha-prefix hashes per event_type —
    // the mergeable distinct estimator whose whole state is
    // deterministic, so sketch AND estimate are oracled exactly
    // q97: DuckDB rebuilds the identical sketch (same hash, same k
    // smallest) and the identical integer estimator
    QuerySpec("q97_kmv_distinct", (s, d) => RelationalOps.kmvDistinct(s, d), Oracle(
      s"""WITH h AS (SELECT DISTINCT event_type,
                CAST('0x' || substr(sha256(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR)), 1, 8) AS BIGINT) AS h
              FROM events WHERE value IS NOT NULL),
         r AS (SELECT event_type, h,
                      row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
         t AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_kmv, max(h) AS kth_min_hash
               FROM r WHERE rn <= ${RelationalOps.KmvK} GROUP BY 1)
         SELECT event_type, n_kmv, kth_min_hash,
           CASE WHEN n_kmv < ${RelationalOps.KmvK} THEN n_kmv
                ELSE ((${RelationalOps.KmvK} - 1) * CAST(4294967296 AS BIGINT)) // greatest(kth_min_hash, 1)
           END AS est_distinct
         FROM t""")),
    // lossy JPEG decode error accounting (real ImageIO encode->decode;
    // dimensions must survive exactly, per-doc error bounded by the
    // local tolerance test)
    QuerySpec("q98_jpeg_error", (s, d) => MultimodalOps.codecError(s, d), RowsOnly(
      "lossy JPEG bytes are codec-version-defined; dimensions and the per-doc error " +
      "bound are pinned by the local tolerance test")),
    // deterministic weighted priority sampling: k smallest
    // hash-div-weight priorities (length-weighted subset, no RNG)
    // q99: DuckDB recomputes the hash, the integer priority and the
    // bottom-k under the same total order
    QuerySpec("q99_priority_sample", (s, d) => TrainingOps.prioritySample(s, d), Oracle(
      s"""SELECT doc_id, weight, h // weight AS priority FROM (
           SELECT doc_id,
                  CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS weight,
                  CAST('0x' || substr(sha256('${TrainingOps.DefaultSeed}|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
           FROM documents) t
         WHERE weight > 0
         ORDER BY priority ASC, doc_id ASC
         LIMIT ${TrainingOps.PrioritySampleK}""")),
    // dataset card: the one-row corpus datasheet (sizes, cardinalities,
    // exact-dup rate, mean length — all exact integers)
    // q100: DuckDB recomputes every datasheet field from the raw corpus
    QuerySpec("q100_dataset_card", (s, d) => TrainingOps.datasetCard(s, d), Oracle(
      """SELECT n_docs, total_tokens, n_sources, n_langs, n_distinct_texts,
         ((n_docs - n_distinct_texts) * 10000) // n_docs AS dup_rate_x10000,
         (total_tokens * 100) // n_docs AS mean_tokens_x100
         FROM (
           SELECT CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS total_tokens,
                  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
                  CAST(count(DISTINCT sha256(coalesce(text, ''))) AS BIGINT) AS n_distinct_texts
           FROM documents) t""")),
    // inverted index: per-term df/ctf + doc-ordered posting list
    // q101: DuckDB rebuilds the index with an ORDER BY string_agg
    QuerySpec("q101_inverted_index", (s, d) => TextOps.invertedIndex(s, d), Oracle(
      s"""WITH w AS (SELECT doc_id,
                unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS word
              FROM documents),
         tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY doc_id, word)
         SELECT word, CAST(count(*) AS BIGINT) AS df, CAST(sum(tf) AS BIGINT) AS total_tf,
                string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR), ',' ORDER BY doc_id) AS postings
         FROM tf GROUP BY word""")),
    // BM25 top-k retrieval in exact integers (whole-bit idf, fixed-point
    // length norm and tf saturation) over a literal query-term set
    // q102: DuckDB reruns the identical integer BM25 chain
    QuerySpec("q102_bm25_topk", (s, d) => TextOps.bm25TopK(s, d), Oracle(
      s"""WITH dl AS (SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS BIGINT) AS dl
              FROM documents),
         n AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS tot FROM dl),
         w AS (SELECT doc_id, word FROM (
                 SELECT doc_id,
                        unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS word
                 FROM documents) z
               WHERE word IN (${TextOps.Bm25DefaultTerms.map(t => s"'$t'").mkString(", ")})),
         tf AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY doc_id, word),
         df AS (SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM w GROUP BY word),
         s AS (SELECT tf.doc_id, tf.word, tf.tf, df.df, dl.dl,
                      (SELECT n FROM n) AS n, ((SELECT tot FROM n) * 100) // (SELECT n FROM n) AS avgdl_x100
               FROM tf JOIN df USING (word) JOIN dl ON dl.doc_id = tf.doc_id),
         x AS (SELECT doc_id,
                      CAST(length(bin(n * 10000 // df)) - 1 AS BIGINT) AS idf_bits,
                      (100 - ${TextOps.Bm25BX100}) + (${TextOps.Bm25BX100} * dl * 100) // avgdl_x100 AS norm_x100,
                      tf
               FROM s),
         y AS (SELECT doc_id, idf_bits,
                      (tf * (${TextOps.Bm25K1X100} + 100) * 10000) // (tf * 100 + (${TextOps.Bm25K1X100} * norm_x100) // 100) AS tfpart_x10000
               FROM x)
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms_matched,
                CAST(sum(idf_bits * tfpart_x10000) AS BIGINT) AS score
         FROM y GROUP BY doc_id
         ORDER BY score DESC, doc_id ASC
         LIMIT ${TextOps.Bm25K}""")),
    // Bloom-prefiltered decontamination: a deterministic 16 KiB bitmap of
    // the eval split's grams bit-tests the train-gram stream BEFORE any
    // shuffle; one-sided error + exact verify join == q56 semantics. The
    // one-row audit (cardinalities, bits set, prefilter pass count,
    // measured false positives, contamination totals) is fully oracled —
    // DuckDB rebuilds the bitmap from the same double-hash arithmetic
    // q103: DuckDB rebuilds the Bloom filter bit-for-bit from the same
    // double-hash arithmetic (all operands < 2^21 — no overflow in either
    // engine), re-runs the prefilter, and measures the same one-sided
    // error; grams are the engine-materialized winnow hashes (the q56
    // precedent — splitmix64 has no DuckDB equivalent)
    QuerySpec("q103_bloom_decontaminate", (s, d) => TrainingOps.bloomDecontaminate(s, d), Oracle(
      s"""WITH g AS (SELECT DISTINCT doc_id, gram FROM (
             SELECT doc_id, unnest(grams) AS gram
             FROM read_parquet('__SYNTH__/grams.parquet/*.parquet')) u),
         s AS (SELECT doc_id,
                      CAST('0x' || substr(sha256('${TrainingOps.DefaultSeed}|' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket
               FROM documents),
         e AS (SELECT DISTINCT gram FROM g JOIN s USING (doc_id) WHERE s.bucket >= ${TrainingOps.TrainPct}),
         t AS (SELECT DISTINCT gram FROM g JOIN s USING (doc_id) WHERE s.bucket < ${TrainingOps.TrainPct}),
         ep AS (SELECT gram,
                       (((gram % ${ops.BloomSketch.P1} + ${ops.BloomSketch.P1}) % ${ops.BloomSketch.P1})
                        + i * (((gram % ${ops.BloomSketch.P2} + ${ops.BloomSketch.P2}) % ${ops.BloomSketch.P2}) + 1)) % ${ops.BloomSketch.MBits} AS pos
                FROM e, range(${ops.BloomSketch.Probes}) r(i)),
         bits AS (SELECT DISTINCT pos FROM ep),
         tp AS (SELECT gram, i,
                       (((gram % ${ops.BloomSketch.P1} + ${ops.BloomSketch.P1}) % ${ops.BloomSketch.P1})
                        + i * (((gram % ${ops.BloomSketch.P2} + ${ops.BloomSketch.P2}) % ${ops.BloomSketch.P2}) + 1)) % ${ops.BloomSketch.MBits} AS pos
                FROM t, range(${ops.BloomSketch.Probes}) r(i)),
         pass AS (SELECT tp.gram FROM tp JOIN bits USING (pos)
                  GROUP BY tp.gram HAVING count(*) = ${ops.BloomSketch.Probes}),
         edg AS (SELECT g.doc_id, g.gram FROM g JOIN s USING (doc_id) WHERE s.bucket >= ${TrainingOps.TrainPct}),
         shared AS (SELECT doc_id, count(*) AS n FROM edg JOIN pass USING (gram) GROUP BY 1)
         SELECT (SELECT count(*) FROM e) AS n_eval_grams,
                (SELECT count(*) FROM g JOIN s USING (doc_id) WHERE s.bucket < ${TrainingOps.TrainPct}) AS n_train_gram_rows,
                (SELECT count(*) FROM bits) AS bloom_bits_set,
                (SELECT count(*) FROM pass) AS n_pass_prefilter,
                (SELECT count(*) FROM pass) - (SELECT count(*) FROM pass JOIN e USING (gram)) AS n_false_pos,
                (SELECT count(*) FROM shared) AS n_contaminated_docs,
                CAST((SELECT coalesce(sum(n), 0) FROM shared) AS BIGINT) AS shared_grams_total""")),
    // skew report: the conversation-length histogram the salted
    // repartition acts on — top-k heavy keys with their salt fan-out
    // q104: DuckDB recomputes the conversation histogram and the same
    // turn-index chunk count from the golden turn table
    QuerySpec("q104_skew_report", (s, _) =>
      graft.pipeline.Pipeline.skewReport(SynthDataset.turns(s, VerifyConvs)), Oracle(
      s"""WITH c AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
                CAST(sum(length(text)) AS BIGINT) AS n_chars,
                CAST(count(DISTINCT turn_idx // ${pipeline.Pipeline.DefaultLongConvThreshold}) AS BIGINT) AS n_salt_buckets
              FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')
              GROUP BY 1)
         SELECT conv_id, n_turns, n_chars,
                CAST(n_turns >= ${pipeline.Pipeline.DefaultLongConvThreshold} AS INTEGER) AS is_long,
                n_salt_buckets
         FROM c ORDER BY n_turns DESC, conv_id ASC LIMIT 50""")),
    // collocation mining: adjacent-bigram lift in exact DECIMAL(38,0)
    // integers (PMI without the log), vocab-bounded broadcast joins
    // q105: DuckDB mines the same bigrams (list_zip against the tail
    // slice) and reruns the exact HUGEINT lift arithmetic
    QuerySpec("q105_collocations", (s, d) => TextOps.collocations(s, d), Oracle(
      s"""WITH tk AS (SELECT list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS toks
                     FROM documents),
         u AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt
               FROM (SELECT unnest(toks) AS token FROM tk) z GROUP BY 1),
         n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM u),
         b AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab FROM (
                 SELECT p[1] AS w1, p[2] AS w2
                 FROM (SELECT unnest(list_zip(toks, toks[2:])) AS p FROM tk) z
                 WHERE p[2] IS NOT NULL) bg
               GROUP BY 1, 2 HAVING count(*) >= ${TextOps.CollocMinPair})
         SELECT w1, w2, c_ab,
                CAST((c_ab::HUGEINT * 10000 * (SELECT n FROM n)) // (a.cnt::HUGEINT * bb.cnt) AS BIGINT) AS lift_x10000
         FROM b JOIN u a ON b.w1 = a.token JOIN u bb ON b.w2 = bb.token
         ORDER BY lift_x10000 DESC, w1 ASC, w2 ASC
         LIMIT ${TextOps.CollocK}""")),
    // watermarked hourly windowed aggregation THROUGH a checkpointed
    // file-source stream in append mode; a sentinel second drain closes
    // the watermark so the emitted windows equal the batch aggregation
    // q106: the stream-produced windows must equal the batch hourly
    // aggregation (epoch-aligned tumbling windows, UTC)
    QuerySpec("q106_stream_windows", (s, d) => {
      val base = scratchDir("stream_q106", d)
      graft.streaming.StreamingExtract.eventWindows(
        s, RelationalOps.table(s, d, "events"), base)
    }, Oracle(
      """SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us, event_type,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents_sum
         FROM events WHERE ts IS NOT NULL GROUP BY 1, 2""")),
    // power-of-two token-count histogram per language — the mergeable
    // distribution sketch whose every cell is an exact oracled integer
    // q107: bucket = bitlength(n_tokens) via bin() — both engines print
    // binary without leading zeros, so length(bin(n)) agrees bit-for-bit
    QuerySpec("q107_token_histogram", (s, d) => TextOps.tokenHistogram(s, d), Oracle(
      """SELECT lang, bucket,
         CAST((1::BIGINT << bucket) - 1 AS BIGINT) AS bucket_hi,
         CAST(count(*) AS BIGINT) AS n_docs
         FROM (SELECT lang,
                      CASE WHEN n = 0 THEN 0 ELSE CAST(length(bin(n)) AS INTEGER) END AS bucket
               FROM (SELECT lang,
                            CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n
                     FROM documents) z) h
         GROUP BY 1, 2""")),
    // sketch-side quantile estimates read off the q107 histogram (first
    // bucket whose cumulative count reaches the ceil-rank target)
    // q108: the same ceil-rank read-off over the q107 histogram
    QuerySpec("q108_histogram_quantiles", (s, d) => TextOps.histogramQuantiles(s, d), Oracle(
      """WITH h AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs
               FROM (SELECT lang,
                            CASE WHEN n = 0 THEN 0 ELSE CAST(length(bin(n)) AS INTEGER) END AS bucket
                     FROM (SELECT lang,
                                  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '')) AS BIGINT) AS n
                           FROM documents) z) g
               GROUP BY 1, 2),
         c AS (SELECT lang, bucket,
                      CAST((1::BIGINT << bucket) - 1 AS BIGINT) AS bucket_hi, n_docs,
                      sum(n_docs) OVER (PARTITION BY lang ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS cum,
                      sum(n_docs) OVER (PARTITION BY lang) AS n
               FROM h),
         x AS (SELECT *, unnest([50, 90]) AS pct FROM c)
         SELECT lang, CAST(pct AS INTEGER) AS pct, bucket,
                bucket_hi AS est_token_count_hi, CAST(n AS BIGINT) AS n_docs
         FROM x
         WHERE cum >= (n * pct + 99) // 100 AND cum - x.n_docs < (n * pct + 99) // 100""")),
    // z-order (Morton-curve) layout: (user, hour) bits interleaved into
    // one shard key — deterministic fixed z-ranges, per-shard locality
    // audit (a 2^26 z-span covers at most 2^13 values per dimension)
    // q109: DuckDB reruns the identical Morton magic-mask ladder in
    // BIGINT shift/mask arithmetic and re-derives the fixed z-range shards
    QuerySpec("q109_zorder_shards", (s, d) => TrainingOps.zOrderShards(s, d), Oracle(
      """WITH e AS (SELECT ((user_id % 65536) + 65536) % 65536 AS ux,
                  (((epoch_us(ts) // 3600000000) % 65536) + 65536) % 65536 AS tx
           FROM events WHERE ts IS NOT NULL),
         m1 AS (SELECT ux, tx, (ux | (ux << 8)) & 16711935 AS xa, (tx | (tx << 8)) & 16711935 AS ya FROM e),
         m2 AS (SELECT ux, tx, (xa | (xa << 4)) & 252645135 AS xb, (ya | (ya << 4)) & 252645135 AS yb FROM m1),
         m3 AS (SELECT ux, tx, (xb | (xb << 2)) & 858993459 AS xc, (yb | (yb << 2)) & 858993459 AS yc FROM m2),
         z AS (SELECT ux, tx,
                      (((xc | (xc << 1)) & 1431655765) | (((yc | (yc << 1)) & 1431655765) << 1)) AS zval
               FROM m3)
         SELECT zval // 67108864 AS shard_id, CAST(count(*) AS BIGINT) AS n_events,
                CAST(count(DISTINCT ux) AS BIGINT) AS n_users,
                CAST(count(DISTINCT tx) AS BIGINT) AS n_hours,
                min(zval) AS z_min, max(zval) AS z_max
         FROM z GROUP BY 1""")),
    // exact fixed-point HITS (hubs & authorities) over the host co-link
    // graph — integer L1-normalized half-steps, oracled across all rounds
    // q110: DuckDB re-runs all HITS rounds (normalized half-steps) from
    // raw text — the q85 PageRank precedent, with per-step L1 rescale
    QuerySpec("q110_host_hits", (s, _) =>
      WebOps.hostHits(graft.synth.WebDocs.docs(s, VerifyWebDocs)), Oracle(
      s"""WITH ${WebOps.duckdbHitsCtes(WebOps.HitsIters, "__SYNTH__/web_docs.parquet/*.parquet")}
         SELECT hh.host, CAST(hh.score AS BIGINT) AS hub_x1e6,
                CAST(aa.score AS BIGINT) AS auth_x1e6
         FROM h${WebOps.HitsIters} hh JOIN a${WebOps.HitsIters} aa USING (host)""")),
    // KMV sketch algebra: distinct-user overlap of every event-type pair
    // estimated from the k-min sketches alone (union kth-min -> union
    // size; shared-k-min fraction -> intersection), exact audit column
    // q111: DuckDB rebuilds the per-type KMV sketches, the union k-mins,
    // the same floor-division estimators, and the exact audit join
    QuerySpec("q111_kmv_overlap", (s, d) => RelationalOps.kmvSetOverlap(s, d), Oracle(
      s"""WITH hsh AS (SELECT DISTINCT event_type,
                CAST('0x' || substr(sha256(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
              FROM events WHERE user_id IS NOT NULL),
         sk AS (SELECT event_type, h FROM (
                  SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
                  FROM hsh) z WHERE rn <= ${RelationalOps.KmvK}),
         tp AS (SELECT a.event_type AS ta, b.event_type AS tb
                FROM (SELECT DISTINCT event_type FROM hsh) a
                JOIN (SELECT DISTINCT event_type FROM hsh) b ON a.event_type < b.event_type),
         pr AS (SELECT tp.ta, tp.tb, s.h,
                       max(CASE WHEN s.event_type = tp.ta THEN 1 ELSE 0 END) AS in_a,
                       max(CASE WHEN s.event_type = tp.tb THEN 1 ELSE 0 END) AS in_b
                FROM tp JOIN sk s ON s.event_type = tp.ta OR s.event_type = tp.tb
                GROUP BY 1, 2, 3),
         rk AS (SELECT *, row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn FROM pr),
         um AS (SELECT ta, tb, CAST(count(*) AS BIGINT) AS nu, max(h) AS kth,
                       CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nc
                FROM rk WHERE rn <= ${RelationalOps.KmvK} GROUP BY 1, 2),
         eu AS (SELECT ta, tb, nu, nc,
                       CASE WHEN nu < ${RelationalOps.KmvK} THEN nu
                            ELSE (${RelationalOps.KmvK} - 1) * 4294967296 // greatest(kth, 1) END AS est_union
                FROM um),
         tru AS (SELECT a.event_type AS ta, b.event_type AS tb, CAST(count(*) AS BIGINT) AS n_true
                 FROM hsh a JOIN hsh b ON a.h = b.h AND a.event_type < b.event_type
                 GROUP BY 1, 2)
         SELECT eu.ta AS type_a, eu.tb AS type_b, CAST(est_union AS BIGINT) AS est_union,
                CAST(CASE WHEN nu < ${RelationalOps.KmvK} THEN nc
                          ELSE (nc * est_union) // ${RelationalOps.KmvK} END AS BIGINT) AS est_intersection,
                coalesce(t.n_true, 0) AS n_true
         FROM eu LEFT JOIN tru t ON t.ta = eu.ta AND t.tb = eu.tb""")),
    // Count-Min heavy hitters: the sketch builds with one bounded
    // (row,col)-cell exchange, rides back as a 256 KiB constant, and
    // pre-filters the exact pass map-side — only sketch-passing term
    // occurrences cross the term exchange (est >= exact, so no true
    // heavy hitter is lost)
    // q112: DuckDB rebuilds the Count-Min counter matrix cell-for-cell
    // (same sha256-prefix grams, same double-hash probes), reads the
    // corpus total off row 0, and re-derives the identical heavy set
    QuerySpec("q112_countmin_heavy", (s, d) => CountMinSketch.heavyHitters(s, d), Oracle(
      s"""WITH toks AS (SELECT unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS term
                FROM documents),
         g AS (SELECT term, CAST('0x' || substr(sha256(term), 1, 8) AS BIGINT) AS gram FROM toks),
         p AS (SELECT term, gram, unnest([0, 1, 2, 3]) AS row FROM g),
         pp AS (SELECT term, row,
                       ((gram % ${CountMinSketch.P1}) + row * ((gram % ${CountMinSketch.P2}) + 1)) % ${CountMinSketch.Width} AS col
                FROM p),
         m AS (SELECT row, col, CAST(count(*) AS BIGINT) AS c FROM pp GROUP BY 1, 2),
         tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM m WHERE row = 0),
         est AS (SELECT d.term, min(m.c) AS est_count
                 FROM (SELECT DISTINCT term, row, col FROM pp) d
                 JOIN m USING (row, col) GROUP BY 1),
         ex AS (SELECT term, CAST(count(*) AS BIGINT) AS exact_count FROM toks GROUP BY 1)
         SELECT e.term, CAST(e.est_count AS BIGINT) AS est_count, x.exact_count
         FROM est e JOIN ex x USING (term), tot
         WHERE e.est_count >= greatest(tot.t // ${CountMinSketch.HeavyDiv}, 1)""")),
    // exact per-host triangle count + clustering coefficient via
    // degree-ordered edge orientation: wedges enumerate only at each
    // edge's low-order endpoint (out-degree capped at O(sqrt(|E|)) — no
    // celebrity-host wedge explosion), every triangle closed once by a
    // plain (x,y) equi-join
    // q113: DuckDB rebuilds the undirected co-link graph (same edge CTEs
    // as q110), re-derives the (degree, host) orientation, and closes the
    // same once-per-triangle wedges — degrees, counts, and clustering are
    // exact integers on both sides
    QuerySpec("q113_host_triangles", (s, _) =>
      WebOps.hostTriangles(graft.synth.WebDocs.docs(s, VerifyWebDocs)), Oracle(
      s"""WITH u AS (SELECT doc_id, regexp_extract_all(text, '${WebOps.UrlRe}') AS urls
                FROM read_parquet('__SYNTH__/web_docs.parquet/*.parquet')),
         h AS (SELECT [regexp_replace(lower(regexp_extract(x, '${WebOps.HostRe}', 1)), '^www\\.', '') for x in urls] AS hosts
               FROM u WHERE len(urls) >= 2),
         e AS (SELECT DISTINCT hosts[1] AS src, d AS dst
               FROM (SELECT hosts, unnest(list_distinct(hosts[2:])) AS d FROM h) z
               WHERE hosts[1] <> d),
         und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b FROM e),
         deg AS (SELECT host, CAST(count(*) AS BIGINT) AS deg
                 FROM (SELECT a AS host FROM und UNION ALL SELECT b FROM und) z GROUP BY 1),
         ori AS (SELECT CASE WHEN d1.deg <= d2.deg THEN und.a ELSE und.b END AS u,
                        CASE WHEN d1.deg <= d2.deg THEN und.b ELSE und.a END AS v,
                        CASE WHEN d1.deg <= d2.deg THEN d2.deg ELSE d1.deg END AS dv
                 FROM und JOIN deg d1 ON d1.host = und.a JOIN deg d2 ON d2.host = und.b),
         tri AS (SELECT e1.u AS t1, e1.v AS t2, e2.v AS t3
                 FROM ori e1 JOIN ori e2 ON e1.u = e2.u
                      AND (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
                 JOIN ori e3 ON e3.u = e1.v AND e3.v = e2.v),
         part AS (SELECT host, CAST(count(*) AS BIGINT) AS n_triangles
                  FROM (SELECT unnest([t1, t2, t3]) AS host FROM tri) z GROUP BY 1)
         SELECT d.host, d.deg,
                coalesce(p.n_triangles, CAST(0 AS BIGINT)) AS n_triangles,
                CAST(CASE WHEN d.deg >= 2
                     THEN (coalesce(p.n_triangles, 0) * 20000) // (d.deg * (d.deg - 1))
                     ELSE 0 END AS BIGINT) AS clustering_x10000
         FROM deg d LEFT JOIN part p USING (host)""")),
    // transcript-protocol audits over the RAW turn table: per-tool call
    // stats (one 3-key groupBy, map-side combined) and per-conversation
    // role-alternation audit (one conv-keyed window whose partitioning
    // the rollup reuses — a single Exchange at any scale)
    // q114: tool-call stats recomputed over the same raw payloads; the
    // unclosed-frame predicate is the raw-signal twin of the extractor's
    // tool_frame failure (suffix test, no regex)
    QuerySpec("q114_tool_stats", (s, _) =>
      TranscriptOps.toolCallStats(SynthDataset.turns(s, VerifyConvs)), Oracle(
      """WITH t AS (SELECT tool, conv_id, turn_idx, text
                FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')
                WHERE role = 'tool')
         SELECT tool,
                CAST(count(*) AS BIGINT) AS n_calls,
                CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
                CAST(sum(CASE WHEN ends_with(text, '[/tool]') THEN 0 ELSE 1 END) AS BIGINT) AS n_unclosed,
                CAST(sum(length(text)) AS BIGINT) AS total_chars,
                CAST((sum(CAST(turn_idx AS BIGINT)) * 10000) // count(*) AS BIGINT) AS avg_turn_idx_x10000
         FROM t GROUP BY tool""")),
    // q115: DuckDB re-derives the same one-window protocol audit
    // (IGNORE NULLS last_value == Spark last(..., ignoreNulls = true))
    QuerySpec("q115_role_audit", (s, _) =>
      TranscriptOps.roleAudit(SynthDataset.turns(s, VerifyConvs)), Oracle(
      """WITH t AS (SELECT conv_id, turn_idx, role, epoch_us(ts) AS us
                FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')),
         x AS (SELECT *,
                lag(role) OVER w AS prev_role,
                last_value(CASE WHEN role <> 'tool' THEN role END IGNORE NULLS)
                  OVER (PARTITION BY conv_id ORDER BY turn_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_nontool_role,
                lag(us) OVER w AS prev_us
               FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx))
         SELECT conv_id,
                CAST(count(*) AS BIGINT) AS n_turns,
                CAST(count(*) FILTER (role = 'tool') AS BIGINT) AS n_tool_turns,
                CAST(count(*) FILTER (prev_role = role) AS BIGINT) AS n_same_adjacent,
                CAST(count(*) FILTER (role <> 'tool' AND prev_nontool_role = role) AS BIGINT) AS n_alt_breaks,
                CAST(count(*) FILTER (prev_role = 'user' AND role = 'tool') AS BIGINT) AS n_tool_after_user,
                CAST(count(*) FILTER (us < prev_us) AS BIGINT) AS n_ts_regressions,
                min_by(role, turn_idx) AS first_role,
                max_by(role, turn_idx) AS last_role
         FROM x GROUP BY conv_id""")),
    // conversation-level redundancy over the planted retry/loop corpus:
    // near-dup retry twins via df-capped rare-feature Jaccard (the cap
    // bounds the candidate join's per-sha fan-out — never quadratic in
    // convs), stuck-loop run-lengths (one conv-keyed Exchange), and the
    // high-df boilerplate the near-dup cap discards
    // q116: DuckDB re-derives the df-capped rare-feature Jaccard exactly
    // (same cap, same fixed-point floor division, same < pair ordering)
    QuerySpec("q116_conv_neardup", (s, _) =>
      TranscriptOps.convNearDup(graft.synth.RetryCorpus.turns(s, VerifyRetryConvs)), Oracle(
      """WITH shas AS MATERIALIZED (
           SELECT DISTINCT conv_id, sha256(text) AS sha
           FROM read_parquet('__SYNTH__/retry_turns.parquet/*.parquet')),
         rare AS MATERIALIZED (
           SELECT conv_id, sha FROM (
             SELECT conv_id, sha, count(*) OVER (PARTITION BY sha) AS df FROM shas)
           WHERE df <= 4),
         sizes AS (SELECT conv_id, count(*) AS n FROM rare GROUP BY 1),
         pairs AS (
           SELECT a.conv_id AS conv_a, b.conv_id AS conv_b, count(*) AS n_shared
           FROM rare a JOIN rare b USING (sha)
           WHERE a.conv_id < b.conv_id GROUP BY 1, 2)
         SELECT conv_a, conv_b,
                CAST(n_shared AS BIGINT) AS n_shared,
                CAST(sa.n AS BIGINT) AS n_a,
                CAST(sb.n AS BIGINT) AS n_b,
                CAST(n_shared * 10000 // (sa.n + sb.n - n_shared) AS BIGINT) AS jaccard_x10000
         FROM pairs
         JOIN sizes sa ON sa.conv_id = conv_a
         JOIN sizes sb ON sb.conv_id = conv_b
         WHERE n_shared * 10000 // (sa.n + sb.n - n_shared) >= 5000""")),
    // q117: identical-adjacent run-length recompute (lag + running change
    // count), NULL-first-row handled by the IS NULL disjunct on both sides
    QuerySpec("q117_loop_runs", (s, _) =>
      TranscriptOps.loopRuns(graft.synth.RetryCorpus.turns(s, VerifyRetryConvs)), Oracle(
      """WITH t AS (SELECT conv_id, turn_idx, role, sha256(text) AS sha
                FROM read_parquet('__SYNTH__/retry_turns.parquet/*.parquet')),
         m AS (SELECT conv_id, turn_idx,
                CASE WHEN lag(sha) OVER w IS NULL
                       OR lag(sha) OVER w <> sha
                       OR lag(role) OVER w <> role THEN 1 ELSE 0 END AS chg
               FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
         r AS (SELECT conv_id,
                sum(chg) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS run_id
               FROM m),
         runs AS (SELECT conv_id, run_id, count(*) AS run_len FROM r GROUP BY 1, 2)
         SELECT conv_id,
                CAST(count(*) AS BIGINT) AS n_runs,
                CAST(sum(run_len) AS BIGINT) AS n_turns,
                CAST(max(run_len) AS BIGINT) AS max_run_len,
                CAST(sum(CASE WHEN run_len > 1 THEN run_len - 1 ELSE 0 END) AS BIGINT) AS n_looped_turns
         FROM runs GROUP BY conv_id""")),
    // q118: high-df repeated-turn mining (the shas q116's cap discards)
    QuerySpec("q118_boilerplate", (s, _) =>
      TranscriptOps.boilerplateTurns(graft.synth.RetryCorpus.turns(s, VerifyRetryConvs)), Oracle(
      """WITH t AS (SELECT conv_id, role, sha256(text) AS sha,
                CAST(length(text) AS BIGINT) AS len
                FROM read_parquet('__SYNTH__/retry_turns.parquet/*.parquet'))
         SELECT sha,
                CAST(count(*) AS BIGINT) AS n_occurrences,
                CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
                max(role) AS role,
                CAST(max(len) AS BIGINT) AS n_chars,
                CAST((count(*) - 1) * max(len) AS BIGINT) AS dedup_savings_chars
         FROM t GROUP BY sha
         HAVING count(DISTINCT conv_id) >= 10""")),
    // q116's pairs closed into connected components with a canonical
    // keeper (the conversation-level pairs->clusters->keep-set chain);
    // and per-tool exact-integer latency quantiles from inter-turn gaps
    // q119: DuckDB re-derives q116's pair list, then closes it into
    // connected components by recursive min-label propagation over conv_id
    // STRINGS — the engine's dense numeric labels follow conv_id order, so
    // both sides agree on the lexicographic-min canonical without the
    // oracle ever seeing the id assignment
    QuerySpec("q119_conv_clusters", (s, _) =>
      TranscriptOps.convDedupClusters(graft.synth.RetryCorpus.turns(s, VerifyRetryConvs)), Oracle(
      """WITH RECURSIVE
         shas AS MATERIALIZED (
           SELECT DISTINCT conv_id, sha256(text) AS sha
           FROM read_parquet('__SYNTH__/retry_turns.parquet/*.parquet')),
         rare AS MATERIALIZED (
           SELECT conv_id, sha FROM (
             SELECT conv_id, sha, count(*) OVER (PARTITION BY sha) AS df FROM shas)
           WHERE df <= 4),
         sizes AS (SELECT conv_id, count(*) AS n FROM rare GROUP BY 1),
         p AS (
           SELECT a.conv_id AS conv_a, b.conv_id AS conv_b, count(*) AS ns
           FROM rare a JOIN rare b USING (sha)
           WHERE a.conv_id < b.conv_id GROUP BY 1, 2),
         pairs AS MATERIALIZED (
           SELECT conv_a, conv_b FROM p
           JOIN sizes sa ON sa.conv_id = conv_a
           JOIN sizes sb ON sb.conv_id = conv_b
           WHERE ns * 10000 // (sa.n + sb.n - ns) >= 5000),
         e AS (SELECT conv_a, conv_b FROM pairs
               UNION SELECT conv_b, conv_a FROM pairs),
         convs AS (SELECT DISTINCT conv_id FROM shas),
         comp(conv_id, lbl) AS (
           SELECT conv_id, conv_id FROM convs
           UNION
           SELECT e.conv_b, comp.lbl FROM comp JOIN e ON e.conv_a = comp.conv_id
           WHERE comp.lbl < e.conv_b)
         SELECT conv_id, min(lbl) AS canonical_conv,
                (conv_id = min(lbl)) AS is_canonical
         FROM comp GROUP BY conv_id""")),
    // q120: per-tool latency profile — same lag, same integer rank math
    // (value at 1-based rank (n*p+99)//100), mean in HUGEINT/decimal
    // before the x10000 scale on both sides
    QuerySpec("q120_tool_latency", (s, _) =>
      TranscriptOps.toolLatency(graft.synth.RetryCorpus.turns(s, VerifyRetryConvs)), Oracle(
      """WITH t AS (SELECT conv_id, turn_idx, role, tool, epoch_us(ts) AS us
                FROM read_parquet('__SYNTH__/retry_turns.parquet/*.parquet')),
         l AS (SELECT tool, role,
                      us - lag(us) OVER w AS latency_us,
                      lag(us) OVER w AS prev_us
               FROM t WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)),
         f AS (SELECT tool, latency_us FROM l
               WHERE role = 'tool' AND prev_us IS NOT NULL),
         r AS (SELECT tool, latency_us,
                      row_number() OVER (PARTITION BY tool ORDER BY latency_us) AS rn,
                      count(*) OVER (PARTITION BY tool) AS n
               FROM f)
         SELECT tool,
                CAST(count(*) AS BIGINT) AS n_calls,
                CAST(min(latency_us) AS BIGINT) AS min_us,
                CAST(max(latency_us) AS BIGINT) AS max_us,
                CAST(sum(latency_us) * 10000 // count(*) AS BIGINT) AS mean_us_x10000,
                CAST(max(CASE WHEN rn = (n * 50 + 99) // 100 THEN latency_us END) AS BIGINT) AS p50_us,
                CAST(max(CASE WHEN rn = (n * 99 + 99) // 100 THEN latency_us END) AS BIGINT) AS p99_us
         FROM r GROUP BY tool""")),
    // per-SPAN offset equality through the full extraction pipeline (the
    // north rule's "character-span offsets recomputed per turn" made
    // driver-visible): engine spans exploded to rows, compared against the
    // generator's by-construction span layout — same trust model as q28's
    // expected_text
    // exact conversation dedup: order-sensitive fingerprint (sha over
    // per-turn text shas in turn order) collapses unperturbed retry
    // replays before the near-dup pass — the q70 composition one level up
    // q122: DuckDB rebuilds the order-sensitive fingerprint (sha256 over
    // ordered per-turn shas) and re-derives the dup groups
    QuerySpec("q122_conv_exact_dups", (s, _) =>
      TranscriptOps.convFingerprintDups(graft.synth.RetryCorpus.turns(s, VerifyRetryConvs)), Oracle(
      """WITH f AS (
           SELECT conv_id,
                  sha256(string_agg(sha256(text), '' ORDER BY turn_idx)) AS fingerprint
           FROM read_parquet('__SYNTH__/retry_turns.parquet/*.parquet')
           GROUP BY conv_id)
         SELECT fingerprint,
                CAST(count(*) AS BIGINT) AS n_convs,
                min(conv_id) AS canonical_conv
         FROM f GROUP BY fingerprint
         HAVING count(*) >= 2""")),
    // q121: the generator materializes its by-construction span layout
    // (golden_spans) exactly like it materializes expected_text for q28 —
    // the oracle is the plain read, and a green row proves the engine's
    // per-turn span offsets equal the generator's independent derivation
    QuerySpec("q121_extract_spans", (s, _) =>
      Pipeline.run(s, SynthDataset.turns(s, VerifyConvs))
        .select(col("conv_id"), col("turn_idx"), posexplode(col("spans")))
        .select(col("conv_id"), col("turn_idx"),
          col("pos").cast("int").as("span_idx"),
          col("col").getField("kind").as("span_kind"),
          col("col").getField("start").as("span_start"),
          col("col").getField("end").as("span_end")), Oracle(
      """SELECT conv_id, turn_idx, span_idx, span_kind, span_start, span_end
         FROM read_parquet('__SYNTH__/golden_spans.parquet/*.parquet')""")),
    // exact phrase search over a positional index: contains() prunes the
    // candidate docs before the explode, then the adjacency check is a
    // per-term chain of (doc_id, pos+i) equi-joins over the query terms'
    // postings only — never a full-index scan; TakeOrdered caps output
    // q123: DuckDB rebuilds the positional index (generate_subscripts is
    // 1-based, matching the engine's pos+1) and re-runs the adjacency join
    QuerySpec("q123_phrase_query", (s, d) => TextOps.phraseQuery(s, d), Oracle(
      s"""WITH sp AS (SELECT doc_id,
                list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS l
              FROM documents),
         w AS (SELECT doc_id, unnest(l) AS word, generate_subscripts(l, 1) AS pos FROM sp)
         SELECT a.doc_id AS doc_id,
                CAST(count(*) AS BIGINT) AS n_matches,
                CAST(min(a.pos) AS BIGINT) AS first_pos
         FROM w a JOIN w b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         WHERE a.word = '${TextOps.PhraseDefaultTerms(0)}'
           AND b.word = '${TextOps.PhraseDefaultTerms(1)}'
         GROUP BY a.doc_id
         ORDER BY n_matches DESC, a.doc_id ASC
         LIMIT ${TextOps.PhraseK}""")),
    // ordered 3-step funnel (view -> click -> purchase) per user: two
    // last-ignore-nulls carries over ONE user-keyed window — sequential
    // pattern matching with no join and a single Exchange at any scale
    // q124: DuckDB re-runs the same two IGNORE-NULLS carries and the
    // conversion predicate in exact integer µs (epoch_us == unix_micros)
    QuerySpec("q124_funnel", (s, d) => RelationalOps.funnel(s, d), Oracle(
      s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
         x AS (SELECT *,
                last_value(CASE WHEN event_type = 'view' THEN us END IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_view_us
               FROM e),
         y AS (SELECT *,
                CASE WHEN event_type = 'click' AND last_view_us IS NOT NULL
                          AND us - last_view_us <= ${RelationalOps.FunnelStepUs}
                     THEN us END AS qual_click_us
               FROM x),
         z AS (SELECT *,
                last_value(qual_click_us IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lqc
               FROM y),
         f AS (SELECT *,
                (event_type = 'purchase' AND lqc IS NOT NULL
                 AND us - lqc <= ${RelationalOps.FunnelStepUs}) AS converted
               FROM z)
         SELECT user_id,
                CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS n_views,
                CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS n_clicks,
                CAST(count(*) FILTER (qual_click_us IS NOT NULL) AS BIGINT) AS n_qual_clicks,
                CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchases,
                CAST(count(*) FILTER (converted) AS BIGINT) AS n_conversions,
                CAST(coalesce(min(CASE WHEN converted THEN us - lqc END), -1) AS BIGINT) AS min_convert_us,
                CAST(coalesce(max(CASE WHEN converted THEN us - lqc END), -1) AS BIGINT) AS max_convert_us
         FROM f GROUP BY user_id""")),
    // per-tool outcome audit over the retry corpus: exact-prefix ok/err
    // status parse, fixed-point error rate, and the unresolved-failure
    // count (convs whose LAST call to the tool errored) — two
    // count-carrying aggs, no join, no window
    // q125: DuckDB re-parses the frame headers with the same exact
    // prefix test and re-derives the last-call status via arg_max
    QuerySpec("q125_tool_outcomes", (s, _) =>
      TranscriptOps.toolOutcomes(graft.synth.RetryCorpus.turns(s, VerifyRetryConvs)), Oracle(
      """WITH f AS (
           SELECT conv_id, turn_idx, tool,
                  CASE WHEN starts_with(text, '[tool:' || tool || ' status=err]') THEN 'err'
                       WHEN starts_with(text, '[tool:' || tool || ' status=ok]') THEN 'ok'
                       ELSE 'unknown' END AS status
           FROM read_parquet('__SYNTH__/retry_turns.parquet/*.parquet')
           WHERE role = 'tool'),
         c AS (
           SELECT conv_id, tool,
                  count(*) AS n_calls,
                  count(*) FILTER (status = 'ok') AS n_ok,
                  count(*) FILTER (status = 'err') AS n_err,
                  arg_max(status, turn_idx) AS last_status
           FROM f GROUP BY conv_id, tool)
         SELECT tool,
                CAST(sum(n_calls) AS BIGINT) AS n_calls,
                CAST(sum(n_ok) AS BIGINT) AS n_ok,
                CAST(sum(n_err) AS BIGINT) AS n_err,
                CAST((sum(n_err) * 10000) // sum(n_calls) AS BIGINT) AS err_rate_x10000,
                CAST(count(*) AS BIGINT) AS n_convs,
                CAST(count(*) FILTER (last_status = 'err') AS BIGINT) AS n_convs_ending_err
         FROM c GROUP BY tool""")),
    // temperature-flattened source-mixture weights (n^(1/2) in exact
    // integers via the shared isqrt fragment): one bounded source agg +
    // one broadcast totals row — the corpus never shuffles
    // q126: DuckDB evaluates the SAME corrected-isqrt fragment and the
    // same fixed-point share/boost chain (// == div on non-negatives)
    QuerySpec("q126_temperature_mix", (s, d) => TrainingOps.temperatureMix(s, d), Oracle(
      s"""WITH per AS (
           SELECT source,
                  CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         w AS (SELECT *, ${TrainingOps.isqrtSql("n_tokens")} AS weight FROM per),
         t AS (SELECT CAST(sum(weight) AS BIGINT) AS tot_w,
                      CAST(sum(n_tokens) AS BIGINT) AS tot_t FROM w)
         SELECT source, n_docs, n_tokens, CAST(weight AS BIGINT) AS weight,
                CAST((weight * 10000) // tot_w AS BIGINT) AS share_x10000,
                CAST((n_tokens * 10000) // tot_t AS BIGINT) AS raw_share_x10000,
                CAST(CASE WHEN (n_tokens * 10000) // tot_t = 0 THEN -1
                     ELSE ((weight * 10000) // tot_w * 10000)
                          // ((n_tokens * 10000) // tot_t) END AS BIGINT) AS boost_x10000
         FROM w, t""")),
    // exact Levenshtein verification of q116's candidate pairs over
    // bounded 256-char prefixes: per-pair per-turn cost is a constant,
    // and only candidate-conversation turns carry prefixes across an
    // exchange — the verify stage of the conversation-dedup pipeline
    // q127: DuckDB re-derives q116's candidate pairs (same CTEs), then
    // recomputes the per-aligned-turn Levenshtein over the same 256-char
    // prefix (both engines count codepoint edits; the corpus is ASCII)
    QuerySpec("q127_retry_edit_stats", (s, _) =>
      TranscriptOps.retryEditStats(graft.synth.RetryCorpus.turns(s, VerifyRetryConvs)), Oracle(
      """WITH shas AS MATERIALIZED (
           SELECT DISTINCT conv_id, sha256(text) AS sha
           FROM read_parquet('__SYNTH__/retry_turns.parquet/*.parquet')),
         rare AS MATERIALIZED (
           SELECT conv_id, sha FROM (
             SELECT conv_id, sha, count(*) OVER (PARTITION BY sha) AS df FROM shas)
           WHERE df <= 4),
         sizes AS (SELECT conv_id, count(*) AS n FROM rare GROUP BY 1),
         pairs AS (
           SELECT a.conv_id AS conv_a, b.conv_id AS conv_b, count(*) AS n_shared
           FROM rare a JOIN rare b USING (sha)
           WHERE a.conv_id < b.conv_id GROUP BY 1, 2),
         cand AS (
           SELECT conv_a, conv_b FROM pairs
           JOIN sizes sa ON sa.conv_id = conv_a
           JOIN sizes sb ON sb.conv_id = conv_b
           WHERE n_shared * 10000 // (sa.n + sb.n - n_shared) >= 5000),
         t AS MATERIALIZED (SELECT conv_id, turn_idx, substr(text, 1, 256) AS txt
              FROM read_parquet('__SYNTH__/retry_turns.parquet/*.parquet')),
         d AS (SELECT conv_a, conv_b, levenshtein(a.txt, b.txt) AS dist
               FROM cand
               JOIN t a ON a.conv_id = conv_a
               JOIN t b ON b.conv_id = conv_b AND b.turn_idx = a.turn_idx)
         SELECT conv_a, conv_b,
                CAST(count(*) AS BIGINT) AS n_aligned,
                CAST(count(*) FILTER (dist = 0) AS BIGINT) AS n_identical,
                CAST(count(*) FILTER (dist > 0) AS BIGINT) AS n_perturbed,
                CAST(sum(dist) AS BIGINT) AS total_edit,
                CAST(max(dist) AS BIGINT) AS max_edit
         FROM d GROUP BY conv_a, conv_b""")),
    // per-day first-seen 3-gram novelty (corpus freshness): grams hash to
    // sha256 before any exchange; the planted retry wave shows up as the
    // later days' novelty collapsing
    // q128: DuckDB rebuilds the word 3-grams per turn (lead-window over
    // 1-based positions), buckets by the same integer day, and re-derives
    // first-seen novelty; sha256(gram) == sha2(gram, 256)
    QuerySpec("q128_gram_novelty", (s, _) =>
      TranscriptOps.gramNovelty(graft.synth.RetryCorpus.turns(s, VerifyRetryConvs)), Oracle(
      """WITH sp AS (SELECT conv_id, turn_idx,
                epoch_us(ts) // 86400000000 AS day,
                list_filter(regexp_split_to_array(trim(text), '\s+'), x -> x <> '') AS l
              FROM read_parquet('__SYNTH__/retry_turns.parquet/*.parquet')),
         w AS (SELECT conv_id, turn_idx, day, unnest(l) AS word,
                generate_subscripts(l, 1) AS pos FROM sp),
         g AS (SELECT day,
                sha256(word || ' ' || lead(word, 1) OVER win || ' ' || lead(word, 2) OVER win) AS sha,
                lead(word, 2) OVER win AS w2
               FROM w WINDOW win AS (PARTITION BY conv_id, turn_idx ORDER BY pos)),
         pdg AS (SELECT day, sha, count(*) AS occ FROM g WHERE w2 IS NOT NULL GROUP BY 1, 2),
         pd AS (SELECT day, count(*) AS n_distinct_grams,
                sum(occ) AS n_gram_occurrences FROM pdg GROUP BY 1),
         fs AS (SELECT sha, min(day) AS first_day FROM pdg GROUP BY sha),
         nn AS (SELECT first_day AS day, count(*) AS n_new_grams FROM fs GROUP BY 1)
         SELECT pd.day AS day,
                CAST(n_gram_occurrences AS BIGINT) AS n_gram_occurrences,
                CAST(n_distinct_grams AS BIGINT) AS n_distinct_grams,
                CAST(coalesce(n_new_grams, 0) AS BIGINT) AS n_new_grams,
                CAST(coalesce(n_new_grams, 0) * 10000 // n_distinct_grams AS BIGINT) AS novelty_x10000
         FROM pd LEFT JOIN nn ON nn.day = pd.day""")),
    // small-file compaction planner: per-source next-fit size bins from a
    // running-offset window — ONE source-keyed exchange, plan is a pure
    // function of the table so any executor computes the same bins
    // q129: DuckDB recomputes the running-offset next-fit bins with the
    // same exclusive-prefix window sum and integer floor division
    QuerySpec("q129_compaction_plan", (s, d) => TrainingOps.compactionPlan(s, d), Oracle(
      s"""WITH d AS (SELECT source, doc_id, n_chars,
                coalesce(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
              FROM documents)
         SELECT source, CAST(pre // ${TrainingOps.CompactionTargetChars} AS BIGINT) AS bin,
                CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                CAST(min(doc_id) AS BIGINT) AS min_doc_id,
                CAST(max(doc_id) AS BIGINT) AS max_doc_id
         FROM d GROUP BY 1, 2""")),
    // weekly cohort retention matrix over events in exact integer weeks:
    // the only event-sized exchange is the (user, week) distinct
    // q130: DuckDB re-buckets epoch-µs to integer weeks and rebuilds the
    // cohort matrix (// == div on non-negative epochs)
    QuerySpec("q130_retention", (s, d) => RelationalOps.retention(s, d), Oracle(
      """WITH wk AS (SELECT user_id, (epoch_us(ts) // 86400000000) // 7 AS week FROM events),
         c AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY 1),
         cs AS (SELECT cohort_week, count(*) AS cohort_size FROM c GROUP BY 1),
         a AS (SELECT DISTINCT user_id, week FROM wk),
         r AS (SELECT cohort_week, week - cohort_week AS week_offset, count(*) AS n_active
               FROM a JOIN c USING (user_id) GROUP BY 1, 2)
         SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
                CAST(week_offset AS BIGINT) AS week_offset,
                CAST(n_active AS BIGINT) AS n_active,
                CAST(cohort_size AS BIGINT) AS cohort_size,
                CAST(n_active * 10000 // cohort_size AS BIGINT) AS retention_x10000
         FROM r JOIN cs USING (cohort_week)""")),
    // Gopher-style quality gate: per-rule 0/1 flags + composed pass from
    // ONE (doc_id, word) aggregation chain; text never crosses a shuffle
    // q131: DuckDB re-derives every Gopher rule from the same
    // (doc_id, word) aggregation chain in exact integers
    QuerySpec("q131_gopher_gate", (s, d) => TextOps.gopherGate(s, d), Oracle(
      s"""WITH w AS (SELECT doc_id,
                unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS word
              FROM documents),
         dw AS (SELECT doc_id, word, count(*) AS cnt, max(length(word)) AS wlen
                FROM w GROUP BY 1, 2),
         d AS (SELECT doc_id,
                sum(cnt) AS n_words,
                count(*) AS n_distinct_words,
                max(cnt) AS top_word_cnt,
                sum(cnt * wlen) AS n_word_chars,
                sum(CASE WHEN word IN (${TextOps.GopherStopwords.map("'" + _ + "'").mkString(", ")})
                    THEN cnt ELSE 0 END) AS n_stopwords
               FROM dw GROUP BY 1),
         f AS (SELECT *,
                n_word_chars * 100 // n_words AS mean_wordlen_x100,
                top_word_cnt * 10000 // n_words AS top_word_x10000,
                CASE WHEN n_words BETWEEN ${TextOps.GopherMinWords} AND ${TextOps.GopherMaxWords}
                     THEN 1 ELSE 0 END AS flag_words,
                CASE WHEN n_stopwords >= ${TextOps.GopherMinStopwords} THEN 1 ELSE 0 END AS flag_stopwords
               FROM d),
         f2 AS (SELECT *,
                CASE WHEN mean_wordlen_x100 BETWEEN ${TextOps.GopherMinMeanLenX100} AND ${TextOps.GopherMaxMeanLenX100}
                     THEN 1 ELSE 0 END AS flag_wordlen,
                CASE WHEN top_word_x10000 <= ${TextOps.GopherMaxTopWordX10000} THEN 1 ELSE 0 END AS flag_topword
               FROM f)
         SELECT doc_id,
                CAST(n_words AS BIGINT) AS n_words,
                CAST(n_distinct_words AS BIGINT) AS n_distinct_words,
                CAST(mean_wordlen_x100 AS BIGINT) AS mean_wordlen_x100,
                CAST(n_stopwords AS BIGINT) AS n_stopwords,
                CAST(top_word_x10000 AS BIGINT) AS top_word_x10000,
                CAST(flag_words AS BIGINT) AS flag_words,
                CAST(flag_wordlen AS BIGINT) AS flag_wordlen,
                CAST(flag_stopwords AS BIGINT) AS flag_stopwords,
                CAST(flag_topword AS BIGINT) AS flag_topword,
                CAST(flag_words * flag_wordlen * flag_stopwords * flag_topword AS BIGINT) AS pass
         FROM f2""")),
    // DSIR-shaped importance selection over the planted domain-mixture
    // corpus: two token-count LMs, a vocab-capped broadcast λ map in exact
    // quarter-bits, per-doc fold — the corpus never crosses an exchange
    // q132: DuckDB retrains both unigram LMs from the materialized corpus
    // and re-evaluates the SAME exact quarter-bit log recipe (15-bit
    // mantissa truncate, then bitlen(xr^4)-1+4s) — the `qin`/`qb` CTEs
    // stage the four qb() operands so the recipe is written once
    QuerySpec("q132_dsir_select", (s, _) =>
      TextOps.dsirSelect(graft.synth.DomainDocs.docs(s, VerifyDomainDocs)), Oracle(
      s"""WITH docs AS (SELECT * FROM read_parquet('__SYNTH__/domain_docs.parquet/*.parquet')),
         w AS (SELECT doc_id, domain,
                 list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '') AS words
               FROM docs),
         tok AS (SELECT doc_id, domain, unnest(words) AS token FROM w),
         cr AS (SELECT token, count(*) AS cnt_r FROM tok GROUP BY 1),
         ct AS (SELECT token, count(*) AS cnt_t FROM tok WHERE domain = 'target' GROUP BY 1),
         totr AS (SELECT CAST(coalesce(sum(cnt_r), 0) AS BIGINT) AS n_r FROM cr),
         tott AS (SELECT CAST(coalesce(sum(cnt_t), 0) AS BIGINT) AS n_t FROM ct),
         v AS (SELECT token, cnt_r FROM cr ORDER BY cnt_r DESC, token ASC LIMIT ${ops.TextOps.DsirVocabSize}),
         qin AS (SELECT v.token, 'ct' AS which, CAST(coalesce(ct.cnt_t, 0) + 1 AS BIGINT) AS x
                 FROM v LEFT JOIN ct USING (token)
           UNION ALL SELECT token, 'cr', CAST(cnt_r AS BIGINT) FROM v
           UNION ALL SELECT token, 'nr', n_r FROM v, totr
           UNION ALL SELECT token, 'nt', n_t FROM v, tott),
         qb AS (SELECT token, which, length(bin(xr*xr*xr*xr)) - 1 + 4*s AS q
                FROM (SELECT token, which, x >> s AS xr, s
                      FROM (SELECT token, which, x,
                              greatest(length(bin(x)) - 15, 0) AS s FROM qin))),
         lam AS (SELECT token,
                   CAST(sum(CASE WHEN which IN ('ct', 'nr') THEN q ELSE -q END) AS BIGINT) AS lam
                 FROM qb GROUP BY 1),
         sc AS (SELECT t.doc_id, CAST(sum(coalesce(lam.lam, 0)) AS BIGINT) AS dsir_qbits
                FROM tok t LEFT JOIN lam USING (token) GROUP BY 1)
         SELECT w.doc_id, w.domain, CAST(len(words) AS BIGINT) AS n_tokens,
                CAST(coalesce(sc.dsir_qbits, 0) AS BIGINT) AS dsir_qbits,
                coalesce(sc.dsir_qbits, 0) > 0 AS selected
         FROM w LEFT JOIN sc USING (doc_id)""")),
    // streaming HTML TABLE extraction (structured records from markup):
    // per-cell rows vs the generator's by-construction goldens — the
    // q28/q121 trust model applied to the table surface
    // q133: generator-materialized by-construction cells (the q28/q121
    // trust model — the extractor recomputes them from raw HTML, the
    // oracle never runs the extractor)
    QuerySpec("q133_html_tables", (s, _) => TableOps.cells(s, VerifyTableDocs), Oracle(
      """SELECT doc_id, CAST(table_idx AS BIGINT) AS table_idx,
                CAST(row_idx AS BIGINT) AS row_idx,
                CAST(col_idx AS BIGINT) AS col_idx, is_header, cell_text
         FROM read_parquet('__SYNTH__/golden_cells.parquet/*.parquet')""")),
    // header-keyed table records: the q133 cells normalized into
    // (doc, table, row, col_name, value) rows via a 3-key equi-join
    // against the header subset — documents in, relational rows out
    // q134: DuckDB derives the header-keyed records from the GOLDEN cells
    // (independent of both the engine's extractor and its join), so a
    // mismatch in either shows up as a row diff
    QuerySpec("q134_table_records", (s, _) =>
      TableOps.tableRecords(TableOps.cells(s, VerifyTableDocs)), Oracle(
      """WITH c AS (SELECT * FROM read_parquet('__SYNTH__/golden_cells.parquet/*.parquet')),
         h AS (SELECT doc_id, table_idx, col_idx, cell_text AS col_name
               FROM c WHERE is_header AND row_idx = 0),
         d AS (SELECT * FROM c WHERE NOT is_header)
         SELECT d.doc_id, CAST(d.table_idx AS BIGINT) AS table_idx,
                CAST(d.row_idx AS BIGINT) AS row_idx,
                h.col_name, d.cell_text AS value
         FROM d JOIN h USING (doc_id, table_idx, col_idx)""")),
    // markdown pipe-table extraction (the GFM twin of q133): fenced code
    // blocks skipped, escaped pipes/emphasis handled — same cell schema,
    // so tableRecords composes over both markup families
    // q135: generator-materialized by-construction markdown cells (same
    // trust model as q133)
    QuerySpec("q135_md_tables", (s, _) => TableOps.mdCells(s, VerifyMdTableDocs), Oracle(
      """SELECT doc_id, CAST(table_idx AS BIGINT) AS table_idx,
                CAST(row_idx AS BIGINT) AS row_idx,
                CAST(col_idx AS BIGINT) AS col_idx, is_header, cell_text
         FROM read_parquet('__SYNTH__/md_golden_cells.parquet/*.parquet')""")),
    // HTML link/anchor-text extraction (the outlink surface): attribute
    // parsing with quoted/unquoted hrefs, entity decode in values,
    // browser-style auto-close — per-doc flatMap, zero exchanges
    // q136: generator-materialized by-construction links (same trust
    // model as q133/q135)
    QuerySpec("q136_html_links", (s, _) => TableOps.links(s, VerifyTableDocs), Oracle(
      """SELECT doc_id, CAST(link_idx AS BIGINT) AS link_idx, href, anchor
         FROM read_parquet('__SYNTH__/golden_links.parquet/*.parquet')""")),
    // document-outline extraction over the planted heading corpus: raw
    // sections (q137) and breadcrumb paths (q138) — the oracle re-derives
    // the ancestor chain from golden (level, title) order via a recursive
    // CTE, independent of both the generator's literal paths and the
    // engine's stack
    // q137: generator-materialized by-construction sections (the
    // q133/q135/q136 trust model)
    QuerySpec("q137_outline_sections", (s, _) =>
      TableOps.sections(s, VerifyOutlineDocs)
        .select(col("doc_id"), col("section_idx"), col("level"), col("title")), Oracle(
      """SELECT doc_id, CAST(section_idx AS BIGINT) AS section_idx,
                CAST(level AS BIGINT) AS level, title
         FROM read_parquet('__SYNTH__/golden_sections.parquet/*.parquet')""")),
    // q138: DuckDB re-derives each section's breadcrumb from the golden
    // (level, title) ORDER alone — parent = latest earlier section with a
    // smaller level (exactly the level-stack invariant), chain closed by
    // a recursive CTE. Independent of the generator's literal paths AND
    // the engine's stack.
    QuerySpec("q138_outline_paths", (s, _) =>
      TableOps.sections(s, VerifyOutlineDocs)
        .select(col("doc_id"), col("section_idx"), col("path")), Oracle(
      """WITH RECURSIVE
         g AS (SELECT * FROM read_parquet('__SYNTH__/golden_sections.parquet/*.parquet')),
         anc AS (SELECT s.doc_id, s.section_idx, s.title,
                   (SELECT max(p.section_idx) FROM g p
                    WHERE p.doc_id = s.doc_id AND p.section_idx < s.section_idx
                      AND p.level < s.level) AS parent_idx
                 FROM g s),
         chain AS (
           SELECT doc_id, section_idx, parent_idx, title AS path FROM anc
           UNION ALL
           SELECT c.doc_id, c.section_idx, a.parent_idx, a.title || ' > ' || c.path
           FROM chain c JOIN anc a
             ON a.doc_id = c.doc_id AND a.section_idx = c.parent_idx)
         SELECT doc_id, CAST(section_idx AS BIGINT) AS section_idx, path
         FROM chain WHERE parent_idx IS NULL""")),
    // anchor-text aggregation per target host: the web-search signal
    // composed from the q136 link frame
    // q139: DuckDB re-derives the per-host anchor-term rollup from the
    // GOLDEN links with the same host normalization and tokenization
    QuerySpec("q139_anchor_terms", (s, _) =>
      WebOps.anchorTerms(TableOps.links(s, VerifyTableDocs)), Oracle(
      s"""WITH l AS (SELECT * FROM read_parquet('__SYNTH__/golden_links.parquet/*.parquet')),
         h AS (SELECT doc_id,
                 regexp_replace(lower(regexp_extract(href, '${ops.WebOps.HostRe}', 1)), '^www\\.', '') AS host,
                 anchor FROM l),
         t AS (SELECT host, doc_id,
                 unnest(string_split_regex(lower(anchor), '\\s+')) AS term
               FROM h WHERE host <> '')
         SELECT host, term, count(*) AS n_mentions,
                count(DISTINCT doc_id) AS n_source_docs
         FROM t WHERE term <> '' GROUP BY 1, 2""")),
    // conversation-flow transition matrix (role / tool:<name> states)
    // q140: DuckDB re-derives the transition matrix with the same lead
    // window and the same exact integer probability arithmetic
    QuerySpec("q140_transitions", (s, _) =>
      TranscriptOps.transitionMatrix(SynthDataset.turns(s, VerifyConvs)), Oracle(
      """WITH t AS (SELECT conv_id, turn_idx,
                 CASE WHEN role = 'tool' THEN 'tool:' || tool ELSE role END AS state
               FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')),
         s AS (SELECT conv_id, state,
                 lead(state) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS next_state
               FROM t),
         m AS (SELECT state AS from_state, next_state AS to_state, count(*) AS n
               FROM s WHERE next_state IS NOT NULL GROUP BY 1, 2)
         SELECT from_state, to_state, n,
                CAST((n * 10000) // sum(n) OVER (PARTITION BY from_state) AS BIGINT) AS p_x10000
         FROM m""")),
    // cross-source quality calibration: per-source percentile of the
    // exact integer quality logit
    // q141: DuckDB recomputes the logit from the shared feature fragment
    // and re-derives the per-source percentile with the same rank/count
    // windows and integer arithmetic
    QuerySpec("q141_quality_calibrated", (s, d) => TextOps.qualityCalibrated(s, d), Oracle {
      val Seq(wTok, wLen, wStop, wPunct) = ops.TextOps.QualityLogitWeights
      s"""WITH d AS (SELECT doc_id, source,
                  n_tokens * $wTok + mean_wordlen_x100 * $wLen
                    + stopword_x1000 * $wStop + n_punct * $wPunct AS logit
                FROM ($qualityFeatureSql) t)
         SELECT doc_id, source, logit,
                ((rank() OVER (PARTITION BY source ORDER BY logit) - 1) * 10000)
                  // greatest(count(*) OVER (PARTITION BY source) - 1, 1) AS pct_x10000
         FROM d"""
    }),
    // encoding-quality audit over the planted noisy corpus
    // q142: DuckDB recounts every character class with its own regex
    // engine (RE2) over the materialized noisy corpus — plain
    // triple-quoted on purpose: the \x escapes must reach DuckDB verbatim
    QuerySpec("q142_encoding_audit", (s, _) =>
      TextOps.encodingAudit(graft.synth.NoisyDocs.docs(s, VerifyNoisyDocs)), Oracle(
      """SELECT doc_id, length(text) AS n_chars,
                length(text) - length(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g')) AS n_control,
                length(text) - length(regexp_replace(text, '\x{FFFD}', '', 'g')) AS n_replacement,
                length(text) - length(regexp_replace(text, '[\x{00A0}\x{200B}-\x{200D}\x{FEFF}]', '', 'g')) AS n_invisible,
                length(text) - length(regexp_replace(text, '[^\x00-\x7F]', '', 'g')) AS n_non_ascii,
                (length(text) = length(regexp_replace(text, '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'))
                 AND length(text) = length(regexp_replace(text, '\x{FFFD}', '', 'g'))
                 AND length(text) = length(regexp_replace(text, '[\x{00A0}\x{200B}-\x{200D}\x{FEFF}]', '', 'g'))) AS clean
         FROM read_parquet('__SYNTH__/noisy_docs.parquet/*.parquet')""")),
    // tokenizer-fertility audit from the trained BPE (bytes/token per lang)
    // q143: DuckDB independently RETRAINS the tokenizer (the q80/q81 CTE
    // chain) and re-derives the per-language fertility with the same
    // integer arithmetic
    QuerySpec("q143_bpe_fertility", (s, d) => BpeOps.fertility(s, d), Oracle {
      val n = BpeOps.DefaultMerges
      s"""WITH ${BpeOps.duckdbTrainCtes(n)}${BpeOps.duckdbMapCtes(n)},
         enc AS (SELECT word, trim(packed) AS e FROM v$n),
         docw AS (SELECT doc_id, lang,
                         list_filter(regexp_split_to_array(trim(coalesce(text, '')), '\\s+'), x -> x <> '') AS ws
                  FROM documents),
         ex AS (SELECT doc_id, lang, unnest(ws) AS word FROM docw),
         j AS (SELECT ex.lang, strlen(ex.word) AS b,
                      len(str_split(enc.e, '  ')) AS t
               FROM ex JOIN enc USING (word)),
         a1 AS (SELECT lang, count(*) AS n_docs FROM docw GROUP BY 1),
         a2 AS (SELECT lang, count(*) AS n_words,
                       CAST(sum(b) AS BIGINT) AS n_bytes,
                       CAST(sum(t) AS BIGINT) AS n_tokens
                FROM j GROUP BY 1)
         SELECT a1.lang, a1.n_docs,
                coalesce(a2.n_words, 0) AS n_words,
                coalesce(a2.n_bytes, 0) AS n_bytes,
                coalesce(a2.n_tokens, 0) AS n_tokens,
                (coalesce(a2.n_bytes, 0) * 100) // greatest(coalesce(a2.n_tokens, 0), 1) AS bytes_per_token_x100,
                (coalesce(a2.n_tokens, 0) * 100) // greatest(coalesce(a2.n_words, 0), 1) AS tokens_per_word_x100
         FROM a1 LEFT JOIN a2 USING (lang)"""
    }),
    // crawl-budget apportionment over host PageRank (largest remainder)
    // q144: DuckDB re-runs the full PageRank CTE chain (q85) and then the
    // same Hamilton apportionment — base, remainders, leftover seats by
    // (rem DESC, host) — in BIGINT throughout
    QuerySpec("q144_crawl_budget", (s, _) =>
      WebOps.crawlBudget(graft.synth.WebDocs.docs(s, VerifyWebDocs)), Oracle(crawlBudgetCtes +
      """SELECT host, rank_x1e12, base, alloc FROM ham""")),
    // pdfir layout table detection: grids recovered from positioned runs
    // q145: generator-materialized by-construction grid cells (the
    // q133/q135/q136/q137 trust model)
    QuerySpec("q145_pdf_grids", (s, _) => TableOps.pdfGrids(s, VerifyPdfGridDocs), Oracle(
      """SELECT doc_id, CAST(page AS BIGINT) AS page,
                CAST(table_idx AS BIGINT) AS table_idx,
                CAST(row_idx AS BIGINT) AS row_idx,
                CAST(col_idx AS BIGINT) AS col_idx, cell_text
         FROM read_parquet('__SYNTH__/golden_grid_cells.parquet/*.parquet')""")),
    // detected grids normalized into first-row-header records
    // q146: DuckDB derives the first-row-header pivot from the GOLDEN
    // cells — independent of the engine's extractor AND its join
    QuerySpec("q146_grid_records", (s, _) =>
      TableOps.pdfGridRecords(TableOps.pdfGrids(s, VerifyPdfGridDocs)), Oracle(
      """WITH c AS (SELECT * FROM read_parquet('__SYNTH__/golden_grid_cells.parquet/*.parquet')),
         h AS (SELECT doc_id, page, table_idx, col_idx, cell_text AS col_name
               FROM c WHERE row_idx = 0),
         d AS (SELECT * FROM c WHERE row_idx > 0)
         SELECT d.doc_id, CAST(d.page AS BIGINT) AS page,
                CAST(d.table_idx AS BIGINT) AS table_idx,
                CAST(d.row_idx AS BIGINT) AS row_idx,
                h.col_name, d.cell_text AS value
         FROM d JOIN h USING (doc_id, page, table_idx, col_idx)""")),
    // context-window pruning: first + last-K turns per conversation
    // q147: DuckDB re-derives the keep set with the same min/max windows
    QuerySpec("q147_context_prune", (s, _) =>
      TranscriptOps.contextPrune(SynthDataset.turns(s, VerifyConvs)), Oracle(
      s"""WITH m AS (SELECT conv_id, turn_idx, role,
                  max(turn_idx) OVER (PARTITION BY conv_id) AS mx,
                  min(turn_idx) OVER (PARTITION BY conv_id) AS mn
                FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet'))
         SELECT conv_id, turn_idx, role,
                CASE WHEN turn_idx = mn THEN 'first' ELSE 'tail' END AS keep_reason
         FROM m WHERE turn_idx = mn OR turn_idx > mx - ${ops.TranscriptOps.ContextKeepTail}""")),
    // per-host anchor keywords: whole-bit TF-IDF over hosts-as-documents
    // q148: DuckDB re-derives the q139 term rollup from GOLDEN links,
    // then the same whole-bit idf (q86 recipe) and per-host top-K
    QuerySpec("q148_anchor_keywords", (s, _) =>
      WebOps.anchorKeywords(TableOps.links(s, VerifyTableDocs)), Oracle(anchorKeywordSql(
      "SELECT doc_id, href, anchor FROM read_parquet('__SYNTH__/golden_links.parquet/*.parquet')"))),
    // source-epoch scheduling from the temperature mixture vs a budget
    // q149: DuckDB evaluates the SAME isqrt fragment and schedule
    // arithmetic over its own per-source token sums
    QuerySpec("q149_epoch_schedule", (s, d) => TrainingOps.epochSchedule(s, d), Oracle(
      s"""WITH per AS (
           SELECT source,
                  CAST(sum(len(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> ''))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         w AS (SELECT *, ${TrainingOps.isqrtSql("n_tokens")} AS weight FROM per),
         t AS (SELECT CAST(sum(weight) AS BIGINT) AS tot_w FROM w)
         SELECT source, n_tokens, CAST(weight AS BIGINT) AS weight,
                CAST((${TrainingOps.TrainTokenBudget} * weight) // tot_w AS BIGINT) AS target_tokens,
                CAST(((${TrainingOps.TrainTokenBudget} * weight) // tot_w * 100)
                     // greatest(n_tokens, 1) AS BIGINT) AS epochs_x100,
                ((${TrainingOps.TrainTokenBudget} * weight) // tot_w * 100)
                     // greatest(n_tokens, 1) > 100 AS oversampled
         FROM w, t""")),
    // markdown section bodies with breadcrumb provenance
    // q150: generator-materialized by-construction section bodies (the
    // q137 trust model, body edition)
    QuerySpec("q150_md_sections", (s, _) => TableOps.mdSectionBodies(s, VerifyOutlineDocs), Oracle(
      """SELECT doc_id, CAST(section_idx AS BIGINT) AS section_idx, path, body
         FROM read_parquet('__SYNTH__/golden_section_bodies.parquet/*.parquet')""")),
    // markdown inline-link extraction (the md twin of q136)
    // q151: generator-materialized by-construction markdown links
    QuerySpec("q151_md_links", (s, _) => TableOps.mdLinks(s, VerifyOutlineDocs), Oracle(
      """SELECT doc_id, CAST(link_idx AS BIGINT) AS link_idx, href, anchor
         FROM read_parquet('__SYNTH__/golden_md_links.parquet/*.parquet')""")),
    // unified outlink census across both markup families
    // q152: DuckDB re-derives the census from the UNION of both golden
    // link tables with the same normalization
    QuerySpec("q152_link_surface", (s, _) =>
      WebOps.linkSurface(
        TableOps.links(s, VerifyTableDocs),
        TableOps.mdLinks(s, VerifyOutlineDocs)), Oracle(
      s"""WITH u AS (
           SELECT doc_id, href, 'html' AS family
           FROM read_parquet('__SYNTH__/golden_links.parquet/*.parquet')
           UNION ALL
           SELECT doc_id, href, 'markdown' AS family
           FROM read_parquet('__SYNTH__/golden_md_links.parquet/*.parquet')),
         hn AS (SELECT doc_id, family,
                  regexp_replace(lower(regexp_extract(href, '${ops.WebOps.HostRe}', 1)), '^www\\.', '') AS host0
                FROM u),
         h AS (SELECT doc_id, family,
                 CASE WHEN host0 = '' THEN '(relative)' ELSE host0 END AS host
               FROM hn)
         SELECT host, family, count(*) AS n_links,
                count(DISTINCT doc_id) AS n_docs
         FROM h GROUP BY 1, 2""")),
    // intra-conversation segmentation on inter-turn time gaps
    // q153: DuckDB re-derives the gap-break running sum in exact µs
    QuerySpec("q153_conv_segments", (s, _) =>
      TranscriptOps.convSegments(
        graft.synth.RetryCorpus.turns(s, VerifyRetryConvs)), Oracle(
      s"""WITH t AS (SELECT conv_id, turn_idx, epoch_us(ts) AS us
                FROM read_parquet('__SYNTH__/retry_turns.parquet/*.parquet')),
         b AS (SELECT conv_id, turn_idx, us,
                 CASE WHEN us - lag(us) OVER (PARTITION BY conv_id ORDER BY turn_idx)
                      > ${ops.TranscriptOps.SegmentGapUs} THEN 1 ELSE 0 END AS brk
               FROM t),
         s AS (SELECT conv_id, turn_idx, us,
                 sum(brk) OVER (PARTITION BY conv_id ORDER BY turn_idx
                   ROWS UNBOUNDED PRECEDING) AS segment
               FROM b)
         SELECT conv_id, CAST(segment AS BIGINT) AS segment,
                count(*) AS n_turns,
                CAST(min(turn_idx) AS INTEGER) AS first_turn,
                CAST(max(turn_idx) AS INTEGER) AS last_turn,
                CAST(max(us) - min(us) AS BIGINT) AS span_us
         FROM s GROUP BY 1, 2""")),
    // symmetric int8 embedding quantization with exact audit columns
    // q154: DuckDB re-quantizes with the SAME fixed double-expression
    // order (the q42 float-parity discipline) and re-derives every audit
    QuerySpec("q154_embed_quantize", (s, d) => SimilarityOps.quantizeEmbeddings(s, d), Oracle(
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         a AS (SELECT vec_id, v,
                 greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) AS amax
               FROM e),
         c AS (SELECT vec_id, v, amax,
                 list_transform(v, x -> CAST(floor(x / amax * 127.0 + 0.5) AS INTEGER)) AS codes
               FROM a)
         SELECT vec_id, CAST(len(v) AS INTEGER) AS n_dims,
                CAST(floor(amax * 1000000.0) AS BIGINT) AS amax_x1e6,
                CAST(list_sum(list_transform(codes, x -> abs(x))) AS BIGINT) AS l1_codes,
                CAST(len(list_filter(codes, x -> abs(x) = 127)) AS BIGINT) AS n_saturated,
                sha256(array_to_string(codes, ',')) AS codes_sha
         FROM c""")),
    // jitter-tolerant grid detection over the OCR-noise corpus
    // q155: generator-materialized by-construction jittered cells
    QuerySpec("q155_pdf_grids_jitter", (s, _) =>
      TableOps.pdfGridsJitter(s, VerifyPdfGridDocs), Oracle(
      """SELECT doc_id, CAST(page AS BIGINT) AS page,
                CAST(table_idx AS BIGINT) AS table_idx,
                CAST(row_idx AS BIGINT) AS row_idx,
                CAST(col_idx AS BIGINT) AS col_idx, cell_text
         FROM read_parquet('__SYNTH__/golden_jitter_cells.parquet/*.parquet')""")),
    // quantized-search recall vs the float brute baseline
    // q156: DuckDB re-quantizes (q154 chain), re-ranks by the same
    // signed integer cos², re-derives the float top-k (q25 chain), and
    // intersects — list_inner_product over int codes is exact (< 2^53)
    QuerySpec("q156_quantized_recall", (s, d) => SimilarityOps.quantizedRecall(s, d), Oracle {
      val n = ops.SimilarityOps.NQueries
      val k = ops.SimilarityOps.DefaultK
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         a AS (SELECT vec_id, v,
                 greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) AS amax
               FROM e),
         c AS (SELECT vec_id,
                 list_transform(v, x -> CAST(floor(x / amax * 127.0 + 0.5) AS INTEGER)) AS codes
               FROM a),
         qc AS (SELECT vec_id, codes,
                  CAST(list_inner_product(codes, codes) AS BIGINT) AS n2 FROM c),
         qq AS (SELECT vec_id AS qid, codes AS qcodes, n2 AS qn2
                FROM qc WHERE vec_id < $n),
         sd AS (SELECT qid AS query_id, vec_id AS neighbor_id,
                  CAST(list_inner_product(qcodes, codes) AS BIGINT) AS dot,
                  qn2, n2
                FROM qq, qc WHERE vec_id <> qid),
         sc AS (SELECT query_id, neighbor_id,
                  CASE WHEN dot < 0 THEN -((dot * dot * 10000) // (qn2 * n2))
                       ELSE (dot * dot * 10000) // (qn2 * n2) END AS s2
                FROM sd),
         qt AS (SELECT query_id, neighbor_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY s2 DESC, neighbor_id ASC) AS rn FROM sc) t
                WHERE rn <= $k),
         fq AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
                WHERE vec_id < $n),
         fs AS (SELECT qid AS query_id, vec_id AS neighbor_id,
                  CAST(floor(list_cosine_similarity(qe, embedding) * 10000) AS BIGINT) AS cos
                FROM fq, embeddings WHERE vec_id <> qid),
         ft AS (SELECT query_id, neighbor_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rn FROM fs) t
                WHERE rn <= $k),
         ov AS (SELECT query_id, count(*) AS n FROM (
                  SELECT * FROM ft INTERSECT SELECT * FROM qt) t GROUP BY 1)
         SELECT q.qid AS query_id,
                CAST(coalesce(ov.n, 0) AS BIGINT) AS n_overlap,
                CAST(coalesce(ov.n, 0) * 10000 // $k AS BIGINT) AS recall_x10000
         FROM (SELECT DISTINCT vec_id AS qid FROM embeddings WHERE vec_id < $n) q
         LEFT JOIN ov ON ov.query_id = q.qid"""
    }),
    // domain-level quality: host reputation + the citation cascade
    // q157/q158: DuckDB recomputes the quality logit over web_docs, the
    // per-host attribution, and the citation cascade with the same
    // integer arithmetic
    QuerySpec("q157_host_quality", (s, _) =>
      WebOps.hostQuality(graft.synth.WebDocs.docs(s, VerifyWebDocs)), Oracle(hostQualityCtes +
      s"""SELECT host, n_docs, mean_logit_x100,
                mean_logit_x100 >= ${ops.WebOps.HostReputationThresholdX100} AS reputable
         FROM g""")),
    QuerySpec("q158_reputation_filter", (s, _) =>
      WebOps.reputationFilter(graft.synth.WebDocs.docs(s, VerifyWebDocs)), Oracle(hostQualityCtes +
      s""", bad AS (SELECT host FROM g
                WHERE mean_logit_x100 < ${ops.WebOps.HostReputationThresholdX100}),
         dh AS (SELECT DISTINCT doc_id, host FROM h),
         pd AS (SELECT dh.doc_id, count(*) AS n_hosts,
                  CAST(sum(CASE WHEN bad.host IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_bad
                FROM dh LEFT JOIN bad ON bad.host = dh.host GROUP BY 1)
         SELECT w.doc_id, CAST(coalesce(pd.n_hosts, 0) AS BIGINT) AS n_hosts,
                coalesce(pd.n_bad, 0) AS n_bad,
                coalesce(pd.n_bad, 0) = 0 AS keep
         FROM w LEFT JOIN pd USING (doc_id)""")),
    // URL canonicalization over the extracted link frame
    // q159: DuckDB runs the SAME canonicalization steps in its own SQL
    // over the GOLDEN links (shared CTE chain with q160)
    QuerySpec("q159_url_canon", (s, _) =>
      WebOps.canonicalUrls(TableOps.links(s, VerifyTableDocs)), Oracle(urlCanonCtes +
      """SELECT doc_id, CAST(link_idx AS BIGINT) AS link_idx, href, canon_url
         FROM canon""")),
    // canonical frontier groups: the dedup the canonicalization buys
    // q160: the same chain rolled to canonical groups
    QuerySpec("q160_canon_groups", (s, _) =>
      WebOps.canonGroups(TableOps.links(s, VerifyTableDocs)), Oracle(urlCanonCtes +
      """SELECT canon_url, count(*) AS n_refs,
                CAST(count(DISTINCT href) AS BIGINT) AS n_raw_forms,
                count(DISTINCT href) > 1 AS merged
         FROM canon GROUP BY 1""")),
    // section-scoped RAG chunks keyed by breadcrumb provenance
    // q161: DuckDB re-chunks the GOLDEN section bodies with the same
    // token windows (1-based inclusive list slice == slice(toks, a, k))
    QuerySpec("q161_section_chunks", (s, _) => TableOps.sectionChunks(s, VerifyOutlineDocs), Oracle {
      val k = ops.TableOps.SectionChunkTokens
      s"""WITH b AS (SELECT * FROM read_parquet('__SYNTH__/golden_section_bodies.parquet/*.parquet')),
         t AS (SELECT doc_id, section_idx, path,
                 list_filter(regexp_split_to_array(body, '\\s+'), x -> x <> '') AS toks
               FROM b),
         c AS (SELECT doc_id, section_idx, path, toks,
                 CASE WHEN len(toks) = 0 THEN CAST([] AS BIGINT[])
                      ELSE range((len(toks) - 1) // $k + 1) END AS idxs
               FROM t),
         e AS (SELECT doc_id, section_idx, path, toks, unnest(idxs) AS chunk_idx
               FROM c)
         SELECT doc_id, CAST(section_idx AS BIGINT) AS section_idx, path,
                CAST(chunk_idx AS BIGINT) AS chunk_idx,
                array_to_string(toks[chunk_idx * $k + 1 : least((chunk_idx + 1) * $k, len(toks))], ' ') AS chunk_text
         FROM e"""
    }),
    // politeness-capped crawl schedule with single-round redistribution
    // q164: the same chain + cap, surplus, one redistribution round and
    // the clip — all in BIGINT
    QuerySpec("q164_polite_schedule", (s, _) =>
      WebOps.politeCrawlSchedule(graft.synth.WebDocs.docs(s, VerifyWebDocs)), Oracle(crawlBudgetCtes + {
      val cap = ops.WebOps.PolitenessCapPages
      s""", a1 AS (SELECT host, rank_x1e12, alloc,
                least(alloc, $cap) AS alloc1, alloc > $cap AS was_capped
              FROM ham),
         t2 AS (SELECT CAST(sum(alloc - alloc1) AS BIGINT) AS surplus,
                  CAST(sum(CASE WHEN NOT was_capped THEN rank_x1e12 ELSE 0 END) AS BIGINT) AS open_rank
                FROM a1),
         b2 AS (SELECT a1.*, t2.surplus,
                  CASE WHEN was_capped OR t2.open_rank = 0 THEN 0
                       ELSE CAST((t2.surplus * rank_x1e12) // t2.open_rank AS BIGINT) END AS extra_base,
                  CASE WHEN was_capped OR t2.open_rank = 0 THEN -1
                       ELSE CAST((t2.surplus * rank_x1e12) % t2.open_rank AS BIGINT) END AS extra_rem
                FROM a1, t2),
         l2 AS (SELECT CAST(max(surplus) - sum(extra_base) AS BIGINT) AS seats FROM b2),
         f AS (SELECT b2.*,
                 CASE WHEN was_capped THEN 0
                      ELSE extra_base + CASE WHEN row_number() OVER
                        (ORDER BY extra_rem DESC, host) <= l2.seats
                        THEN 1 ELSE 0 END END AS extra
               FROM b2, l2)
         SELECT host, alloc, was_capped,
                least(alloc1 + extra, $cap) AS final_alloc
         FROM f"""
    })),
    // anchor keywords over BOTH markup families (q136 ∪ q151 → q148)
    // q165: the same ranking over the UNION of both markup families'
    // golden links
    QuerySpec("q165_anchor_keywords_all", (s, _) =>
      WebOps.anchorKeywords(
        TableOps.links(s, VerifyTableDocs)
          .unionByName(TableOps.mdLinks(s, VerifyOutlineDocs))), Oracle(anchorKeywordSql(
      """SELECT doc_id, href, anchor FROM read_parquet('__SYNTH__/golden_links.parquet/*.parquet')
         UNION ALL
         SELECT doc_id, href, anchor FROM read_parquet('__SYNTH__/golden_md_links.parquet/*.parquet')"""))),
    // extraction-catalog SQL surface: all markup/layout outputs as views
    // q163: DuckDB derives the same per-family summary from the GOLDEN
    // extraction tables (cells/links/sections materialized by Verify) —
    // independent of every engine extractor AND the SQL surface
    QuerySpec("q163_extraction_summary", (s, _) =>
      SqlSurface.extractionSummary(s, VerifyTableDocs, VerifyOutlineDocs,
        VerifyPdfGridDocs), Oracle(
      """SELECT 'html' AS family,
           (SELECT count(*) FROM (SELECT DISTINCT doc_id, table_idx
              FROM read_parquet('__SYNTH__/golden_cells.parquet/*.parquet')) t) AS n_tables,
           (SELECT count(*) FROM read_parquet('__SYNTH__/golden_cells.parquet/*.parquet')) AS n_cells,
           (SELECT count(*) FROM read_parquet('__SYNTH__/golden_links.parquet/*.parquet')) AS n_links,
           (SELECT count(*) FROM read_parquet('__SYNTH__/golden_sections.parquet/*.parquet')
              WHERE doc_id % 2 = 0) AS n_sections
       UNION ALL
       SELECT 'markdown',
           (SELECT count(*) FROM (SELECT DISTINCT doc_id, table_idx
              FROM read_parquet('__SYNTH__/md_golden_cells.parquet/*.parquet')) t),
           (SELECT count(*) FROM read_parquet('__SYNTH__/md_golden_cells.parquet/*.parquet')),
           (SELECT count(*) FROM read_parquet('__SYNTH__/golden_md_links.parquet/*.parquet')),
           (SELECT count(*) FROM read_parquet('__SYNTH__/golden_sections.parquet/*.parquet')
              WHERE doc_id % 2 = 1)
       UNION ALL
       SELECT 'pdfir',
           (SELECT count(*) FROM (SELECT DISTINCT doc_id, table_idx
              FROM read_parquet('__SYNTH__/golden_grid_cells.parquet/*.parquet')) t),
           (SELECT count(*) FROM read_parquet('__SYNTH__/golden_grid_cells.parquet/*.parquet')),
           CAST(0 AS BIGINT), CAST(0 AS BIGINT)""")),
    // extraction-coverage report: the REAL pipeline rolled per payload
    // kind, which must equal the generator's golden rollup exactly
    // q162: DuckDB rolls the GOLDEN expectations per kind — if the real
    // pipeline's rollup matches, per-kind coverage is engine-exact
    QuerySpec("q162_extract_coverage", (s, _) =>
      Pipeline.run(s, SynthDataset.turns(s, VerifyConvs))
        .groupBy(col("kind"))
        .agg(
          count(lit(1)).as("n_turns"),
          sum(when(col("failure").isNotNull, 1L).otherwise(0L)).as("n_failures"),
          sum(length(col("extracted_text")).cast("long")).as("sum_chars"),
          count_distinct(col("failure")).as("n_failure_classes"))
        .withColumn("mean_chars_x100", expr("(sum_chars * 100) div n_turns")), Oracle(
      """SELECT kind, count(*) AS n_turns,
                CAST(sum(CASE WHEN expected_failure IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_failures,
                CAST(sum(length(expected_text)) AS BIGINT) AS sum_chars,
                CAST(count(DISTINCT expected_failure) AS BIGINT) AS n_failure_classes,
                CAST((sum(length(expected_text)) * 100) // count(*) AS BIGINT) AS mean_chars_x100
         FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')
         GROUP BY 1""")),
    // CCNet head/middle/tail: per-language surprise terciles by VALUE
    // thresholds off a (lang, surprise) histogram — no corpus-wide window
    // q166: DuckDB re-derives the q75 surprise chain, collapses it to the
    // same (lang, surprise) histogram, takes the identical cum*3 >= n
    // value thresholds, and re-buckets every doc
    QuerySpec("q166_ccnet_buckets", (s, d) => TextOps.ccnetBuckets(s, d), Oracle(
      s"""WITH $lmSurpriseAggSql,
         s AS (SELECT d.doc_id, d.lang,
                      CAST(CASE WHEN coalesce(a.n_tokens, 0) = 0 THEN 0
                           ELSE a.surprise_bits * 100 // a.n_tokens END AS BIGINT) AS mean_surprise_x100
               FROM documents d LEFT JOIN agg a USING (doc_id)),
         h AS (SELECT lang, mean_surprise_x100, count(*) AS cnt FROM s GROUP BY 1, 2),
         cum AS (SELECT lang, mean_surprise_x100,
                        sum(cnt) OVER (PARTITION BY lang ORDER BY mean_surprise_x100 ASC
                                       ROWS UNBOUNDED PRECEDING) AS cum,
                        sum(cnt) OVER (PARTITION BY lang) AS n
                 FROM h),
         th AS (SELECT lang,
                       CAST(min(CASE WHEN cum * 3 >= n THEN mean_surprise_x100 END) AS BIGINT) AS head_max_x100,
                       CAST(min(CASE WHEN cum * 3 >= n * 2 THEN mean_surprise_x100 END) AS BIGINT) AS middle_max_x100
                FROM cum GROUP BY 1)
         SELECT s.doc_id, s.lang, s.mean_surprise_x100,
                th.head_max_x100, th.middle_max_x100,
                CASE WHEN s.mean_surprise_x100 <= th.head_max_x100 THEN 'head'
                     WHEN s.mean_surprise_x100 <= th.middle_max_x100 THEN 'middle'
                     ELSE 'tail' END AS ccnet_bucket
         FROM s JOIN th USING (lang)""")),
    // SemDeDup: within-IVF-cell cosine pruning, keep-farthest-from-
    // centroid — the semantic tier of the dedup stack (exact q20 →
    // near-dup q21-q24 → semantic q167)
    // q167: DuckDB re-derives cell assignment from the materialized
    // centroids (the q54 recipe), scores within-cell cosine pairs, and
    // applies the same keep-farthest-from-centroid domination rule
    QuerySpec("q167_semdedup", (s, d) => DedupOps.semDedup(s, d), Oracle(
      s"""WITH c AS (SELECT cell, CAST(centroid AS DOUBLE[]) AS cv
                    FROM read_parquet('__SYNTH__/centroids.parquet/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         a AS MATERIALIZED (SELECT vec_id,
                  first(cell ORDER BY CAST(floor(list_distance(v, cv) * 10000) AS BIGINT) ASC, cell ASC) AS cell
               FROM e CROSS JOIN c GROUP BY vec_id),
         w AS MATERIALIZED (SELECT a.vec_id, a.cell, e.v,
                  CAST(floor(list_cosine_similarity(e.v, c.cv) * 10000) AS BIGINT) AS cc
               FROM a JOIN e USING (vec_id) JOIN c ON a.cell = c.cell),
         p AS (SELECT x.vec_id, CAST(count(*) AS BIGINT) AS n_dups,
                  max(CASE WHEN y.cc < x.cc OR (y.cc = x.cc AND y.vec_id < x.vec_id)
                      THEN 1 ELSE 0 END) AS dominated
               FROM w x JOIN w y ON x.cell = y.cell AND x.vec_id <> y.vec_id
               WHERE CAST(floor(list_cosine_similarity(x.v, y.v) * 10000) AS BIGINT)
                     >= ${ops.DedupOps.VerifyEmbDupThresholdX10000}
               GROUP BY x.vec_id)
         SELECT w.vec_id, w.cell, w.cc AS cent_cos_x10000,
                CAST(coalesce(p.n_dups, 0) AS BIGINT) AS n_dups,
                coalesce(p.dominated, 0) = 0 AS kept
         FROM w LEFT JOIN p USING (vec_id)""")),
    // HyperLogLog distinct sketch, fully oracled: integer register math,
    // no up-front distinct (max-aggregate registers) — q97's KMV twin
    // q168: DuckDB rebuilds every HLL register from the same sha-prefix
    // layout (8 bucket bits, 52 value bits, unpadded bin() for rho) and
    // the same x2^20 integer harmonic sum — state AND estimate bit-equal
    QuerySpec("q168_hll_distinct", (s, d) => RelationalOps.hllDistinct(s, d), Oracle(
      s"""WITH u AS (SELECT event_type, sha256(CAST(user_id AS VARCHAR)) AS hx
                    FROM events WHERE user_id IS NOT NULL),
         hh AS (SELECT event_type,
                       CAST('0x' || substr(hx, 1, 2) AS BIGINT) AS bucket,
                       CAST('0x' || substr(hx, 3, 13) AS BIGINT) AS v FROM u),
         r AS (SELECT event_type, bucket,
                      max(CASE WHEN v = 0 THEN 53
                          ELSE 53 - length(bin(v)) END) AS rho
               FROM hh GROUP BY 1, 2),
         a AS (SELECT event_type,
                      CAST(count(*) AS BIGINT) AS n_registers_hit,
                      CAST(sum(rho) AS BIGINT) AS sum_rho,
                      CAST(sum(1048576 // (CAST(1 AS BIGINT) << rho)) AS BIGINT)
                        + (${ops.RelationalOps.HllM} - count(*)) * 1048576 AS denom_x2p20,
                      sha256(array_to_string(list(bucket || ':' || rho ORDER BY bucket ASC), ',')) AS registers_sha
               FROM r GROUP BY 1),
         x AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
               FROM events WHERE user_id IS NOT NULL GROUP BY 1)
         SELECT a.event_type, n_registers_hit, sum_rho,
                CAST(denom_x2p20 AS BIGINT) AS denom_x2p20,
                CAST((CAST(${ops.RelationalOps.HllAlphaX10000} AS BIGINT) * ${ops.RelationalOps.HllM} * ${ops.RelationalOps.HllM} * 1048576)
                     // (10000 * denom_x2p20) AS BIGINT) AS est_hll,
                n_exact, registers_sha
         FROM a JOIN x USING (event_type)""")),
    // bucketed co-located join: both sides bucket-laid-out on the join
    // key once, then SMJ with ZERO exchanges (plan-asserted)
    // q169: the layout is engine-private; the RESULT is a plain
    // equi-join DuckDB reproduces directly
    QuerySpec("q169_bucketed_join", (s, d) => RelationalOps.bucketedColocatedJoin(s, d), Oracle(
      """SELECT d.doc_id, d.lang, CAST(len(e.embedding) AS INTEGER) AS n_dims
         FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id""")),
    // ANN ranking quality: DCG/nDCG@k + MRR per tier vs the brute-force
    // order — position-aware where q59's recall is set-overlap-only
    // q170: DuckDB rebuilds the three tiers (shared annTierCtes), then
    // the same constant discount table and floor divisions
    QuerySpec("q170_ann_ranking", (s, d) => SimilarityOps.annRanking(s, d), Oracle {
      val idcg = ops.SimilarityOps.NdcgWeightsX10000.sum
      def tierSql(cte: String, method: String): String =
        s"""SELECT '$method' AS method, q.query_id,
                CAST(coalesce(t.dcg, 0) AS BIGINT) AS dcg_x10000,
                CAST($idcg AS BIGINT) AS idcg_x10000,
                CAST(coalesce(t.dcg, 0) * 10000 // $idcg AS BIGINT) AS ndcg_x10000,
                CAST(coalesce(10000 // t.fh, 0) AS BIGINT) AS rr_x10000
         FROM q LEFT JOIN (
            SELECT l.query_id, sum(${ndcgCaseSql("l.rank")}) AS dcg, min(l.rank) AS fh
            FROM $cte l JOIN exact x ON l.query_id = x.query_id AND l.neighbor_id = x.neighbor_id
            GROUP BY 1) t ON q.query_id = t.query_id"""
      s"""WITH $annTierCtes
         ${tierSql("lsh", "lsh")}
         UNION ALL
         ${tierSql("ivf", "ivf")}"""
    }),
    // out-of-orderness audit: per-type exact lateness quantiles vs the
    // GLOBAL event-time high-water mark (two-phase prefix max) over a
    // planted out-of-order arrival stream — sets the streaming watermark
    // q171: DuckDB REGENERATES the arrival stream from range() + the
    // same sha jitter, then replays the high-water mark as ONE global
    // window (the orthogonal algorithm to the engine's two-phase prefix
    // max) and the integer rank quantiles
    QuerySpec("q171_lateness_audit", (s, _) => RelationalOps.latenessAudit(s), Oracle(
      s"""WITH ev AS (SELECT t.range AS event_id,
                't' || (t.range % 4) AS event_type,
                ${ops.RelationalOps.ArrivalBaseUs} + t.range * ${ops.RelationalOps.ArrivalStepUs}
                  - (CAST('0x' || substr(sha256(CAST(t.range AS VARCHAR)), 1, 8) AS BIGINT)
                     % ${ops.RelationalOps.ArrivalJitterUs}) AS us
              FROM range(${ops.RelationalOps.VerifyArrivalEvents}) t),
         l AS (SELECT event_type,
                greatest(coalesce(max(us) OVER (ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                         us) - us, 0) AS late_us
              FROM ev),
         r AS (SELECT event_type, late_us,
                row_number() OVER (PARTITION BY event_type ORDER BY late_us ASC) AS rn,
                count(*) OVER (PARTITION BY event_type) AS n
               FROM l)
         SELECT r.event_type, p.pct, CAST(r.late_us AS BIGINT) AS lateness_us,
                CAST(r.n AS BIGINT) AS n_events
         FROM r CROSS JOIN (SELECT unnest([${ops.RelationalOps.LatenessPcts.mkString(", ")}]) AS pct) p
         WHERE r.rn = (r.n * p.pct + 99) // 100""")),
    // Unicode NFC + control-strip audit over planted NFC/NFD/control
    // shapes — JDK Normalizer vs DuckDB nfc_normalize, sha-pinned
    // q172: DuckDB applies ITS OWN UAX#15 implementation
    // (nfc_normalize) + the same control class, then shas the cleaned
    // text — engine and oracle share no normalization code at all
    QuerySpec("q172_nfc_audit", (s, _) =>
      TextOps.nfcAudit(graft.synth.NfcDocs.docs(s, VerifyNfcDocs)), Oracle(
      """WITH d AS (SELECT doc_id, raw FROM read_parquet('__SYNTH__/nfc_docs.parquet/*.parquet')),
         n AS (SELECT doc_id, raw, nfc_normalize(raw) AS nfc FROM d),
         c AS (SELECT doc_id, raw, nfc,
                      regexp_replace(nfc, '[\x00-\x1f\x7f]', '', 'g') AS clean FROM n)
         SELECT doc_id, nfc = raw AS was_nfc,
                CAST(length(raw) AS INTEGER) AS n_chars_raw,
                CAST(length(clean) AS INTEGER) AS n_chars_clean,
                CAST(length(nfc) - length(clean) AS INTEGER) AS n_control,
                sha256(clean) AS clean_sha
         FROM c""")),
    // MERGE-INTO semantics: planted upserts (drift updates + idempotent
    // re-sends + late inserts) and tombstones over the golden snapshot;
    // every surviving key tagged insert/update/keep/carry
    // q173: DuckDB re-derives every action from the PLANTED change-set
    // rules over the golden turn keys (the q71 recipe) — no content
    // hashing needed on the oracle side, the rules determine the actions
    QuerySpec("q173_merge_upsert", (s, _) => {
      import s.implicits._
      val base = SynthDataset.turns(s, VerifyConvs)
      val drift = base
        .filter((t: graft.model.Turn) => t.conv_id >= "conv-000005" && t.turn_idx == 0)
        .map((t: graft.model.Turn) => t.copy(text = t.text + " drift"))
      val resend = base
        .filter((t: graft.model.Turn) => t.conv_id >= "conv-000005" && t.turn_idx == 1
          && t.conv_id.substring(5).toLong % 7 == 0)
      val added = s.range(VerifyConvs)
        .filter(c => c >= 5L && c % 10 == 0)
        .map(c => graft.model.Turn(f"conv-$c%06d", 999, "user",
          "<p>late-arriving appended turn body text</p>", null,
          new java.sql.Timestamp(1735689600000L)))
      val deletes = base.toDF()
        .filter(col("conv_id") < "conv-000005")
        .select(col("conv_id"), col("turn_idx"))
      Pipeline.mergeUpsert(base, drift.union(resend).union(added), deletes)
    }, Oracle(
      """WITH g AS (SELECT DISTINCT conv_id, turn_idx
                    FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet'))
         SELECT conv_id, CAST(turn_idx AS INTEGER) AS turn_idx,
                CASE WHEN turn_idx = 0 THEN 'update'
                     WHEN turn_idx = 1 AND CAST(substr(conv_id, 6) AS BIGINT) % 7 = 0 THEN 'keep'
                     ELSE 'carry' END AS action
         FROM g WHERE conv_id >= 'conv-000005'
         UNION ALL
         SELECT conv_id, 999 AS turn_idx, 'insert' AS action
         FROM (SELECT DISTINCT conv_id FROM g) c
         WHERE conv_id >= 'conv-000005' AND CAST(substr(conv_id, 6) AS BIGINT) % 10 = 0""")),
    // language-ID confusion matrix with exact integer row percentages —
    // the eval artifact behind q48's scalar accuracy
    // q174: confusion rollup over the shared q16 derivation + exact
    // integer row percentages
    QuerySpec("q174_lang_confusion", (s, d) => TextOps.langConfusion(s, d), Oracle(
      s"""WITH l AS ($langIdSql),
         m AS (SELECT lang, predicted_lang, CAST(count(*) AS BIGINT) AS n_docs FROM l GROUP BY 1, 2)
         SELECT lang, predicted_lang, n_docs,
                CAST((n_docs * 10000) // (sum(n_docs) OVER (PARTITION BY lang)) AS BIGINT) AS pct_x10000
         FROM m""")),
    // ANN-mined contrastive triplets: hardest positive + hard negative
    // from the anchor's IVF cells, with the margin curriculum signal
    // q175: DuckDB re-derives assignment + probing from the materialized
    // centroids (the q54/q167 recipe), keeps labels on the index, and
    // takes both conditional argmaxes with the same tiebreak
    QuerySpec("q175_hard_negatives", (s, d) => SimilarityOps.hardNegatives(s, d), Oracle(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
         c AS (SELECT cell, CAST(centroid AS DOUBLE[]) AS cv
               FROM read_parquet('__SYNTH__/centroids.parquet/*.parquet')),
         a AS MATERIALIZED (SELECT vec_id,
                  first(cell ORDER BY CAST(floor(list_distance(v, cv) * 10000) AS BIGINT) ASC, cell ASC) AS cell
               FROM e CROSS JOIN c GROUP BY vec_id),
         idx AS (SELECT a.vec_id, a.cell, e.v, e.label FROM a JOIN e USING (vec_id)),
         q AS (SELECT vec_id AS anchor_id, v AS qv, label AS anchor_label FROM e
               WHERE vec_id < ${ops.SimilarityOps.NQueries}),
         p AS MATERIALIZED (SELECT anchor_id, qv, anchor_label, cell FROM (
                 SELECT q.anchor_id, q.qv, q.anchor_label, c.cell,
                        row_number() OVER (PARTITION BY q.anchor_id
                          ORDER BY CAST(floor(list_distance(q.qv, c.cv) * 10000) AS BIGINT) ASC, c.cell ASC) AS pr
                 FROM q CROSS JOIN c) z
                 WHERE pr <= ${ops.SimilarityOps.IvfNProbe}),
         s AS MATERIALIZED (SELECT p.anchor_id, p.anchor_label, idx.vec_id, idx.label,
                      CAST(floor(list_cosine_similarity(p.qv, idx.v) * 10000) AS BIGINT) AS cos
               FROM p JOIN idx ON p.cell = idx.cell AND idx.vec_id <> p.anchor_id),
         pos AS (SELECT anchor_id, first(vec_id ORDER BY cos DESC, vec_id ASC) AS pos_id,
                        max(cos) AS pos_cos_x10000
                 FROM s WHERE label = anchor_label GROUP BY 1),
         neg AS (SELECT anchor_id, first(vec_id ORDER BY cos DESC, vec_id ASC) AS neg_id,
                        max(cos) AS neg_cos_x10000
                 FROM s WHERE label <> anchor_label GROUP BY 1)
         SELECT q.anchor_id, q.anchor_label,
                pos.pos_id, pos.pos_cos_x10000, neg.neg_id, neg.neg_cos_x10000,
                pos.pos_cos_x10000 - neg.neg_cos_x10000 AS margin_x10000
         FROM q LEFT JOIN pos USING (anchor_id) LEFT JOIN neg USING (anchor_id)""")),
    // curation funnel: per-stage doc/token counts + exact retention of
    // the q40 chain — the accounting table next to the keep-list
    // q176: the same chain rolled into per-stage counts + retention
    QuerySpec("q176_curation_funnel", (s, d) => CurationOps.curationFunnel(s, d),
      Oracle(curationFunnelOracleSql)),
    // topic cards per IVF cell: cell-level TF-IDF top-K terms — names
    // the embedding clusters (corpus cartography)
    // q177: DuckDB re-derives assignment from the materialized centroids
    // then the cell-level q86 TF-IDF chain (cells as documents)
    QuerySpec("q177_cell_topics", (s, d) => SimilarityOps.cellTopicCards(s, d), Oracle(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT cell, CAST(centroid AS DOUBLE[]) AS cv
               FROM read_parquet('__SYNTH__/centroids.parquet/*.parquet')),
         a AS MATERIALIZED (SELECT vec_id,
                  first(cell ORDER BY CAST(floor(list_distance(v, cv) * 10000) AS BIGINT) ASC, cell ASC) AS cell
               FROM e CROSS JOIN c GROUP BY vec_id),
         m AS (SELECT a.cell, d.doc_id, d.text FROM a JOIN documents d ON d.doc_id = a.vec_id),
         sz AS (SELECT cell, CAST(count(*) AS BIGINT) AS n_docs FROM m GROUP BY 1),
         w AS (SELECT cell,
                unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')) AS word
               FROM m),
         tf AS (SELECT cell, word, CAST(count(*) AS BIGINT) AS tf FROM w GROUP BY 1, 2),
         cdf AS (SELECT word, CAST(count(*) AS BIGINT) AS cdf FROM tf GROUP BY 1),
         nc AS (SELECT count(DISTINCT cell) AS n FROM a),
         s AS (SELECT tf.cell, tf.word, tf.tf,
                      CAST(tf.tf * (length(bin(((SELECT n FROM nc) * 10000) // cdf.cdf)) - 1) AS BIGINT) AS score
               FROM tf JOIN cdf USING (word)),
         r AS (SELECT *, row_number() OVER (PARTITION BY cell ORDER BY score DESC, word ASC) AS rn FROM s)
         SELECT r.cell, sz.n_docs, r.word, r.tf, r.score, CAST(r.rn AS INTEGER) AS rank
         FROM r JOIN sz USING (cell) WHERE r.rn <= ${ops.SimilarityOps.TopicCardK}""")),
    // per-host scorecard: citations x quality x PageRank in one frame —
    // the crawl operator's budget-allocation view
    // q178: composes the three component oracles — the q62 host counts,
    // the PREFIXED q157 quality chain (qg), and the q85 rank chain (r5)
    QuerySpec("q178_host_scorecard", (s, _) =>
      WebOps.hostScorecard(graft.synth.WebDocs.docs(s, VerifyWebDocs)), Oracle(hostScorecardOracleSql)),
    // vocabulary drift between snapshots: top token movers with exact
    // deltas and ratios over the planted q71 change-set
    // q179: DuckDB rebuilds BOTH snapshots' token histograms from the
    // golden table + the planted change-set rules, then the same
    // delta/ratio/top-K arithmetic
    QuerySpec("q179_vocab_drift", (s, _) =>
      TranscriptOps.vocabDrift(
        SynthDataset.turns(s, VerifyConvs).toDF(), verifyNextSnapshot(s).toDF()), Oracle(vocabDriftOracleSql)),
    // MEASURED watermark drop accounting: the straggler stream replayed
    // through a real watermarked append-mode aggregation, batch per
    // block — admitted/dropped counts match Spark's lagged late-event
    // watermark rule exactly (see watermarkDropAudit scaladoc)
    // q180: DuckDB regenerates the straggler stream and applies the
    // MEASURED lagged-watermark rule (late-event filter = batch-(k-2)
    // high-water mark, ms-floored, minus the delay; drop iff the
    // 1-second window END <= it)
    QuerySpec("q180_stream_drop_audit", (s, _) =>
      graft.streaming.StreamingExtract.watermarkDropAudit(s,
        RelationalOps.stragglerStream(s, RelationalOps.VerifyArrivalEvents),
        scratchDir("wm_q180", "synth")), Oracle(
      s"""WITH ev AS (SELECT t.range AS event_id,
                't' || (t.range % 4) AS event_type,
                ${ops.RelationalOps.ArrivalBaseUs} + t.range * ${ops.RelationalOps.ArrivalStepUs}
                  - (CAST('0x' || substr(sha256(CAST(t.range AS VARCHAR)), 1, 8) AS BIGINT)
                     % ${ops.RelationalOps.ArrivalJitterUs})
                  - CASE WHEN t.range % ${ops.RelationalOps.StragglerEvery} = 0 AND t.range > 0
                         THEN ${ops.RelationalOps.StragglerLagUs} ELSE 0 END AS us
              FROM range(${ops.RelationalOps.VerifyArrivalEvents}) t),
         b AS (SELECT *, event_id // ${graft.streaming.StreamingExtract.AuditBlockSize} AS blk FROM ev),
         bm AS (SELECT blk, max(us) AS bmax FROM b GROUP BY 1),
         bi AS (SELECT blk, bmax, row_number() OVER (ORDER BY blk) - 1 AS k FROM bm),
         wm AS (SELECT a.blk, max(CASE WHEN x.k <= a.k - 2 THEN x.bmax END) AS wmax
                FROM bi a CROSS JOIN bi x GROUP BY a.blk),
         adm AS (SELECT b.event_type,
                  CASE WHEN w.wmax IS NULL THEN 1
                       WHEN ((b.us // 1000000) + 1) * 1000000
                            > ((w.wmax // 1000) - ${graft.streaming.StreamingExtract.AuditDelayMs}) * 1000 THEN 1
                       ELSE 0 END AS ok
                 FROM b JOIN wm w USING (blk))
         SELECT event_type, CAST(count(*) AS BIGINT) AS n_input,
                CAST(sum(ok) AS BIGINT) AS n_admitted,
                CAST(count(*) - sum(ok) AS BIGINT) AS n_dropped
         FROM adm GROUP BY 1""")),
    // line-break dehyphenation over planted wraps — the PDF-extraction
    // repair, conservative lowercase-lowercase merge rule, sha-pinned
    // q181: DuckDB applies the same conservative merge with RE2
    // backref rewrite and shas the repaired text
    QuerySpec("q181_dehyphenate", (s, _) =>
      TextOps.dehyphenate(graft.synth.HyphenDocs.docs(s, VerifyNfcDocs)), Oracle(
      s"""WITH d AS (SELECT doc_id, text
                    FROM read_parquet('__SYNTH__/hyphen_docs.parquet/*.parquet')),
         c AS (SELECT doc_id, text,
                      regexp_replace(text, '([a-z])-\n([a-z])', '\\1\\2', 'g') AS clean
               FROM d)
         SELECT doc_id,
                CAST(len(regexp_extract_all(text, '-\n')) AS INTEGER) AS n_linebreak_hyphens,
                CAST((length(text) - length(clean)) // 2 AS INTEGER) AS n_merged,
                sha256(clean) AS clean_sha
         FROM c""")),
    // cell prototypicality outliers: bottom-decile centroid cosine per
    // IVF cell (value thresholds) — D4's other half next to q167
    // q182: DuckDB re-derives assignment + centroid cosine from the
    // materialized centroids, then the same histogram decile thresholds
    QuerySpec("q182_cell_outliers", (s, d) => SimilarityOps.cellOutliers(s, d), Oracle(
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT cell, CAST(centroid AS DOUBLE[]) AS cv
               FROM read_parquet('__SYNTH__/centroids.parquet/*.parquet')),
         a AS MATERIALIZED (SELECT vec_id,
                  first(cell ORDER BY CAST(floor(list_distance(v, cv) * 10000) AS BIGINT) ASC, cell ASC) AS cell
               FROM e CROSS JOIN c GROUP BY vec_id),
         s AS MATERIALIZED (SELECT a.vec_id, a.cell,
                  CAST(floor(list_cosine_similarity(e.v, c.cv) * 10000) AS BIGINT) AS cc
               FROM a JOIN e USING (vec_id) JOIN c ON a.cell = c.cell),
         h AS (SELECT cell, cc, count(*) AS cnt FROM s GROUP BY 1, 2),
         cum AS (SELECT cell, cc,
                        sum(cnt) OVER (PARTITION BY cell ORDER BY cc ASC
                                       ROWS UNBOUNDED PRECEDING) AS cum,
                        sum(cnt) OVER (PARTITION BY cell) AS n
                 FROM h),
         th AS (SELECT cell,
                       CAST(min(CASE WHEN cum * 10 >= n THEN cc END) AS BIGINT) AS p10
                FROM cum GROUP BY 1)
         SELECT s.vec_id, s.cell, s.cc AS cent_cos_x10000,
                th.p10 AS cell_p10_x10000, s.cc <= th.p10 AS is_outlier
         FROM s JOIN th USING (cell)""")),
    // skew-salted shuffle join: (conv_id, salt) join key spreads each
    // Zipf-hot conversation over S tasks; equals the plain join exactly
    // q183: the salt is engine-private — DuckDB computes the PLAIN join
    // and rollup, proving the salted plan changes nothing semantically
    QuerySpec("q183_salted_join", (s, _) =>
      Pipeline.saltedDimJoin(SynthDataset.turns(s, VerifyConvs)), Oracle(
      """WITH g AS (SELECT conv_id FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')),
         t AS (SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns FROM g GROUP BY 1),
         d AS (SELECT conv_id,
                      CAST('0x' || substr(sha256(conv_id), 1, 2) AS BIGINT) % 10 AS conv_bucket
               FROM (SELECT DISTINCT conv_id FROM g) u)
         SELECT t.conv_id, d.conv_bucket, t.n_turns FROM t JOIN d USING (conv_id)""")),
    // cross-source duplicate-leakage matrix over documents + a planted
    // mirror source (doc_id % 7) and re-crawl dups (doc_id % 13) — the
    // provenance audit, computed over 32-byte hashes only (the sf
    // documents corpus itself is exact-dup-free, so the overlay is what
    // gives every matrix cell class a genuine nonzero)
    // q184: DuckDB rebuilds the per-(hash, source) counts and both the
    // diagonal and cross cells of the leakage matrix
    QuerySpec("q184_source_dup_matrix", (s, d) => {
      val docs = RelationalOps.table(s, d, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val mirrored = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("source", lit("mirror"))
      val recrawl = docs.filter(col("doc_id") % 13 === 0)
      DedupOps.crossSourceDups(docs.unionByName(mirrored).unionByName(recrawl))
    }, Oracle(
      """WITH uni AS (SELECT text, source FROM documents
                     UNION ALL
                     SELECT text, 'mirror' AS source FROM documents WHERE doc_id % 7 = 0
                     UNION ALL
                     SELECT text, source FROM documents WHERE doc_id % 13 = 0),
         hs AS (SELECT sha256(text) AS h, source, count(*) AS k
                    FROM uni GROUP BY 1, 2),
         diag AS (SELECT source AS source_a, source AS source_b,
                         CAST(count(*) AS BIGINT) AS n_shared_texts
                  FROM hs WHERE k >= 2 GROUP BY 1, 2),
         cross_cells AS (SELECT a.source AS source_a, b.source AS source_b,
                                CAST(count(*) AS BIGINT) AS n_shared_texts
                         FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
                         GROUP BY 1, 2)
         SELECT * FROM diag UNION ALL SELECT * FROM cross_cells""")),
    // persisted-index IVF search: the q54 search over a cell-partitioned
    // parquet index where probing = partition pruning at the scan;
    // results identical to q54 (shared oracle)
    // q185: IDENTICAL oracle to q54 — the persisted index must change
    // the physical plan, never the answer
    QuerySpec("q185_ivf_index_scan", (s, d) =>
      SimilarityOps.ivfIndexedTopK(s, d, scratchDir("ivf_index", d)), Oracle(ivfTopkOracleSql)),
    // normalization-unlocked dedup: planted NFD/wrapped/control twins
    // collapse only under the q172+q181 normalize chain — the measured
    // value of normalizing before content-hashing
    // q186: DuckDB runs ITS OWN normalize chain (nfc_normalize + RE2
    // backref dehyphenation + control class) and regroups both keys
    QuerySpec("q186_norm_dedup", (s, _) =>
      TextOps.normalizedDedup(graft.synth.NormPairDocs.docs(s, VerifyNfcDocs)), Oracle(
      """WITH d AS (SELECT doc_id, text
                    FROM read_parquet('__SYNTH__/norm_pair_docs.parquet/*.parquet')),
         c AS (SELECT doc_id, sha256(text) AS raw_sha,
                      sha256(regexp_replace(
                        regexp_replace(nfc_normalize(text), '([a-z])-\n([a-z])', '\1\2', 'g'),
                        '[\x00-\x1f\x7f]', '', 'g')) AS clean_sha
               FROM d),
         r AS (SELECT raw_sha, CAST(count(*) AS BIGINT) AS raw_dup_count FROM c GROUP BY 1),
         k AS (SELECT clean_sha, CAST(count(*) AS BIGINT) AS clean_dup_count FROM c GROUP BY 1)
         SELECT c.doc_id, c.clean_sha, r.raw_dup_count, k.clean_dup_count
         FROM c JOIN r USING (raw_sha) JOIN k USING (clean_sha)""")),
    // incremental IVF append: frozen base-trained centroids assign the
    // appended vectors — the no-retrain index-maintenance path
    // q187: the q54 chain against the FROZEN base-trained centroids
    QuerySpec("q187_ivf_append", (s, d) => SimilarityOps.ivfAppendTopK(s, d), Oracle(
      ivfTopkOracleSql.replace("__SYNTH__/centroids.parquet", "__SYNTH__/centroids_base.parquet"))),
    // cell drift after append: per frozen cell base/appended counts and
    // ratio — the retrain trigger for the q187 path
    // q188: frozen assignment + conditional counts in DuckDB
    QuerySpec("q188_ivf_cell_drift", (s, d) => SimilarityOps.ivfCellDrift(s, d), Oracle(cellDriftOracleSql)),
    // frozen-vs-retrained recall: the staleness cost of serving from
    // the frozen index (q59 overlap recipe between q187 and q54)
    // q189: both index derivations (retrained + frozen) in one chain,
    // then the q59 overlap arithmetic
    QuerySpec("q189_ivf_append_recall", (s, d) => SimilarityOps.ivfAppendRecall(s, d), Oracle(
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < ${ops.SimilarityOps.NQueries}),
         cf AS (SELECT cell, CAST(centroid AS DOUBLE[]) AS cv
                FROM read_parquet('__SYNTH__/centroids.parquet/*.parquet')),
         cb AS (SELECT cell, CAST(centroid AS DOUBLE[]) AS cv
                FROM read_parquet('__SYNTH__/centroids_base.parquet/*.parquet')),
         af AS MATERIALIZED (SELECT vec_id,
                  first(cell ORDER BY CAST(floor(list_distance(v, cv) * 10000) AS BIGINT) ASC, cell ASC) AS cell
               FROM e CROSS JOIN cf GROUP BY vec_id),
         ab AS MATERIALIZED (SELECT vec_id,
                  first(cell ORDER BY CAST(floor(list_distance(v, cv) * 10000) AS BIGINT) ASC, cell ASC) AS cell
               FROM e CROSS JOIN cb GROUP BY vec_id),
         pf AS (SELECT query_id, qv, cell FROM (
                 SELECT q.query_id, q.qv, cf.cell,
                        row_number() OVER (PARTITION BY q.query_id
                          ORDER BY CAST(floor(list_distance(q.qv, cf.cv) * 10000) AS BIGINT) ASC, cf.cell ASC) AS pr
                 FROM q CROSS JOIN cf) z WHERE pr <= ${ops.SimilarityOps.IvfNProbe}),
         pb AS (SELECT query_id, qv, cell FROM (
                 SELECT q.query_id, q.qv, cb.cell,
                        row_number() OVER (PARTITION BY q.query_id
                          ORDER BY CAST(floor(list_distance(q.qv, cb.cv) * 10000) AS BIGINT) ASC, cb.cell ASC) AS pr
                 FROM q CROSS JOIN cb) z WHERE pr <= ${ops.SimilarityOps.IvfNProbe}),
         tf AS (SELECT query_id, neighbor_id FROM (
                 SELECT p.query_id, i.vec_id AS neighbor_id,
                        row_number() OVER (PARTITION BY p.query_id
                          ORDER BY CAST(floor(list_cosine_similarity(p.qv, e2.v) * 10000) AS BIGINT) DESC, i.vec_id ASC) AS rank
                 FROM pf p JOIN af i ON p.cell = i.cell AND i.vec_id <> p.query_id
                 JOIN e e2 ON e2.vec_id = i.vec_id) z WHERE rank <= ${ops.SimilarityOps.DefaultK}),
         tb AS (SELECT query_id, neighbor_id FROM (
                 SELECT p.query_id, i.vec_id AS neighbor_id,
                        row_number() OVER (PARTITION BY p.query_id
                          ORDER BY CAST(floor(list_cosine_similarity(p.qv, e2.v) * 10000) AS BIGINT) DESC, i.vec_id ASC) AS rank
                 FROM pb p JOIN ab i ON p.cell = i.cell AND i.vec_id <> p.query_id
                 JOIN e e2 ON e2.vec_id = i.vec_id) z WHERE rank <= ${ops.SimilarityOps.DefaultK}),
         h AS (SELECT tb.query_id, CAST(count(*) AS BIGINT) AS hits
               FROM tb JOIN tf ON tb.query_id = tf.query_id AND tb.neighbor_id = tf.neighbor_id
               GROUP BY 1)
         SELECT q.query_id, coalesce(h.hits, 0) AS hits,
                CAST(${ops.SimilarityOps.DefaultK} AS INTEGER) AS k,
                CAST((coalesce(h.hits, 0) * 10000) // ${ops.SimilarityOps.DefaultK} AS BIGINT) AS recall_x10000
         FROM q LEFT JOIN h USING (query_id)""")),
    // corpus-health catalog closure: the q166+ analytics frames (funnel,
    // scorecard, vocab drift, IVF cell drift) registered as SQL views and
    // summarized by ONE shared ad-hoc statement (SqlSurface.CorpusHealthSql,
    // run verbatim by the oracle over independent DuckDB chains)
    // q190: the four analytics chains derived INDEPENDENTLY in DuckDB
    // (the factored q176/q178/q179/q188 oracle bodies as named
    // subqueries), then the engine's shared summary statement
    // (SqlSurface.CorpusHealthSql) runs VERBATIM over them — the catalog
    // composition is proven without trusting any registered view
    QuerySpec("q190_corpus_health", (s, d) =>
      SqlSurface.corpusHealth(s, d,
        graft.synth.WebDocs.docs(s, VerifyWebDocs),
        SynthDataset.turns(s, VerifyConvs).toDF(),
        verifyNextSnapshot(s).toDF()), Oracle(
      s"""WITH curation_funnel AS ($curationFunnelOracleSql),
         host_scorecard AS ($hostScorecardOracleSql),
         vocab_drift AS ($vocabDriftOracleSql),
         ivf_cell_drift AS ($cellDriftOracleSql)
         ${SqlSurface.CorpusHealthSql}""")),
    // quantized persisted-index serving tier: q185's cell-partitioned
    // pruned index storing q154's int8 codes, scored with q156's exact
    // integer cos2; per-query recall vs the float brute baseline
    // q191: DuckDB re-derives EVERYTHING — float router (centroids ->
    // assignment -> probe cells, the q54 chain), int8 codes (the q154
    // chain), integer cos2 candidate ranking within probed cells (the
    // q156 arithmetic), the float brute top-k, and the overlap
    QuerySpec("q191_ivf_quantized_index", (s, d) =>
      SimilarityOps.ivfQuantizedIndexTopK(s, d, scratchDir("ivf_q_index", d)), Oracle {
      val n = ops.SimilarityOps.NQueries
      val k = ops.SimilarityOps.DefaultK
      s"""WITH c AS (SELECT cell, CAST(centroid AS DOUBLE[]) AS cv
                    FROM read_parquet('__SYNTH__/centroids.parquet/*.parquet')),
         e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         a AS MATERIALIZED (SELECT vec_id,
                      first(cell ORDER BY CAST(floor(list_distance(v, cv) * 10000) AS BIGINT) ASC, cell ASC) AS cell
               FROM e CROSS JOIN c GROUP BY vec_id),
         am AS (SELECT vec_id, v,
                 greatest(list_max(list_transform(v, x -> abs(x))), 1e-30) AS amax
               FROM e),
         qc AS MATERIALIZED (SELECT vec_id, codes,
                  CAST(list_inner_product(codes, codes) AS BIGINT) AS n2 FROM (
                  SELECT vec_id,
                    list_transform(v, x -> CAST(floor(x / amax * 127.0 + 0.5) AS INTEGER)) AS codes
                  FROM am) z),
         idxq AS MATERIALIZED (SELECT a.vec_id, a.cell, qc.codes, qc.n2
               FROM a JOIN qc USING (vec_id)),
         p AS MATERIALIZED (SELECT query_id, cell FROM (
                 SELECT e.vec_id AS query_id, c.cell,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY CAST(floor(list_distance(e.v, c.cv) * 10000) AS BIGINT) ASC, c.cell ASC) AS pr
                 FROM e CROSS JOIN c WHERE e.vec_id < $n) z
                 WHERE pr <= ${ops.SimilarityOps.IvfNProbe}),
         pq AS (SELECT p.query_id, p.cell, q2.codes AS qcodes, q2.n2 AS qn2
                FROM p JOIN qc q2 ON q2.vec_id = p.query_id),
         sd AS (SELECT pq.query_id, i.vec_id AS neighbor_id,
                  CAST(list_inner_product(pq.qcodes, i.codes) AS BIGINT) AS dot,
                  pq.qn2, i.n2
                FROM pq JOIN idxq i ON pq.cell = i.cell AND i.vec_id <> pq.query_id),
         sc AS (SELECT query_id, neighbor_id,
                  CASE WHEN dot < 0 THEN -((dot * dot * 10000) // (qn2 * n2))
                       ELSE (dot * dot * 10000) // (qn2 * n2) END AS s2
                FROM sd),
         qt AS (SELECT query_id, neighbor_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY s2 DESC, neighbor_id ASC) AS rn FROM sc) t
                WHERE rn <= $k),
         fs AS (SELECT q.vec_id AS query_id, e2.vec_id AS neighbor_id,
                  CAST(floor(list_cosine_similarity(q.v, e2.v) * 10000) AS BIGINT) AS cos
                FROM e q, e e2 WHERE q.vec_id < $n AND e2.vec_id <> q.vec_id),
         ft AS (SELECT query_id, neighbor_id FROM (
                  SELECT *, row_number() OVER (PARTITION BY query_id
                    ORDER BY cos DESC, neighbor_id ASC) AS rn FROM fs) t
                WHERE rn <= $k),
         ov AS (SELECT query_id, count(*) AS n FROM (
                  SELECT * FROM ft INTERSECT SELECT * FROM qt) t GROUP BY 1)
         SELECT q.vec_id AS query_id,
                CAST(coalesce(ov.n, 0) AS BIGINT) AS n_overlap,
                CAST(coalesce(ov.n, 0) * 10000 // $k AS BIGINT) AS recall_x10000
         FROM e q LEFT JOIN ov ON ov.query_id = q.vec_id
         WHERE q.vec_id < $n"""
    }),
    // real-PDF container extraction: complete uncompressed PDF BYTES
    // (objects, page tree, content-stream text operators, xref) parsed
    // from scratch and read back in reading order — S2-S4 upgraded from
    // the positioned-run IR stand-in to real container bytes; oracled
    // against the generator's by-construction goldens (the q28/q121
    // trust model). Narrow per-doc map, zero exchanges.
    // q192: DuckDB reads the generator's by-construction golden table —
    // expected reading-ordered text per doc, derived from the layout
    // plan, never from any parser — and re-derives the compared columns
    QuerySpec("q192_pdf_container", (s, _) => {
      import s.implicits._
      graft.synth.PdfDocs.docs(s, VerifyPdfDocs)
        .as[(Long, Array[Byte])]
        .map { case (id, bytes) =>
          graft.extract.PdfContentParser.parse(
            new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)) match {
            case Left(f) => (id, -1, -1, "FAILED:" + f)
            case Right(doc) =>
              val ex = graft.extract.PdfContainerExtractor.order(doc)
              (id, doc.pageHeights.length, doc.runs.length, ex.text)
          }
        }
        .toDF("doc_id", "n_pages", "n_runs", "text")
        .select(col("doc_id"), col("n_pages"), col("n_runs"),
          length(col("text")).as("n_chars"),
          sha2(col("text"), 256).as("text_sha"))
    }, Oracle(
      """SELECT doc_id,
                CAST(n_pages AS INTEGER) AS n_pages,
                CAST(n_runs AS INTEGER) AS n_runs,
                CAST(length(expected_text) AS INTEGER) AS n_chars,
                sha256(expected_text) AS text_sha
         FROM read_parquet('__SYNTH__/pdf_golden.parquet/*.parquet')""")),
    // cross-producer PDF dedup: every fifth container also appears as a
    // byte-DIFFERENT twin (re-rolled presentation: operator modes,
    // scramble, encodings, stream splits) with byte-IDENTICAL content —
    // dedup on the EXTRACTED text collapses what no byte-level dedup
    // could ("same document, different PDF producer"). Narrow map +
    // one sha-keyed aggregation.
    // q193: DuckDB rebuilds the twin overlay from the golden table (the
    // twin's CONTENT is its base doc's by construction) and groups on
    // the same content hash
    QuerySpec("q193_pdf_producer_dedup", (s, _) =>
      pdfProducerDedup(graft.synth.PdfDocs.docsWithTwins(s, VerifyPdfDocs)), Oracle(
      s"""WITH g AS (SELECT doc_id, expected_text
                    FROM read_parquet('__SYNTH__/pdf_golden.parquet/*.parquet')),
         u AS (SELECT doc_id, expected_text FROM g
               UNION ALL
               SELECT doc_id + ${graft.synth.PdfDocs.TwinOffset}, expected_text
               FROM g WHERE doc_id % 5 = 0)
         SELECT sha256(expected_text) AS text_sha,
                CAST(min(doc_id) AS BIGINT) AS keep_id,
                CAST(count(*) AS BIGINT) AS n_copies,
                CAST(max(doc_id) AS BIGINT) AS max_id
         FROM u GROUP BY 1""")),
    // Iceberg-style snapshot TIME TRAVEL over the extraction store: the
    // corpus commits in three manifest versions (two commits, a
    // simulated kill, one resume commit), and each frozen version is
    // re-read AS OF its snapshot — a partition-pruned scan of that
    // version's bucket set. Per version: bucket/conv/turn counts plus an
    // order-insensitive exact content aggregate (sum of each turn's
    // leading sha256 word), all re-derived by the oracle from the golden
    // expectations + the materialized conv->bucket map + the documented
    // deterministic commit schedule.
    // S2/S3 realized: REAL rasterization of really-parsed PDF containers
    // — parsed runs -> synthetic-glyph page bitmaps (exact floor-div dpi
    // scaling, point-space clipping) -> REAL PNG encode -> REAL PNG
    // decode -> ink statistics from the DECODED raster. dpi 72 here so
    // point == pixel and DuckDB re-derives every ink pixel from the
    // golden runs + the shared glyph constants; the 600/300 dpi scale
    // factors are pinned by PdfRasterizerSpec's analytic recompute.
    // q195: DuckDB re-derives every ink pixel from the golden RUN table
    // + the shared 35-bit glyph constants (dpi 72: point == pixel;
    // same cell layout, same point-space clipping), deduplicates
    // overlapping pixels exactly like the raster compositing does, and
    // aggregates count + placement checksum — the engine's numbers come
    // from a DECODED real-PNG raster, so a green row proves layout,
    // compositing AND the codec round trip at once
    QuerySpec("q195_pdf_rasterize", (s, _) => {
      import s.implicits._
      graft.synth.PdfDocs.docs(s, VerifyPdfDocs)
        .as[(Long, Array[Byte])]
        .flatMap { case (id, bytes) =>
          graft.extract.PdfContentParser.parse(
            new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)) match {
            case Left(_) => Iterator.empty
            case Right(doc) =>
              graft.extract.PdfRasterizer.rasterize(doc, dpi = 72).iterator.map { pb =>
                val img = new java.awt.image.BufferedImage(
                  pb.width, pb.height, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
                img.getRaster.setDataElements(0, 0, pb.width, pb.height, pb.pixels)
                val bos = new java.io.ByteArrayOutputStream()
                require(javax.imageio.ImageIO.write(img, "png", bos), s"png write $id")
                val dec = javax.imageio.ImageIO.read(
                  new java.io.ByteArrayInputStream(bos.toByteArray))
                require(dec != null, s"png read $id")
                val out = new Array[Byte](pb.width * pb.height)
                dec.getRaster.getDataElements(0, 0, pb.width, pb.height, out)
                val (ink, pos) = graft.extract.PdfRasterizer.inkStats(
                  graft.extract.PdfRasterizer.PageBitmap(pb.page, pb.width, pb.height, out))
                (id, pb.page, pb.width, pb.height, ink, pos)
              }
          }
        }
        .toDF("doc_id", "page", "width", "height", "n_ink", "pos_sum")
    }, Oracle {
      val font = (33 to 126)
        .map(c => s"($c, ${graft.extract.PdfRasterizer.glyphBits(c - 33)})")
        .mkString(", ")
      s"""WITH r AS (SELECT doc_id, page, x, y_pdf, text
                    FROM read_parquet('__SYNTH__/pdf_golden_runs.parquet/*.parquet')),
         f AS (SELECT * FROM (VALUES $font) AS f(code, bits)),
         ch AS (SELECT doc_id, page, x, 792 - y_pdf AS y_top,
                       unnest(range(0, len(text))) AS ci, text
                FROM r),
         cg AS (SELECT doc_id, page, x, y_top, ci,
                       ord(substr(text, CAST(ci + 1 AS INTEGER), 1)) AS code
                FROM ch),
         g AS (SELECT cg.doc_id, cg.page, cg.x, cg.y_top, cg.ci, f.bits
               FROM cg JOIN f ON f.code = cg.code),
         bt AS (SELECT doc_id, page, x, y_top, ci, bits,
                       unnest(range(0, 35)) AS b
                FROM g),
         px AS (SELECT doc_id, page,
                       x + 6 * ci + (b % 5) AS px,
                       y_top + (b // 5) AS py
                FROM bt WHERE (bits >> CAST(b AS INTEGER)) & 1 = 1),
         pix AS (SELECT DISTINCT doc_id, page, px, py FROM px
                 WHERE px >= 0 AND px < 612 AND py >= 0 AND py < 792)
         SELECT doc_id, CAST(page AS INTEGER) AS page,
                CAST(612 AS INTEGER) AS width, CAST(792 AS INTEGER) AS height,
                CAST(count(*) AS BIGINT) AS n_ink,
                CAST(sum(px + py * 612) AS BIGINT) AS pos_sum
         FROM pix GROUP BY 1, 2"""
    }),
    // Iceberg-style incremental CHANGELOG read — q194's companion: for
    // each snapshot version, ONLY the buckets that arrived since the
    // previous version are scanned (partition-pruned, the CDC shape a
    // downstream incremental consumer reads); same commit schedule, same
    // oracle independence.
    // q196: the q194 chain restricted to each version's NEW bucket range
    // [TtPerBatch*(v-1), min(TtPerBatch*v, TtBuckets)) — the oracle's
    // independent derivation of the changelog windows
    QuerySpec("q196_snapshot_changelog", (s, _) => {
      val root = scratchDir("snapshots_q196", "synth")
      val store = new graft.pipeline.SnapshotStore(root, TtBuckets)
      val turns = SynthDataset.turns(s, VerifyConvs)
      try store.process(s, turns, "snap-1", TtPerBatch, Some(TtKillAfter))
      catch { case _: RuntimeException => () } // the simulated kill
      store.process(s, turns, "snap-2", TtPerBatch)
      store.snapshotVersions().map { v =>
        val prev = store.completedBucketsAsOf(v - 1) // v=1 -> empty
        val fresh = (store.completedBucketsAsOf(v) -- prev).toSeq.sorted
        store.readExtracted(s)
          .filter(col("bucket").isin(fresh.map(Integer.valueOf): _*))
          .agg(
            lit(v).as("version"),
            lit(fresh.size).as("n_new_buckets"),
            countDistinct(col("conv_id")).as("n_new_convs"),
            count(lit(1)).as("n_new_turns"),
            sum(expr("cast(conv(substr(sha2(extracted_text, 256), 1, 8), 16, 10) as bigint)"))
              .as("new_sha8sum"))
          .select(col("version"), col("n_new_buckets"), col("n_new_convs"),
            col("n_new_turns"), col("new_sha8sum"))
      }.reduce(_ unionByName _)
    }, Oracle {
      val nv = (TtBuckets + TtPerBatch - 1) / TtPerBatch
      s"""WITH b AS (SELECT conv_id, bucket
                    FROM read_parquet('__SYNTH__/conv_buckets.parquet/*.parquet')),
         g AS (SELECT conv_id, expected_text
               FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')),
         j AS (SELECT g.conv_id, g.expected_text, b.bucket FROM g JOIN b USING (conv_id)),
         v AS (SELECT unnest(range(1, $nv + 1)) AS version),
         p AS (SELECT version,
                      (version - 1) * $TtPerBatch AS lo,
                      least(version * $TtPerBatch, $TtBuckets) AS hi
               FROM v),
         sel AS (SELECT p.version, p.hi - p.lo AS n_new_buckets, j.conv_id, j.expected_text
                 FROM p JOIN j ON j.bucket >= p.lo AND j.bucket < p.hi)
         SELECT CAST(version AS INTEGER) AS version,
                CAST(n_new_buckets AS INTEGER) AS n_new_buckets,
                CAST(count(DISTINCT conv_id) AS BIGINT) AS n_new_convs,
                CAST(count(*) AS BIGINT) AS n_new_turns,
                CAST(sum(CAST('0x' || substr(sha256(expected_text), 1, 8) AS BIGINT)) AS BIGINT) AS new_sha8sum
         FROM sel GROUP BY 1, 2"""
    }),
    // q194: DuckDB re-derives every snapshot's content from the golden
    // expectations + the engine-materialized conv->bucket map + the
    // DETERMINISTIC commit schedule (completed after k commits = first
    // min(TtPerBatch*k, TtBuckets) buckets; kill-after-2 + resume =>
    // versions 1..3) — the store's manifest files are never trusted
    QuerySpec("q194_time_travel", (s, _) => {
      val root = scratchDir("snapshots_q194", "synth")
      val store = new graft.pipeline.SnapshotStore(root, TtBuckets)
      val turns = SynthDataset.turns(s, VerifyConvs)
      try store.process(s, turns, "snap-1", TtPerBatch, Some(TtKillAfter))
      catch { case _: RuntimeException => () } // the simulated kill
      store.process(s, turns, "snap-2", TtPerBatch)
      store.snapshotVersions().map { v =>
        store.readExtractedAsOf(s, v)
          .select(col("conv_id"), col("extracted_text"))
          .agg(
            lit(v).as("version"),
            lit(store.completedBucketsAsOf(v).size).as("n_buckets"),
            countDistinct(col("conv_id")).as("n_convs"),
            count(lit(1)).as("n_turns"),
            sum(expr("cast(conv(substr(sha2(extracted_text, 256), 1, 8), 16, 10) as bigint)"))
              .as("sum_sha8"))
          .select(col("version"), col("n_buckets"), col("n_convs"),
            col("n_turns"), col("sum_sha8"))
      }.reduce(_ unionByName _)
    }, Oracle {
      val nv = (TtBuckets + TtPerBatch - 1) / TtPerBatch
      s"""WITH b AS (SELECT conv_id, bucket
                    FROM read_parquet('__SYNTH__/conv_buckets.parquet/*.parquet')),
         g AS (SELECT conv_id, expected_text
               FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')),
         j AS (SELECT g.conv_id, g.expected_text, b.bucket FROM g JOIN b USING (conv_id)),
         v AS (SELECT unnest(range(1, $nv + 1)) AS version),
         p AS (SELECT version, least(version * $TtPerBatch, $TtBuckets) AS nb FROM v),
         sel AS (SELECT p.version, p.nb, j.conv_id, j.expected_text
                 FROM p JOIN j ON j.bucket < p.nb)
         SELECT CAST(version AS INTEGER) AS version,
                CAST(nb AS INTEGER) AS n_buckets,
                CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
                CAST(count(*) AS BIGINT) AS n_turns,
                CAST(sum(CAST('0x' || substr(sha256(expected_text), 1, 8) AS BIGINT)) AS BIGINT) AS sum_sha8
         FROM sel GROUP BY 1, 2"""
    })
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    specs.map(q => q.name -> q.run).toMap

  /** DuckDB-runnable oracle SQL (same parquet tables registered by name;
    * `__SYNTH__` is rewritten by Verify). Every spec with an `Oracle`
    * check; the `RowsOnly` specs (q19, q21, q98) are absent, each stating
    * its reason at the query.
    */
  def oracleSql: Map[String, String] =
    specs.collect { case QuerySpec(name, _, Oracle(sql)) => name -> sql }.toMap

  /** Planted NFC/NFD/control corpus size for q172. */
  val VerifyNfcDocs = 200L

  /** The planted "next snapshot" shared by q71 (diff) and q179 (vocab
    * drift): convs 0-4 deleted, every turn 0 drifted (" drift"
    * appended), one late turn appended per conv ≡ 0 mod 10. ONE
    * definition so the drift queries and their oracles (which re-derive
    * the same rules in SQL) can never disagree on the change-set.
    */
  private def verifyNextSnapshot(s: SparkSession): org.apache.spark.sql.Dataset[graft.model.Turn] = {
    import s.implicits._
    val prev = SynthDataset.turns(s, VerifyConvs)
    val added = s.range(VerifyConvs)
      .filter(c => c >= 5L && c % 10 == 0)
      .map(c => graft.model.Turn(f"conv-$c%06d", 999, "user",
        "<p>late-arriving appended turn body text</p>", null,
        new java.sql.Timestamp(1735689600000L)))
    prev
      .filter((t: graft.model.Turn) => t.conv_id >= "conv-000005")
      .map((t: graft.model.Turn) =>
        if (t.turn_idx == 0) t.copy(text = t.text + " drift") else t)
      .union(added)
  }

  /** Mixed-shape JSON payloads for the q69 dispatch (synth.JsonRecords). */
  val VerifyJsonRecords = 200L

  /** Notification recipients per workflow rule — ONE definition feeding
    * both the q47 engine registration and its oracle (the reference
    * persists an email list per rule, workflow_main.py:84-142).
    */
  val RuleRecipients: Map[String, String] = Map(
    "quantities_within_range" -> "qa@plant.example,supervisor@plant.example",
    "independent_check" -> "qa@plant.example")

  private val reviewerList =
    RelationalOps.reviewerNames.map(n => s"'$n'").mkString("[", ", ", "]")

  /** Embedding dim of the driver's `embeddings` table. */
  private val EmbeddingDims = 64

  /** Winnow window width shared with the engine (see TextOps.WinnowW). */
  private val WinW = ops.TextOps.WinnowW

  /** DuckDB expression computing the sign-bit hyperplane bucket of a
    * DOUBLE[] column — the plane coefficients are inlined as literals
    * generated from the SAME `TextAlgos.hyperplaneCoef` the engine uses
    * (Double.toString round-trips exactly), so the oracle replicates the
    * engine's bucketing bit-for-bit.
    */
  private def bucketSqlExpr(vCol: String, nPlanes: Int, planeOffset: Int = 0): String =
    (0 until nPlanes).map { p =>
      val lits = (0 until EmbeddingDims)
        .map(d => graft.text.TextAlgos.hyperplaneCoef(planeOffset + p, d).toString)
        .mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product($vCol, $lits) >= 0 THEN ${1 << p} ELSE 0 END)"
    }.mkString(" + ")

  /** Per-table bucket columns `b0..b{L-1}` of a vector column — the
    * oracle-side twin of `GraftFunctions.tableBuckets` (same plane-family
    * layout: table t = planes [t*nPlanes, (t+1)*nPlanes)). ONE definition
    * feeds every multi-table oracle (q24, q26, q59) so a layout change
    * cannot silently break a subset of them.
    */
  private def bucketColsSql(vCol: String, nPlanes: Int, nTables: Int): String =
    (0 until nTables)
      .map(t => s"${bucketSqlExpr(vCol, nPlanes, t * nPlanes)} AS b$t")
      .mkString(", ")

  /** `a.b0 = b.b0 OR ...` — OR-amplified any-table bucket match. */
  private def anyTableMatchSql(a: String, b: String, nTables: Int): String =
    (0 until nTables).map(t => s"$a.b$t = $b.b$t").mkString(" OR ")

  /** q24's bucket columns from the SAME constants as the engine call. */
  private def bucketSqlColsEmbDup: String =
    bucketColsSql("v", ops.DedupOps.VerifyEmbDupPlanes, ops.DedupOps.EmbDupNTables)

  /** DuckDB derivation of the quality features (`TextOps
    * .withQualityColumns` twin) — ONE definition feeding both q15 and
    * q66 so the feature math cannot drift between their oracles. Plain
    * (non-interpolated) literal: escape sequences are NOT processed, the
    * single backslashes stand as written; interpolating this VALUE into
    * an s-string inserts it verbatim.
    */
  private val qualityFeatureSql =
    """SELECT doc_id, source,
         length(text) AS n_chars_m,
         len(string_split_regex(trim(text), '\s+')) AS n_tokens,
         length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
         CAST(floor(length(regexp_replace(text, '\s', '', 'g')) * 100.0
                    / len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS mean_wordlen_x100,
         CAST(floor(len(regexp_extract_all(text, '\b(the|and|of|to|in|is|that|for)\b')) * 1000.0
                    / len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS stopword_x1000
       FROM documents"""

  /** Shared CTE chain for the q75/q166 oracles — trains the clean-subset
    * unigram LM and aggregates per-doc whole-bit surprise, exactly the
    * `TextOps.lmSurprise` recipe. ONE definition so the CCNet bucket
    * oracle can never drift from the surprise oracle it terciles.
    */
  private val lmSurpriseAggSql =
    s"""feat AS ($qualityFeatureSql),
         train AS (SELECT d.doc_id, d.text FROM documents d JOIN feat f USING (doc_id)
                   WHERE (f.n_tokens BETWEEN 10 AND 100000)
                     AND (f.mean_wordlen_x100 BETWEEN 150 AND 1200)),
         tok AS (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS token
                 FROM train),
         c AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
         tot AS (SELECT CAST(coalesce(sum(cnt), 0) AS BIGINT) AS n_total FROM c),
         v AS (SELECT token, cnt FROM c ORDER BY cnt DESC, token ASC LIMIT ${ops.TextOps.LmVocabSize}),
         sm AS (SELECT v.token,
                       CAST(length(bin(t.n_total)) - length(bin(CAST(v.cnt AS BIGINT))) AS BIGINT) AS surprise
                FROM v, tot t),
         alltok AS (SELECT doc_id,
                           unnest(list_filter(string_split_regex(trim(text), '\\s+'), t -> t <> '')) AS token
                    FROM documents),
         scored AS (SELECT a.doc_id,
                           coalesce(sm.surprise, (SELECT length(bin(n_total)) - 1 FROM tot)) AS s
                    FROM alltok a LEFT JOIN sm USING (token)),
         agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
                        CAST(sum(s) AS BIGINT) AS surprise_bits
                 FROM scored GROUP BY 1)"""

  /** The q40 curation chain (quality features -> lang argmax -> quality+
    * lang gate -> exact-dedup canon -> balance bound) — ONE definition
    * feeding the q40 keep-list oracle and the q176 funnel rollup. Plain
    * literal: regex backslashes verbatim.
    */
  private val curationCtes =
    """base AS (
           SELECT doc_id, text,
                  len(string_split_regex(trim(text), '\s+')) AS n_tokens,
                  CAST(floor(length(regexp_replace(text, '\s', '', 'g')) * 100.0
                             / len(string_split_regex(trim(text), '\s+'))) AS BIGINT) AS mwl,
                  len(regexp_extract_all(text, '\b(the|and|of|to|in|is|that|for)\b')) AS s_en,
                  len(regexp_extract_all(text, '\b(le|la|les|et|de|un|une|est)\b')) AS s_fr,
                  len(regexp_extract_all(text, '\b(el|la|los|las|y|de|que|es)\b')) AS s_es,
                  len(regexp_extract_all(text, '\b(der|die|das|und|ist|von|zu|mit)\b')) AS s_de
           FROM documents),
         langed AS (
           SELECT doc_id, text, n_tokens, mwl,
                  CASE WHEN s_en = best AND best > 0 THEN 'en'
                       WHEN s_fr = best AND best > 0 THEN 'fr'
                       WHEN s_es = best AND best > 0 THEN 'es'
                       WHEN s_de = best AND best > 0 THEN 'de'
                       ELSE 'unknown' END AS predicted_lang
           FROM (SELECT *, greatest(0, s_en, s_fr, s_es, s_de) AS best FROM base)),
         good AS (
           SELECT * FROM langed
           WHERE n_tokens BETWEEN 10 AND 100000 AND mwl BETWEEN 150 AND 1200
             AND predicted_lang <> 'unknown'),
         canon AS (
           SELECT doc_id, predicted_lang
           FROM (SELECT *, min(doc_id) OVER (PARTITION BY sha256(text)) AS c FROM good)
           WHERE doc_id = c),
         b AS (
           SELECT min(cnt) AS min_cnt
           FROM (SELECT predicted_lang, count(*) AS cnt FROM canon GROUP BY 1)),
         r AS (
           SELECT doc_id, predicted_lang,
                  row_number() OVER (PARTITION BY predicted_lang ORDER BY doc_id) AS rn
           FROM canon)"""

  /** The q16 language-ID derivation (scores + argmax with the engine's
    * tie order) — ONE definition feeding both the q16 oracle and the
    * q174 confusion rollup. Plain literal: regex backslashes verbatim.
    */
  private val langIdSql =
    """SELECT doc_id, lang, score_en, score_fr, score_es, score_de,
                CASE WHEN score_en = best AND best > 0 THEN 'en'
                     WHEN score_fr = best AND best > 0 THEN 'fr'
                     WHEN score_es = best AND best > 0 THEN 'es'
                     WHEN score_de = best AND best > 0 THEN 'de'
                     ELSE 'unknown' END AS predicted_lang
         FROM (
           SELECT doc_id, lang, score_en, score_fr, score_es, score_de,
                  greatest(0, score_en, score_fr, score_es, score_de) AS best
           FROM (
             SELECT doc_id, lang,
                    len(regexp_extract_all(text, '\b(the|and|of|to|in|is|that|for)\b')) AS score_en,
                    len(regexp_extract_all(text, '\b(le|la|les|et|de|un|une|est)\b')) AS score_fr,
                    len(regexp_extract_all(text, '\b(el|la|los|las|y|de|que|es)\b')) AS score_es,
                    len(regexp_extract_all(text, '\b(der|die|das|und|ist|von|zu|mit)\b')) AS score_de
             FROM documents) s) t"""

  /** x^n at x10000 scale as unrolled SQL — the oracle twin of
    * `SimilarityOps.fxPow`'s left-fold (p*x // 10000, n times; n=0 is the
    * fold's empty case, 10000).
    */
  private def fxPowSql(x: String, n: Int): String =
    if (n == 0) "10000"
    else (2 to n).foldLeft(x)((acc, _) => s"(($acc * $x) // 10000)")

  /** Multi-probe per-table hit probability at x10000 — the oracle twin of
    * `SimilarityOps.fxHit`: q^b + b*q^(b-1)*(1-q), truncating div.
    */
  private def fxHitSql(q: String, b: Int): String =
    s"(${fxPowSql(q, b)} + $b * ((${fxPowSql(q, b - 1)} * (10000 - $q)) // 10000))"

  /** Per-pair plane-sign agreement count over the full-width bucket
    * columns b0..b{L-1} (8 planes each): Σ_t (8 - hamming(b_t, b_t)).
    */
  private def lshAgreeSql(a: String, b: String): String =
    (0 until ops.SimilarityOps.TuneMaxTables)
      .map(t => s"(8 - bit_count(xor($a.b$t, $b.b$t)))")
      .mkString("CAST((", " + ", ") AS BIGINT)")

  /** Shared signature-graph CTE fragment for the q55/q87/q91 oracles: the
    * per-label node signatures (the q44/q55 recipe) and the HAS edge
    * table, re-derived from raw records. Written ONCE and interpolated
    * (the lshCandidateCtes pattern) so a shred-schema change cannot
    * leave one graph oracle silently stale.
    */
  private val graphSigCtes: String =
    """r AS (SELECT * FROM read_parquet('__SYNTH__/records.parquet/*.parquet')),
         root AS (SELECT conv_id, sha256(concat_ws('|', 'main_table',
                    'equipment_no=' || coalesce(array_to_string(equipment_no, ','), 'null'))) AS sig FROM r),
         bd AS (SELECT conv_id, sha256(concat_ws('|', 'main_table_batch_details',
                  'batch_completed_on=' || coalesce(CAST(batch_details.batch_completed_on AS VARCHAR), 'null'),
                  'batch_no=' || coalesce(batch_details.batch_no, 'null'),
                  'batch_started_on=' || coalesce(CAST(batch_details.batch_started_on AS VARCHAR), 'null'),
                  'product_name=' || coalesce(batch_details.product_name, 'null'))) AS sig FROM r),
         mat AS (SELECT conv_id,
                   sha256(concat_ws('|', 'main_table_material_usage_rows',
                     'actual_quantity=' || coalesce(CAST(m.actual_quantity AS VARCHAR), 'null'),
                     'allowed_range_max=' || coalesce(CAST(m.allowed_range_max AS VARCHAR), 'null'),
                     'allowed_range_min=' || coalesce(CAST(m.allowed_range_min AS VARCHAR), 'null'),
                     'checked_by=' || coalesce(m.checked_by, 'null'),
                     'material_name=' || coalesce(m.material_name, 'null'),
                     'performed_by=' || coalesce(m.performed_by, 'null'),
                     'standard_quantity=' || coalesce(CAST(m.standard_quantity AS VARCHAR), 'null'))) AS sig,
                   coalesce(m.material_name, 'null') AS material_name,
                   coalesce(CAST(m.actual_quantity AS VARCHAR), 'null') AS actual_quantity,
                   coalesce(CAST(m.allowed_range_min AS VARCHAR), 'null') AS allowed_range_min,
                   coalesce(CAST(m.allowed_range_max AS VARCHAR), 'null') AS allowed_range_max
                 FROM (SELECT conv_id, unnest(material_usage_rows) AS m FROM r)),
         st AS (SELECT conv_id, step_pos, sha256(concat_ws('|', 'main_table_steps',
                  'description=' || coalesce(s.description, 'null'),
                  'step_no=' || coalesce(CAST(s.step_no AS VARCHAR), 'null'))) AS sig
                FROM (SELECT conv_id, generate_subscripts(steps, 1) - 1 AS step_pos, unnest(steps) AS s FROM r)),
         tr AS (SELECT conv_id, step_pos, sha256(concat_ws('|', 'main_table_steps_temperature_records',
                  'temperature_c=' || coalesce(CAST(t.temperature_c AS VARCHAR), 'null'),
                  'time_point=' || coalesce(t.time_point, 'null'))) AS sig
                FROM (SELECT conv_id, step_pos, unnest(s.temperature_records) AS t
                      FROM (SELECT conv_id, generate_subscripts(steps, 1) - 1 AS step_pos, unnest(steps) AS s FROM r))),
         edges AS (SELECT DISTINCT parent_sig, child_sig FROM (
           SELECT root.sig AS parent_sig, bd.sig AS child_sig FROM root JOIN bd USING (conv_id)
           UNION ALL SELECT root.sig, mat.sig FROM root JOIN mat USING (conv_id)
           UNION ALL SELECT root.sig, st.sig FROM root JOIN st USING (conv_id)
           UNION ALL SELECT st.sig, tr.sig FROM st JOIN tr ON st.conv_id = tr.conv_id AND st.step_pos = tr.step_pos
         ) u)"""

  /** CTE fragment recomputing `SimilarityOps.lshTopKTuned`'s AUTO-TUNED
    * candidate pairs in DuckDB, end to end: full-width per-table buckets
    * (8 planes, 16 tables — the engine's fixed-stride plane family),
    * the sample's top-k neighbor pairs and their empirical plane-sign
    * agreement (qnear/qrand), the fixed-point (b, l) grid search over the
    * MULTI-PROBE hit model (fxHitSql), and the candidate join at
    * masked-bucket Hamming <= 1 (the Hamming-1 probe set) over the CHOSEN
    * l tables. Expects a CTE `e(vec_id, v)`. Yields `tune`, `grid`,
    * `chosen` and `lcand(query_id, neighbor_id)`. Every CTE is
    * MATERIALIZED: fb/samp/lbl are referenced repeatedly, and DuckDB's
    * default inlining re-evaluates a CTE per reference — the 128
    * dot-products-per-vector bucket projection must run once, not once
    * per downstream mention (unmaterialized, this fragment was the whole
    * cost of the q26/q59/q74 oracles: 100-250 s each; materialized they
    * run in under a second).
    */
  /** The q84/q89 pixel-feature oracle body: every lossless codec
    * round-trip (PNG for q84, BMP for q89) must produce the SAME
    * text-derived expected features. */
  private lazy val codecFeatureOracleSql: String =
    s"""WITH d AS (SELECT doc_id, substr(coalesce(text, ''), 1, ${MultimodalOps.ImgMaxChars}) AS t
                    FROM documents),
         p AS (SELECT doc_id,
                      [ord(substr(t, i, 1)) % 256 for i in range(1, len(t) + 1)] AS px,
                      greatest((len(t) + ${MultimodalOps.ImgWidth} - 1) // ${MultimodalOps.ImgWidth}, 1) AS h
               FROM d)
         SELECT doc_id,
                CAST(${MultimodalOps.ImgWidth} AS INTEGER) AS width,
                CAST(h AS INTEGER) AS height,
                CAST(coalesce(list_sum(px), 0) AS BIGINT) AS sum_luma,
                CAST(coalesce(list_max(px), 0) AS INTEGER) AS max_luma,
                CAST(coalesce(list_sum([coalesce(px[((i // 8) * h // 8) * ${MultimodalOps.ImgWidth} + (i % 8) * ${MultimodalOps.ImgWidth / MultimodalOps.ThumbSide} + 1], 0) for i in range(0, 64)]), 0) AS BIGINT) AS thumb_sum
         FROM p"""

  /** Factored oracle body for curationFunnel — shared with the
    * q190 corpus-health composition, which runs
    * `SqlSurface.CorpusHealthSql` verbatim over these independently
    * derived chains. */
  private lazy val curationFunnelOracleSql: String =
    s"""WITH $curationCtes,
         balanced AS (SELECT doc_id FROM r CROSS JOIN b WHERE rn <= b.min_cnt),
         stages AS (
           SELECT '1_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
                  CAST(coalesce(sum(n_tokens), 0) AS BIGINT) AS n_tokens FROM langed
           UNION ALL
           SELECT '2_quality', count(*), CAST(coalesce(sum(n_tokens), 0) AS BIGINT)
           FROM langed WHERE n_tokens BETWEEN 10 AND 100000 AND mwl BETWEEN 150 AND 1200
           UNION ALL
           SELECT '3_lang', count(*), CAST(coalesce(sum(n_tokens), 0) AS BIGINT) FROM good
           UNION ALL
           SELECT '4_dedup', count(*), CAST(coalesce(sum(l.n_tokens), 0) AS BIGINT)
           FROM canon c JOIN langed l USING (doc_id)
           UNION ALL
           SELECT '5_balanced', count(*), CAST(coalesce(sum(l.n_tokens), 0) AS BIGINT)
           FROM balanced JOIN langed l USING (doc_id)),
         raw0 AS (SELECT n_docs AS nd0 FROM stages WHERE stage = '1_raw')
         SELECT stage, n_docs, n_tokens,
                CAST((n_docs * 10000) // nd0 AS BIGINT) AS retained_x10000
         FROM stages CROSS JOIN raw0"""

  /** Factored oracle body for hostScorecard — shared with the
    * q190 corpus-health composition, which runs
    * `SqlSurface.CorpusHealthSql` verbatim over these independently
    * derived chains. */
  private lazy val hostScorecardOracleSql: String =
    s"""WITH ${ops.WebOps.duckdbRankCtes(ops.WebOps.RankIters, "__SYNTH__/web_docs.parquet/*.parquet")},
         ${hostQualityCtesP("q")},
         su AS (SELECT doc_id, unnest(regexp_extract_all(text, '${ops.WebOps.UrlRe}')) AS url
                FROM read_parquet('__SYNTH__/web_docs.parquet/*.parquet')),
         sh AS (SELECT doc_id, regexp_replace(lower(regexp_extract(url, '${ops.WebOps.HostRe}', 1)), '^www\\.', '') AS host FROM su),
         sc AS (SELECT host, count(*) AS n_urls, count(DISTINCT doc_id) AS n_docs FROM sh GROUP BY 1)
         SELECT sc.host, sc.n_urls, sc.n_docs, qg.mean_logit_x100,
                qg.mean_logit_x100 >= ${ops.WebOps.HostReputationThresholdX100} AS reputable,
                CAST(coalesce(rf.rank, 0) AS BIGINT) AS rank_x1e12
         FROM sc JOIN qg USING (host)
         LEFT JOIN r${ops.WebOps.RankIters} rf USING (host)"""

  /** Factored oracle body for vocabDrift — shared with the
    * q190 corpus-health composition, which runs
    * `SqlSurface.CorpusHealthSql` verbatim over these independently
    * derived chains. */
  private lazy val vocabDriftOracleSql: String =
    s"""WITH g AS (SELECT conv_id, turn_idx, text
                    FROM read_parquet('__SYNTH__/golden_turns.parquet/*.parquet')),
         nx AS (SELECT CASE WHEN turn_idx = 0 THEN text || ' drift' ELSE text END AS text
                FROM g WHERE conv_id >= 'conv-000005'
                UNION ALL
                SELECT '<p>late-arriving appended turn body text</p>' AS text
                FROM (SELECT DISTINCT conv_id FROM g) c
                WHERE conv_id >= 'conv-000005' AND CAST(substr(conv_id, 6) AS BIGINT) % 10 = 0),
         tp AS (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS token FROM g),
         tn AS (SELECT unnest(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS token FROM nx),
         cp AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt_prev FROM tp GROUP BY 1),
         cn AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt_next FROM tn GROUP BY 1),
         j AS (SELECT coalesce(cp.token, cn.token) AS token,
                      coalesce(cnt_prev, 0) AS cnt_prev, coalesce(cnt_next, 0) AS cnt_next
               FROM cp FULL OUTER JOIN cn ON cp.token = cn.token),
         d AS (SELECT token, cnt_prev, cnt_next,
                      cnt_next - cnt_prev AS delta,
                      CAST((cnt_next * 10000) // greatest(cnt_prev, 1) AS BIGINT) AS ratio_x10000
               FROM j WHERE cnt_next <> cnt_prev)
         SELECT token, cnt_prev, cnt_next, delta, ratio_x10000
         FROM d ORDER BY abs(delta) DESC, token ASC
         LIMIT ${ops.TranscriptOps.DriftTopK}"""

  /** Factored oracle body for cellDrift — shared with the
    * q190 corpus-health composition, which runs
    * `SqlSurface.CorpusHealthSql` verbatim over these independently
    * derived chains. */
  private lazy val cellDriftOracleSql: String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         c AS (SELECT cell, CAST(centroid AS DOUBLE[]) AS cv
               FROM read_parquet('__SYNTH__/centroids_base.parquet/*.parquet')),
         a AS (SELECT vec_id,
                  first(cell ORDER BY CAST(floor(list_distance(v, cv) * 10000) AS BIGINT) ASC, cell ASC) AS cell
               FROM e CROSS JOIN c GROUP BY vec_id)
         SELECT cell,
                CAST(sum(CASE WHEN vec_id < ${ops.SimilarityOps.IvfAppendBase} THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
                CAST(sum(CASE WHEN vec_id >= ${ops.SimilarityOps.IvfAppendBase} THEN 1 ELSE 0 END) AS BIGINT) AS n_appended,
                CAST((sum(CASE WHEN vec_id >= ${ops.SimilarityOps.IvfAppendBase} THEN 1 ELSE 0 END) * 10000)
                     // greatest(sum(CASE WHEN vec_id < ${ops.SimilarityOps.IvfAppendBase} THEN 1 ELSE 0 END), 1) AS BIGINT) AS appended_ratio_x10000
         FROM a GROUP BY 1"""

  /** The q54 IVF-search oracle body — shared verbatim with q185 (the
    * persisted-index scan must produce IDENTICAL results, so it gets the
    * identical oracle). */
  private lazy val ivfTopkOracleSql: String =
    s"""WITH c AS (SELECT cell, CAST(centroid AS DOUBLE[]) AS cv
                    FROM read_parquet('__SYNTH__/centroids.parquet/*.parquet')),
         e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         a AS MATERIALIZED (SELECT vec_id,
                      first(cell ORDER BY CAST(floor(list_distance(v, cv) * 10000) AS BIGINT) ASC, cell ASC) AS cell
               FROM e CROSS JOIN c GROUP BY vec_id),
         idx AS MATERIALIZED (SELECT a.vec_id, a.cell, e.v FROM a JOIN e USING (vec_id)),
         p AS MATERIALIZED (SELECT query_id, qv, cell FROM (
                 SELECT e.vec_id AS query_id, e.v AS qv, c.cell,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY CAST(floor(list_distance(e.v, c.cv) * 10000) AS BIGINT) ASC, c.cell ASC) AS pr
                 FROM e CROSS JOIN c WHERE e.vec_id < ${ops.SimilarityOps.NQueries}) z
                 WHERE pr <= ${ops.SimilarityOps.IvfNProbe}),
         s AS (SELECT p.query_id, idx.vec_id AS neighbor_id,
                      CAST(floor(list_cosine_similarity(p.qv, idx.v) * 10000) AS BIGINT) AS cosine_x10000
               FROM p JOIN idx ON p.cell = idx.cell AND idx.vec_id <> p.query_id)
         SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_x10000 FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_x10000 DESC, neighbor_id ASC) AS rank
           FROM s) t
         WHERE rank <= ${ops.SimilarityOps.DefaultK}"""

  /** Shared CTE chain rebuilding all three ANN tiers' top-k WITH ranks
    * (exact brute, tuned LSH, IVF) — ONE definition feeding the q59
    * recall and q170 ranking oracles so the tier derivations cannot
    * drift between them.
    */
  private def annTierCtes: String =
    s"""e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         q AS MATERIALIZED (SELECT vec_id AS query_id, v AS qv FROM e
               WHERE vec_id < ${ops.SimilarityOps.NQueries}),
         xs AS MATERIALIZED (SELECT q.query_id, e.vec_id AS neighbor_id,
                       CAST(floor(list_cosine_similarity(q.qv, e.v) * 10000) AS BIGINT) AS cosine_x10000
                FROM q JOIN e ON e.vec_id <> q.query_id),
         exact AS MATERIALIZED (SELECT query_id, neighbor_id FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_x10000 DESC, neighbor_id ASC) AS rank
             FROM xs) t WHERE rank <= ${ops.SimilarityOps.DefaultK}),
         $lshCandidateCtes,
         ls AS MATERIALIZED (SELECT c.query_id, c.neighbor_id,
                       CAST(floor(list_cosine_similarity(q.v, n.v) * 10000) AS BIGINT) AS cosine_x10000
                FROM lcand c JOIN e q ON q.vec_id = c.query_id JOIN e n ON n.vec_id = c.neighbor_id),
         lsh AS MATERIALIZED (SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_x10000 DESC, neighbor_id ASC) AS rank
             FROM ls) t WHERE rank <= ${ops.SimilarityOps.DefaultK}),
         c AS MATERIALIZED (SELECT cell, CAST(centroid AS DOUBLE[]) AS cv
               FROM read_parquet('__SYNTH__/centroids.parquet/*.parquet')),
         a AS MATERIALIZED (SELECT vec_id,
                      first(cell ORDER BY CAST(floor(list_distance(v, cv) * 10000) AS BIGINT) ASC, cell ASC) AS cell
               FROM e CROSS JOIN c GROUP BY vec_id),
         idx AS (SELECT a.vec_id, a.cell, e.v FROM a JOIN e USING (vec_id)),
         p AS MATERIALIZED (SELECT query_id, qv, cell FROM (
                 SELECT e.vec_id AS query_id, e.v AS qv, c.cell,
                        row_number() OVER (PARTITION BY e.vec_id
                          ORDER BY CAST(floor(list_distance(e.v, c.cv) * 10000) AS BIGINT) ASC, c.cell ASC) AS pr
                 FROM e CROSS JOIN c WHERE e.vec_id < ${ops.SimilarityOps.NQueries}) z
                 WHERE pr <= ${ops.SimilarityOps.IvfNProbe}),
         ivs AS MATERIALIZED (SELECT p.query_id, idx.vec_id AS neighbor_id,
                        CAST(floor(list_cosine_similarity(p.qv, idx.v) * 10000) AS BIGINT) AS cosine_x10000
                 FROM p JOIN idx ON p.cell = idx.cell AND idx.vec_id <> p.query_id),
         ivf AS MATERIALIZED (SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank FROM (
             SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine_x10000 DESC, neighbor_id ASC) AS rank
             FROM ivs) t WHERE rank <= ${ops.SimilarityOps.DefaultK})"""

  /** The fixed nDCG discount table as a SQL CASE over a rank column —
    * interpolated from `SimilarityOps.NdcgWeightsX10000` so engine and
    * oracle share the one constant table.
    */
  private def ndcgCaseSql(rankCol: String): String =
    ops.SimilarityOps.NdcgWeightsX10000.zipWithIndex
      .map { case (w, i) => s"WHEN ${i + 1} THEN $w" }
      .mkString(s"CASE $rankCol ", " ", " ELSE 0 END")

  private def lshCandidateCtes: String = {
    val L = ops.SimilarityOps.TuneMaxTables
    val B = ops.SimilarityOps.TuneMaxPlanes
    val target = ops.SimilarityOps.TuneTargetRecallX10000
    val fbList = (0 until L).map(t => s"b$t").mkString("[", ", ", "]")
    val pows = (1 to B).map(b =>
      s"SELECT $b AS b, CAST(${fxHitSql("qnear", b)} AS BIGINT) AS hnear, " +
        s"CAST(${fxHitSql("qrand", b)} AS BIGINT) AS hrand FROM tune")
      .mkString(" UNION ALL ")
    val grid = (1 to L).map(l =>
      s"SELECT b, $l AS l, 10000 - CAST(${fxPowSql("(10000 - hnear)", l)} AS BIGINT) AS r, " +
        s"$l * hrand AS v FROM pows")
      .mkString(" UNION ALL ")
    s"""fb AS MATERIALIZED (SELECT vec_id, v, ${bucketColsSql("v", B, L)} FROM e),
       samp AS MATERIALIZED (SELECT * FROM fb WHERE vec_id < ${ops.SimilarityOps.TuneSampleN}),
       pair AS MATERIALIZED (SELECT a.vec_id AS ia, c.vec_id AS ic,
                       CAST(floor(list_cosine_similarity(a.v, c.v) * 10000) AS BIGINT) AS cos,
                       ${lshAgreeSql("a", "c")} AS agree
                FROM samp a JOIN samp c ON a.vec_id <> c.vec_id),
       near AS MATERIALIZED (SELECT ia, ic, agree FROM (
                  SELECT *, row_number() OVER (PARTITION BY ia ORDER BY cos DESC, ic ASC) AS rn
                  FROM pair) z WHERE rn <= ${ops.SimilarityOps.TuneK}),
       tune AS MATERIALIZED (SELECT
                  CAST((SELECT sum(agree) * 10000 // (count(*) * ${L * B}) FROM near) AS BIGINT) AS qnear,
                  CAST((SELECT sum(agree) * 10000 // (count(*) * ${L * B}) FROM pair WHERE ia < ic) AS BIGINT) AS qrand),
       pows AS MATERIALIZED ($pows),
       grid AS MATERIALIZED ($grid),
       chosen AS MATERIALIZED (SELECT b, l FROM grid
                  ORDER BY (CASE WHEN r >= $target THEN 0 ELSE 1 END),
                           (CASE WHEN r >= $target THEN v ELSE 10000 - r END),
                           l, b LIMIT 1),
       lbl AS MATERIALIZED (SELECT vec_id, v, $fbList AS fbl FROM fb),
       lcand AS MATERIALIZED (SELECT DISTINCT q.vec_id AS query_id, n.vec_id AS neighbor_id
                 FROM (SELECT * FROM lbl WHERE vec_id < ${ops.SimilarityOps.NQueries}) q, lbl n, chosen ch
                 WHERE n.vec_id <> q.vec_id
                   AND len(list_filter(range(1, ch.l + 1),
                         t -> bit_count(xor(q.fbl[t] % (1 << ch.b), n.fbl[t] % (1 << ch.b))) <= 1)) > 0)"""
  }

  /** Shared q159/q160 oracle prefix: golden links → canonical URL via
    * the same fragment/port/slash/utm/sort steps the engine runs.
    */
  private lazy val urlCanonCtes: String =
    """WITH l AS (SELECT doc_id, link_idx, href
             FROM read_parquet('__SYNTH__/golden_links.parquet/*.parquet')),
       p1 AS (SELECT doc_id, link_idx, href,
                split_part(href, '#', 1) AS nf FROM l),
       p2 AS (SELECT *, split_part(nf, '?', 1) AS base,
                CASE WHEN position('?' IN nf) > 0
                     THEN substr(nf, position('?' IN nf) + 1) ELSE '' END AS query
              FROM p1),
       p3 AS (SELECT *, regexp_extract(base, '^(https?://[^/]+)', 1) AS hostpart
              FROM p2),
       p4 AS (SELECT *, lower(hostpart) AS hostl,
                substr(base, length(hostpart) + 1) AS rest FROM p3),
       p5 AS (SELECT *,
                CASE WHEN starts_with(hostl, 'https://')
                     THEN regexp_replace(hostl, ':443$', '')
                     ELSE regexp_replace(hostl, ':80$', '') END AS hostc,
                CASE WHEN length(rest) > 1 AND ends_with(rest, '/')
                     THEN substr(rest, 1, length(rest) - 1) ELSE rest END AS pathc,
                list_sort(list_filter(string_split(query, '&'),
                  p -> p <> '' AND NOT starts_with(p, 'utm_'))) AS params
              FROM p4),
       canon AS (SELECT doc_id, link_idx, href,
                   hostc || pathc ||
                   CASE WHEN len(params) > 0
                        THEN '?' || array_to_string(params, '&') ELSE '' END AS canon_url
                 FROM p5)
       """

  /** q148/q165 oracle: whole-bit TF-IDF anchor keywords over any golden
    * link source (the q139 rollup + q86 idf recipe + per-host top-K).
    */
  private def anchorKeywordSql(linkSelect: String): String =
    s"""WITH l AS ($linkSelect),
       hh AS (SELECT doc_id,
               regexp_replace(lower(regexp_extract(href, '${ops.WebOps.HostRe}', 1)), '^www\\.', '') AS host,
               anchor FROM l),
       tt AS (SELECT host, unnest(string_split_regex(lower(anchor), '\\s+')) AS term
              FROM hh WHERE host <> ''),
       terms AS (SELECT host, term, count(*) AS tf
                 FROM tt WHERE term <> '' GROUP BY 1, 2),
       nh AS (SELECT count(DISTINCT host) AS n_hosts FROM terms),
       dft AS (SELECT term, count(*) AS df FROM terms GROUP BY 1),
       sc AS (SELECT terms.host, terms.term, terms.tf,
                CAST(length(bin((nh.n_hosts * 10000) // dft.df)) - 1 AS BIGINT) AS idf_bits
              FROM terms JOIN dft USING (term), nh),
       rk AS (SELECT host, term, tf, idf_bits,
                CAST(tf * idf_bits AS BIGINT) AS score,
                row_number() OVER (PARTITION BY host
                  ORDER BY tf * idf_bits DESC, term) AS rn
              FROM sc)
       SELECT host, term, tf, idf_bits, score, rn
       FROM rk WHERE rn <= ${ops.WebOps.AnchorTopK}"""

  /** Shared q144/q164 oracle prefix: the full PageRank CTE chain (q85)
    * + Hamilton apportionment, ending in `ham(host, rank_x1e12, base,
    * alloc)`.
    */
  private lazy val crawlBudgetCtes: String = {
    val b = ops.WebOps.CrawlBudget
    s"""WITH ${ops.WebOps.duckdbRankCtes(ops.WebOps.RankIters, "__SYNTH__/web_docs.parquet/*.parquet")},
       ranks AS (SELECT host, CAST(rank AS BIGINT) AS rank_x1e12 FROM r${ops.WebOps.RankIters}),
       tot AS (SELECT CAST(sum(rank_x1e12) AS BIGINT) AS total FROM ranks),
       bs AS (SELECT host, rank_x1e12,
                CAST(($b * rank_x1e12) // tot.total AS BIGINT) AS base,
                CAST(($b * rank_x1e12) % tot.total AS BIGINT) AS rem
              FROM ranks, tot),
       l AS (SELECT CAST($b - sum(base) AS BIGINT) AS leftover FROM bs),
       ham AS (SELECT host, rank_x1e12, base,
                 base + CASE WHEN row_number() OVER (ORDER BY rem DESC, host) <= l.leftover
                             THEN 1 ELSE 0 END AS alloc
               FROM bs, l)
       """
  }

  /** Shared q157/q158 oracle prefix: web_docs quality logit → per-host
    * distinct attribution → host rollup (w, d, l, u, h, g CTEs).
    */
  /** Host-quality CTE chain with a NAME PREFIX so it can compose with
    * the rank CTEs (whose u/h names would otherwise collide) in the
    * q178 scorecard oracle. Returns the body WITHOUT the leading WITH.
    */
  private def hostQualityCtesP(p: String): String = {
    val Seq(wTok, wLen, wStop, wPunct) = ops.TextOps.QualityLogitWeights
    s"""${p}w AS (SELECT doc_id, text FROM read_parquet('__SYNTH__/web_docs.parquet/*.parquet')),
       ${p}d AS (SELECT doc_id, text,
           len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
           length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS n_punct,
           CAST(floor(length(regexp_replace(text, '\\s', '', 'g')) * 100.0
                      / len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS mean_wordlen_x100,
           CAST(floor(len(regexp_extract_all(text, '\\b(the|and|of|to|in|is|that|for)\\b')) * 1000.0
                      / len(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS stopword_x1000
         FROM ${p}w),
       ${p}l AS (SELECT doc_id, text,
               n_tokens * $wTok + mean_wordlen_x100 * $wLen
                 + stopword_x1000 * $wStop + n_punct * $wPunct AS logit FROM ${p}d),
       ${p}u AS (SELECT doc_id, logit, unnest(regexp_extract_all(text, '${ops.WebOps.UrlRe}')) AS url FROM ${p}l),
       ${p}h AS (SELECT DISTINCT doc_id, logit,
               regexp_replace(lower(regexp_extract(url, '${ops.WebOps.HostRe}', 1)), '^www\\.', '') AS host FROM ${p}u),
       ${p}g AS (SELECT host, count(*) AS n_docs,
               CAST((sum(logit) * 100) // count(*) AS BIGINT) AS mean_logit_x100
             FROM ${p}h GROUP BY 1)
       """
  }

  private lazy val hostQualityCtes: String = "WITH " + hostQualityCtesP("")
}
