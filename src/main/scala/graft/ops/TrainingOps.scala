package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-set assembly operators — the steps between "curated corpus"
  * and "model dataloader" that the reference performs on the driver side
  * of its training scripts, re-expressed as distributed, deterministic
  * DataFrame plans:
  *
  *  - `trainSplit`: the reference's 64/16/20 train/val/test split with a
  *    fixed seed (ref: src/signature_module/signature_model_dataloader.py:51-52
  *    — sklearn train_test_split(test_size=0.2) then 0.2 of the remainder,
  *    random_state=42). A row-shuffle split does not scale (global
  *    permutation) and is not stable under corpus growth, so the engine
  *    uses the standard content-hash split: bucket = first 4 bytes of
  *    sha256(seed|id) mod 100 — deterministic per id, no shuffle at all
  *    (embarrassingly parallel projection), stable when the corpus grows
  *    (a doc never changes split), and exactly reproducible in any other
  *    system (the DuckDB oracle recomputes it from scratch).
  *
  *  - `contrastivePairs`: Siamese training-pair generation (ref:
  *    src/signature_module/signature_model_dataloader.py builds
  *    genuine/genuine positive and genuine/forged negative image pairs per
  *    person). Over the `embeddings` table (vec_id, label): each anchor
  *    gets ONE positive (the next vec_id within its label, cyclic — so
  *    every member of a ≥2 class participates) and ONE negative (the
  *    rank-matched member of the cyclically-next label class). Rank
  *    matching makes negatives deterministic AND spread across the other
  *    class (vs "everyone pairs with the other class's head", which would
  *    train on one sample).
  *
  * Scale shape: trainSplit is a pure projection (no shuffle). Pair
  * generation shuffles (label, rn) twice for the window + the rank
  * equi-join — both carry (id, label, rn) triples only, never payloads;
  * the per-label statistics frame is ≤ |labels| rows and is broadcast.
  * The one global window (label indexing) runs on the aggregated
  * per-label frame — |labels| rows, constant at any corpus size.
  */
object TrainingOps {

  import RelationalOps.table

  /** Split percentages (train, val) — test is the remainder. Matches the
    * reference's 64/16/20 (ref: signature_model_dataloader.py:51-52).
    */
  val TrainPct = 64
  val ValPct = 16
  val DefaultSeed = "42"

  /** Deterministic content-hash split: (doc_id, bucket, split). */
  def trainSplit(spark: SparkSession, dir: String, seed: String = DefaultSeed): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"))
      .withColumn(
        "bucket",
        conv(substring(sha2(concat_ws("|", lit(seed), col("doc_id").cast("string")), 256), 1, 8),
          16, 10).cast("long") % 100)
      .withColumn(
        "split",
        when(col("bucket") < TrainPct, "train")
          .when(col("bucket") < TrainPct + ValPct, "val")
          .otherwise("test"))

  /** One positive + one negative pair per anchor:
    * (anchor_id, other_id, is_positive 1/0).
    */
  def contrastivePairs(spark: SparkSession, dir: String): DataFrame = {
    val vecs = table(spark, dir, "embeddings").select(col("vec_id"), col("label"))

    val wOrd = Window.partitionBy(col("label")).orderBy(col("vec_id"))
    val wAll = Window.partitionBy(col("label"))
    val ranked = vecs
      .withColumn("rn", row_number().over(wOrd))
      .withColumn("nxt", lead(col("vec_id"), 1).over(wOrd))
      .withColumn("head_id", min(col("vec_id")).over(wAll))
      .withColumn("cnt", count(lit(1)).over(wAll))

    // positive: next member of the same label, wrapping to the head —
    // only defined for classes with >= 2 members (other != anchor)
    val positives = ranked
      .filter(col("cnt") >= 2)
      .select(
        col("vec_id").as("anchor_id"),
        coalesce(col("nxt"), col("head_id")).as("other_id"),
        lit(1).as("is_positive"))

    // per-label stats with a cyclic successor — |labels| rows, broadcast.
    // The unpartitioned window is deliberate: it runs AFTER the groupBy,
    // on a constant-size frame.
    val stats = vecs.groupBy(col("label")).agg(count(lit(1)).as("cnt"))
      .withColumn("lbl_idx", row_number().over(Window.orderBy(col("label"))))
    val nLabels = stats.agg(max(col("lbl_idx")).as("n_labels"))
    val succ = stats.select(
      col("lbl_idx").as("t_idx"), col("label").as("t_label"), col("cnt").as("t_cnt"))
    val labelToTarget = stats
      .crossJoin(broadcast(nLabels))
      .withColumn("t_idx", (col("lbl_idx") % col("n_labels")) + 1)
      .join(succ, "t_idx")
      .filter(col("t_label") =!= col("label")) // needs >= 2 distinct labels
      .select(col("label"), col("t_label"), col("t_cnt"))

    // negative: rank-matched member of the successor label (rank taken
    // modulo the target class size so every anchor gets exactly one)
    val negatives = ranked
      .join(broadcast(labelToTarget), "label")
      .withColumn("t_rn", ((col("rn") - 1) % col("t_cnt")) + 1)
      .join(
        ranked.select(
          col("label").as("t_label"), col("rn").as("t_rn"), col("vec_id").as("other_id")),
        Seq("t_label", "t_rn"))
      .select(col("vec_id").as("anchor_id"), col("other_id"), lit(0).as("is_positive"))

    positives.unionByName(negatives)
  }

  /** Decontamination: val/test documents that share an n-gram with ANY
    * train document — the standard pretraining "test-set leakage" check
    * (an eval doc whose k-grams appear verbatim in the training split is
    * contaminated). Output: (doc_id, split, n_shared_grams) for every
    * contaminated non-train doc, n_shared_grams = how many of its
    * DISTINCT k-grams occur in the train split.
    *
    * Scale shape: one pass computes (doc_id, split, gram) — split is a
    * pure hash projection (see [[trainSplit]]) carried through the gram
    * fan-out, so there is NO join back to the corpus. The train-side
    * gram set is `distinct` BEFORE the join, so a gram shared by millions
    * of train docs (boilerplate) is ONE build row — the contamination
    * join's fan-out is bounded by the probe doc's own gram count, never
    * by gram popularity. Both join sides carry (gram:long[, id]) only;
    * text never shuffles.
    */
  def decontaminate(spark: SparkSession, dir: String, seed: String = DefaultSeed): DataFrame = {
    val grams = docGramBuckets(spark, dir, seed)
    val trainGrams = grams.filter(col("bucket") < TrainPct).select(col("gram")).distinct()
    grams
      .filter(col("bucket") >= TrainPct)
      .select(col("doc_id"), col("gram"))
      .join(trainGrams, "gram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shared_grams"))
      // re-derive the fine split label (val/test) from the same hash —
      // a 3-byte projection, cheaper than carrying it through the join
      .withColumn(
        "bucket",
        conv(substring(sha2(concat_ws("|", lit(seed), col("doc_id").cast("string")), 256), 1, 8),
          16, 10).cast("long") % 100)
      .withColumn("split", when(col("bucket") < TrainPct + ValPct, "val").otherwise("test"))
      .select(col("doc_id"), col("split"), col("n_shared_grams"))
  }

  /** (doc_id, gram, bucket): each document's DISTINCT winnow k-grams with
    * its split-hash bucket — the ONE gram/split projection feeding both
    * the exact decontamination join (q56) and its Bloom-prefiltered
    * variant (q103), so the two can never drift.
    */
  private[graft] def docGramBuckets(
      spark: SparkSession, dir: String, seed: String): DataFrame = {
    import spark.implicits._
    val k = TextOps.WinnowK
    table(spark, dir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.text.TextAlgos.shingleHashesOrdered(graft.text.TextAlgos.tokenize(t), k)
          .distinct.iterator.map(g => (id, g))
      }
      .toDF("doc_id", "gram")
      .withColumn(
        "bucket",
        conv(substring(sha2(concat_ws("|", lit(seed), col("doc_id").cast("string")), 256), 1, 8),
          16, 10).cast("long") % 100)
  }

  /** Bloom-prefiltered decontamination: the q56 contamination check with
    * the 100 TB shuffle shape — build a [[BloomSketch]] bitmap over the
    * SMALL side's grams (the eval split), ship the 16 KiB bitmap to every
    * task as a literal, and bit-test the HUGE train-gram stream BEFORE
    * anything shuffles. Bloom error is one-sided (no false negatives), so
    * the exact equi-join on the survivors restores exact semantics; the
    * exchange carries only Bloom-passing grams instead of the full
    * train-side distinct-gram set. Output is a one-row audit of the whole
    * construction — eval/train gram cardinalities, bits set, prefilter
    * pass count, measured false positives, and the contamination totals
    * (which must equal q56's) — every field an exact integer the oracle
    * rebuilds from the same double-hash arithmetic.
    */
  def bloomDecontaminate(
      spark: SparkSession, dir: String, seed: String = DefaultSeed): DataFrame = {
    import spark.implicits._
    val grams = docGramBuckets(spark, dir, seed).persist()
    try {
      val evalDocGrams = grams.filter(col("bucket") >= TrainPct)
        .select(col("doc_id"), col("gram"))
      val evalGrams = evalDocGrams.select(col("gram")).distinct()
      val trainGramRows = grams.filter(col("bucket") < TrainPct).select(col("gram"))
      // ONE mergeable aggregate builds the bitmap (16 KiB whatever the
      // input size) — the bounded driver value, like the IVF centroids
      val words: Array[Long] = evalGrams
        .select(BloomSketch.positions(col("gram")).as("pos")).as[Long]
        .select(BloomSketch.BitmapAgg.toColumn)
        .head()
      // the bloom bit-test runs on the RAW train-gram stream — BEFORE the
      // distinct, so the exchange dedups survivors only (plan-asserted);
      // the exact q56 path pays a full-width distinct here instead
      val pass = trainGramRows
        .filter(BloomSketch.mayContain(words, col("gram")))
        .distinct()
        .persist()
      try {
        val nEval = evalGrams.agg(count(lit(1)).as("n_eval_grams"))
        val nTrain = trainGramRows.agg(count(lit(1)).as("n_train_gram_rows"))
        val passAgg = pass
          .join(evalGrams.withColumn("in_eval", lit(1L)), Seq("gram"), "left")
          .agg(
            count(lit(1)).as("n_pass_prefilter"),
            (count(lit(1)) - coalesce(sum(col("in_eval")), lit(0L))).as("n_false_pos"))
        val docAgg = evalDocGrams
          .join(pass, "gram")
          .groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
          .agg(
            count(lit(1)).as("n_contaminated_docs"),
            coalesce(sum(col("n")), lit(0L)).as("shared_grams_total"))
        nEval
          .crossJoin(broadcast(nTrain))
          .crossJoin(broadcast(passAgg))
          .crossJoin(broadcast(docAgg))
          .withColumn("bloom_bits_set", lit(BloomSketch.bitsSet(words)))
          .select(col("n_eval_grams"), col("n_train_gram_rows"), col("bloom_bits_set"),
            col("n_pass_prefilter"), col("n_false_pos"),
            col("n_contaminated_docs"), col("shared_grams_total"))
          .localCheckpoint() // one row; materialize before unpersisting inputs
      } finally pass.unpersist(blocking = false)
    } finally grams.unpersist(blocking = false)
  }

  /** Vocabulary build: the top-`vocabSize` whitespace tokens by corpus
    * frequency with dense ids — (token, cnt, vocab_id), vocab_id = rank
    * under the total order (cnt DESC, token ASC).
    *
    * Scale shape: groupBy(token) is a map-side-combining agg (shuffles
    * (token, partial-count), not text); the global top-V is a
    * TakeOrderedAndProject (per-partition top-V, then V rows to one
    * reducer); the id-assigning window runs on the V-row result —
    * constant-size at any corpus scale, like the per-label stats frame
    * in [[contrastivePairs]].
    */
  val DefaultVocabSize = 1000

  def vocabBuild(spark: SparkSession, dir: String, vocabSize: Int = DefaultVocabSize): DataFrame = {
    val counts = table(spark, dir, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token"))
      .agg(count(lit(1)).as("cnt"))
    counts
      .orderBy(col("cnt").desc, col("token").asc)
      .limit(vocabSize)
      .withColumn(
        "vocab_id",
        row_number().over(Window.orderBy(col("cnt").desc, col("token").asc)).cast("int"))
      .select(col("token"), col("cnt"), col("vocab_id"))
  }

  /** Vocab size for the ENCODING query — deliberately smaller than the
    * corpus vocabulary so out-of-vocabulary tokens (id 0) actually occur
    * at verify scale and the OOV path is exercised, not just compiled.
    */
  val EncodeVocabSize = 20

  /** Token encoding with the built vocabulary — the step between
    * `vocabBuild` (q57) and `packSequences` (q58): each document becomes
    * its id sequence (OOV -> 0), reported as (n_tokens, n_oov,
    * sha256 of the comma-joined ids) so the oracle asserts BYTE equality
    * of the whole sequence.
    *
    * Scale shape: the vocab is top-V by construction (V rows), so it is
    * collapsed to ONE map column and broadcast; encoding is then a pure
    * per-row `transform` lookup — no explode, no shuffle of token rows.
    * The explode+join alternative would shuffle one row PER TOKEN of the
    * corpus (~100x the doc count) to recompute a per-doc value.
    */
  def encodeDocs(spark: SparkSession, dir: String, vocabSize: Int = EncodeVocabSize): DataFrame = {
    val vmap = vocabBuild(spark, dir, vocabSize)
      .agg(map_from_entries(collect_list(struct(col("token"), col("vocab_id")))).as("vmap"))
    table(spark, dir, "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .crossJoin(broadcast(vmap))
      .select(
        col("doc_id"),
        size(col("words")).cast("long").as("n_tokens"),
        transform(col("words"), w => coalesce(element_at(col("vmap"), w), lit(0))).as("ids"))
      .select(
        col("doc_id"),
        col("n_tokens"),
        aggregate(col("ids"), lit(0L), (a, x) => a + when(x === 0, 1L).otherwise(0L)).as("n_oov"),
        sha2(concat_ws(",", transform(col("ids"), _.cast("string"))), 256).as("ids_sha"))
  }

  /** Per-language sampling percentages for the stratified sampler —
    * corpus policy, not operator logic (skewed so the dominant language
    * is downsampled, the standard web-corpus rebalancing move).
    */
  val DefaultStrata: Seq[(String, Int)] = Seq(
    "de" -> 80, "en" -> 40, "es" -> 60, "fr" -> 60, "zh" -> 80)

  /** Deterministic stratified sampling: keep a doc iff its content-hash
    * bucket (same sha256 family as `trainSplit`, different salt) falls
    * under its language's percentage. Unlike `df.sampleBy` (RNG-and-
    * partitioning dependent) this is a pure projection + filter — no
    * shuffle, reproducible in any engine, and stable under corpus growth
    * (adding docs never changes an existing doc's fate).
    */
  def stratifiedSample(
      spark: SparkSession,
      dir: String,
      strata: Seq[(String, Int)] = DefaultStrata,
      seed: String = "7"): DataFrame = {
    val pctMap = map(strata.flatMap { case (l, p) => Seq(lit(l), lit(p)) }: _*)
    table(spark, dir, "documents")
      .select(col("doc_id"), col("lang"))
      .withColumn(
        "bucket",
        conv(substring(sha2(concat_ws("|", lit(seed), col("doc_id").cast("string")), 256), 1, 8),
          16, 10).cast("long") % 100)
      .filter(col("bucket") < coalesce(element_at(pctMap, col("lang")), lit(0)))
  }

  /** Per-source token budget for [[mixtureSample]] — sized so the cap
    * binds (frac < 1) for every synthetic source at verify scales.
    */
  val DefaultMixBudget = 800L

  /** Domain-mixture sampling to a per-source token budget (the
    * Dolma/C4-style "cap every domain at N tokens" corpus-mixing step a
    * 100 TB pretraining pipeline runs before packing): per-source token
    * totals → exact fixed-point keep-fraction
    * `min(10000, budget*10000 div total)` → deterministic sha-bucket
    * gate per document (same sha256 family as `trainSplit`). Output:
    * (doc_id, source, n_tokens, frac_x10000) for the KEPT docs.
    *
    * Scale shape: the totals aggregate shuffles (source, partial sum)
    * pairs only — bounded by the source cardinality, with map-side
    * combine; fractions ride back on a BROADCAST join; the gate is a
    * narrow projection+filter. The corpus itself never shuffles, and
    * (like `stratifiedSample`) a doc's fate never changes when other
    * docs are added — only when its source's total crosses the budget.
    */
  def mixtureSample(
      spark: SparkSession,
      dir: String,
      budgetTokens: Long = DefaultMixBudget,
      seed: String = DefaultSeed): DataFrame = {
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val fracs = docs
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("total_tokens"))
      .withColumn(
        "frac_x10000",
        when(col("total_tokens") === 0L, lit(0L))
          .otherwise(least(lit(10000L),
            expr(s"(${budgetTokens}L * 10000L) div total_tokens"))))
      .select(col("source"), col("frac_x10000"))
    docs
      .join(broadcast(fracs), "source")
      .withColumn(
        "bucket10k",
        conv(substring(sha2(concat_ws("|", lit(seed), col("doc_id").cast("string")), 256), 1, 8),
          16, 10).cast("long") % 10000)
      .filter(col("bucket10k") < col("frac_x10000"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("frac_x10000"))
  }

  /** Exact integer square root as a shared SQL fragment: IEEE floor-sqrt
    * with a ±1 boundary correction, exact for any non-negative BIGINT
    * below 2^62 — the one fragment BOTH the engine column and the DuckDB
    * oracle evaluate, so temperature weights can't drift across engines
    * the way a raw float `sqrt` could at perfect-square boundaries.
    */
  def isqrtSql(x: String): String = {
    val s = s"CAST(floor(sqrt(CAST(($x) AS DOUBLE))) AS BIGINT)"
    s"(CASE WHEN ($s + 1) * ($s + 1) <= ($x) THEN $s + 1" +
      s" WHEN $s * $s > ($x) THEN $s - 1 ELSE $s END)"
  }

  /** Temperature-flattened source-mixture weights (the data-recipe step
    * behind multilingual/multi-domain pretraining mixes: sample sources
    * proportional to n^alpha with alpha = 1/2, so small sources are
    * upweighted relative to their raw share). All fixed point: weight =
    * isqrt(n_tokens) exactly (shared engine/oracle fragment above),
    * share_x10000 = weight·10⁴ div Σweight vs raw_share_x10000 =
    * n_tokens·10⁴ div Σtokens; boost_x10000 = share·10⁴ div raw_share is
    * the per-source up/downsampling factor a sampler would apply.
    *
    * Scale shape: one source-keyed aggregation (map-side combined,
    * bounded by source cardinality), then the two totals ride back as a
    * BROADCAST one-row frame — the corpus never shuffles, the final
    * arithmetic is a projection over #sources rows.
    */
  def temperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val per = table(spark, dir, "documents")
      .select(col("source"),
        size(filter(split(trim(col("text")), "\\s+"), x => x =!= ""))
          .cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .withColumn("weight", expr(isqrtSql("n_tokens")))
    val totals = per.agg(
      sum(col("weight")).as("tot_w"), sum(col("n_tokens")).as("tot_t"))
    per
      .crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        expr("(weight * 10000L) div tot_w").as("share_x10000"),
        expr("(n_tokens * 10000L) div tot_t").as("raw_share_x10000"),
        // -1 sentinel when a source is too small to register a raw share
        // (div-by-zero guard; cannot occur at verify scales)
        expr("""CASE WHEN (n_tokens * 10000L) div tot_t = 0 THEN -1L
                ELSE ((weight * 10000L) div tot_w * 10000L)
                     div ((n_tokens * 10000L) div tot_t) END""")
          .as("boost_x10000"))
  }

  /** Target total training tokens for [[epochSchedule]] — corpus policy
    * (a real run passes its budget); sized ≈2x the sf0.001 corpus so both
    * schedule regimes occur at verify scale.
    */
  val TrainTokenBudget = 100000L

  /** q149: source-epoch scheduling — the data-recipe step after the q126
    * mixture: given a total token budget, each source's TARGET tokens are
    * `budget·weight div Σweight` (the exact temperature share, not the
    * rounded x10000 one) and its repeat factor is `epochs_x100 =
    * target·100 div available`. `oversampled` marks sources the schedule
    * must repeat (epochs > 1) — the LLaMA-style "small high-quality
    * sources run multiple epochs" decision, exact-integer end to end.
    *
    * Scale shape: identical to [[temperatureMix]] — one bounded source
    * aggregation, totals broadcast back as a 1-row crossJoin; the corpus
    * never shuffles.
    */
  def epochSchedule(spark: SparkSession, dir: String,
      budget: Long = TrainTokenBudget): DataFrame = {
    val per = table(spark, dir, "documents")
      .select(col("source"),
        size(filter(split(trim(col("text")), "\\s+"), x => x =!= ""))
          .cast("long").as("n_tokens"))
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("n_tokens"))
      .withColumn("weight", expr(isqrtSql("n_tokens")))
    val totals = per.agg(sum(col("weight")).as("tot_w"))
    per
      .crossJoin(broadcast(totals))
      .select(col("source"), col("n_tokens"), col("weight"),
        expr(s"(${budget}L * weight) div tot_w").as("target_tokens"))
      .withColumn("epochs_x100",
        expr("(target_tokens * 100) div greatest(n_tokens, 1)"))
      .withColumn("oversampled", col("epochs_x100") > 100L)
  }

  /** Per-cell document cap for [[clusterBalancedSample]]. */
  val DefaultCellCap = 40L

  /** Cluster-balanced sampling (the SemDeDup/DataComp-style topic
    * rebalance): assign every embedding to its IVF cell (the same
    * deterministic fixed-point quantizer the ANN index trains,
    * [[SimilarityOps.ivfCentroidsOf]]), then cap each cell at
    * `cap` documents with the exact fixed-point fraction + sha-bucket
    * gate of [[mixtureSample]] — balancing the corpus by LATENT topic
    * rather than by declared source. Output: (vec_id, cell,
    * frac_x10000) for the kept vectors.
    *
    * Scale shape: centroid training is the audited q54 path (Lloyd
    * rounds shuffle nList*dim fixed-point sums, never vectors);
    * assignment broadcasts the nList-row centroid table; the per-cell
    * counts aggregate is bounded by nList; fractions ride a broadcast
    * join; the gate is narrow. Vectors cross one broadcast, zero
    * shuffles.
    */
  def clusterBalancedSample(
      spark: SparkSession,
      dir: String,
      cap: Long = DefaultCellCap,
      seed: String = DefaultSeed): DataFrame = {
    val vecs = table(spark, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val centroids = SimilarityOps.ivfCentroidsOf(vecs)
    val assigned = SimilarityOps.assignCells(vecs, centroids)
    val fracs = assigned
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn(
        "frac_x10000",
        least(lit(10000L), expr(s"(${cap}L * 10000L) div cnt")))
      .select(col("cell"), col("frac_x10000"))
    assigned
      .join(broadcast(fracs), "cell")
      .withColumn(
        "bucket10k",
        conv(substring(sha2(concat_ws("|", lit(seed), col("vec_id").cast("string")), 256), 1, 8),
          16, 10).cast("long") % 10000)
      .filter(col("bucket10k") < col("frac_x10000"))
      .select(col("vec_id"), col("cell"), col("frac_x10000"))
  }

  /** Sample size for [[prioritySample]]. */
  val PrioritySampleK = 100

  /** Deterministic weighted priority sampling: keep the k documents with
    * the smallest `priority = hash div weight` (weight = token count, so
    * longer docs are proportionally more likely kept — the
    * length-weighted corpus subset a budgeted pretraining mix draws).
    * The classic priority-sampling scheme with the RNG replaced by the
    * engine-reproducible sha-prefix hash: exact integer division, total
    * (priority, doc_id) order, identical in any engine — unlike
    * rand()-weighted reservoirs.
    *
    * Scale shape: narrow projection to (doc_id, weight, priority), then
    * global bottom-k — which compiles to TakeOrderedAndProject
    * (per-partition top-k, merged on the driver; k rows cross the wire
    * per partition, plan-asserted). Zero-weight docs are excluded (they
    * carry no sampleable tokens and would divide by zero).
    */
  def prioritySample(
      spark: SparkSession,
      dir: String,
      k: Int = PrioritySampleK,
      seed: String = DefaultSeed): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"),
        size(filter(split(trim(col("text")), "\\s+"), x => x =!= ""))
          .cast("long").as("weight"))
      .filter(col("weight") > 0L)
      .withColumn(
        "h",
        conv(substring(sha2(concat_ws("|", lit(seed), col("doc_id").cast("string")), 256), 1, 8),
          16, 10).cast("long"))
      .withColumn("priority", expr("h div weight"))
      .orderBy(col("priority").asc, col("doc_id").asc)
      .limit(k)
      .select(col("doc_id"), col("weight"), col("priority"))

  /** Dataset card: the one-row corpus datasheet a curation pipeline
    * publishes next to its shards — sizes, composition cardinalities,
    * exact-dup rate (via content sha), and mean length, all exact
    * integers (fixed-point x10000/x100 fractions per the repo
    * convention). One scan, one global aggregate with map-side
    * partials; the distinct counts are over bounded domains (sources,
    * langs) plus the 32-byte content sha.
    */
  def datasetCard(spark: SparkSession, dir: String): DataFrame =
    table(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        sha2(coalesce(col("text"), lit("")), 256).as("text_sha"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("text_sha")).as("n_distinct_texts"))
      .select(
        col("n_docs"), col("total_tokens"), col("n_sources"), col("n_langs"),
        col("n_distinct_texts"),
        expr("((n_docs - n_distinct_texts) * 10000L) div n_docs").as("dup_rate_x10000"),
        expr("(total_tokens * 100L) div n_docs").as("mean_tokens_x100"))

  /** Sequence packing: concat-and-chunk dataloader layout. Documents are
    * laid end-to-end in doc_id order and cut into fixed `budget`-token
    * chunks; each doc reports where it lands —
    * (doc_id, n_tokens, start_offset, chunk_first, chunk_last), with
    * chunk_last = -1 sentinel for zero-token docs (they occupy no chunk).
    *
    * The global running offset uses the scale-safe two-phase pattern
    * (`RelationalOps.twoPhaseGlobal`): a global-order window would funnel the corpus
    * through ONE partition, so docs are range-partitioned by doc_id
    * (contiguous ranges), each partition computes its local prefix sums,
    * and a driver-side prefix sum over the tiny per-partition totals
    * supplies the offsets — identical to the single-window result for
    * any range boundaries. localCheckpoint pins one sampled boundary set
    * so the totals pass and the final pass agree.
    */
  val DefaultChunkBudget = 512L

  /** Shard writer — the output-layout step of the training pipeline:
    * materialize a table as `nShards` size-balanced, RANGE-sharded,
    * internally sorted parquet files. Range sharding (vs hash) gives the
    * property dataloaders want: shard k holds a contiguous key range, so
    * concatenating shards in order replays the whole corpus in key order
    * deterministically. `maxRecordsPerFile` caps file size at 100 TB
    * (executor-local split, no extra shuffle); 0 = uncapped.
    */
  /** The layout transform `writeShards` materializes — exposed so its
    * plan shape (exactly ONE range exchange + the per-shard sort; the
    * file-size cap adds no further shuffle) is plan-assertable.
    */
  def shardLayout(df: DataFrame, nShards: Int, orderCol: String): DataFrame =
    df.repartitionByRange(nShards, col(orderCol))
      .sortWithinPartitions(col(orderCol))

  def writeShards(
      df: DataFrame,
      outDir: String,
      nShards: Int,
      orderCol: String,
      maxRecordsPerFile: Long = 0L): Unit =
    shardLayout(df, nShards, orderCol)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(outDir)

  /** Bits per z-order dimension (16+16 interleave to a 32-bit z-value). */
  val ZBits = 16
  val ZShards = 64

  /** Spread a 16-bit value's bits to the even positions of a 32-bit word
    * (the classic Morton magic-mask ladder) — pure shift/mask column
    * arithmetic, codegen'd, identical in any engine's BIGINT.
    */
  private def spread16(x0: Column): Column = {
    val x = x0.bitwiseAND(lit(0xFFFFL))
    val a = x.bitwiseOR(shiftleft(x, 8)).bitwiseAND(lit(0x00FF00FFL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0F0F0F0FL))
    val c = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    c.bitwiseOR(shiftleft(c, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** 32-bit Morton z-value of two 16-bit coordinates. */
  def zValue(x: Column, y: Column): Column =
    spread16(x).bitwiseOR(shiftleft(spread16(y), 1))

  /** Driver/test-side z-value (for local truths). */
  def zValueScala(x: Long, y: Long): Long = {
    def spread(v0: Long): Long = {
      var v = v0 & 0xFFFFL
      v = (v | (v << 8)) & 0x00FF00FFL
      v = (v | (v << 4)) & 0x0F0F0F0FL
      v = (v | (v << 2)) & 0x33333333L
      (v | (v << 1)) & 0x55555555L
    }
    spread(x) | (spread(y) << 1)
  }

  /** Z-order (Morton-curve) data layout over the event stream: interleave
    * the bits of (user, hour) so one linear shard key clusters BOTH
    * dimensions — the lakehouse clustering trick (Delta/Iceberg OPTIMIZE
    * ZORDER) that lets a (user-range × time-range) predicate prune to a
    * handful of shards instead of scanning one full dimension.
    *
    * Shards are fixed z-ranges (`z div 2^26` for 64 shards), NOT sampled
    * range boundaries, so the layout is deterministic and oracle-exact.
    * The locality guarantee is structural: a 2^26-wide z-range spans at
    * most 2^13 user values × 2^13 hour values (asserted per shard in the
    * local truth). Output: one audit row per shard — row count, distinct
    * users, distinct hours, z min/max.
    *
    * Scale shape: the z-value is a narrow shift/mask projection; the only
    * exchange is the shard-keyed aggregation (plan-asserted); writing
    * would reuse [[shardLayout]]'s single range exchange on `zval`.
    */
  def zOrderShards(spark: SparkSession, dir: String, nShards: Int = ZShards): DataFrame = {
    val span = (1L << (2 * ZBits)) / nShards
    table(spark, dir, "events")
      .filter(col("ts").isNotNull)
      .select(
        pmod(col("user_id"), lit(1L << ZBits)).as("ux"),
        pmod(expr("unix_micros(CAST(ts AS TIMESTAMP)) div 3600000000"), lit(1L << ZBits))
          .as("tx"))
      .withColumn("zval", zValue(col("ux"), col("tx")))
      .withColumn("shard_id", expr(s"zval div ${span}L"))
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("ux")).as("n_users"),
        countDistinct(col("tx")).as("n_hours"),
        min(col("zval")).as("z_min"),
        max(col("zval")).as("z_max"))
  }

  def packSequences(spark: SparkSession, dir: String, budget: Long = DefaultChunkBudget): DataFrame = {
    val toks = TextOps.tokenCountBpe(spark, dir)
      .withColumnRenamed("n_bpe_tokens", "n_tokens")
    RelationalOps.twoPhaseGlobal(toks,
        Seq(col("doc_id")), col("n_tokens"), sum(col("n_tokens")), "cum")
      .withColumn("start_offset", col("cum") - col("n_tokens"))
      .withColumn("chunk_first", expr(s"start_offset div ${budget}L"))
      .withColumn(
        "chunk_last",
        when(col("n_tokens") === 0, lit(-1L)).otherwise(expr(s"(cum - 1) div ${budget}L")))
      .select(
        col("doc_id"), col("n_tokens"), col("start_offset"),
        col("chunk_first"), col("chunk_last"))
  }

  /** SFT prompt-response pair assembly from extracted transcripts: a
    * user turn immediately followed (turn_idx + 1, same conv) by an
    * assistant turn becomes one training pair. Pairs carry shas of the
    * EXTRACTED text (the pipeline's product, so the oracle re-pins
    * per-turn extraction equality inside the pair) plus the combined
    * length for budget-aware downstream packing.
    *
    * Scale shape: one conv-partitioned window (turns of a conv are
    * already co-located after the pipeline's salt shuffle; the window's
    * conv_id repartition is the op's only exchange), then a narrow
    * filter + projection. No global window, no join.
    */
  def sftPairs(
      spark: SparkSession,
      turns: org.apache.spark.sql.Dataset[graft.model.Turn]): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    graft.pipeline.Pipeline.run(spark, turns).toDF()
      .select(col("conv_id"), col("turn_idx"), col("role"), col("extracted_text"))
      .withColumn("next_role", lead(col("role"), 1).over(w))
      .withColumn("next_idx", lead(col("turn_idx"), 1).over(w))
      .withColumn("next_text", lead(col("extracted_text"), 1).over(w))
      .filter(
        col("role") === "user" && col("next_role") === "assistant" &&
          col("next_idx") === col("turn_idx") + 1)
      .select(
        col("conv_id"),
        col("turn_idx").as("prompt_idx"),
        sha2(col("extracted_text"), 256).as("prompt_sha"),
        sha2(col("next_text"), 256).as("response_sha"),
        (length(col("extracted_text")) + length(col("next_text"))).cast("long").as("n_chars"))
  }

  /** Token budget for [[contextAssembly]] (whitespace tokens of extracted
    * text; ~3 synthetic turns' worth, so contexts get truncated often
    * enough to exercise the budget cut).
    */
  val CtxBudgetTokens = 120L

  /** Chat-context assembly over EXTRACTED turn text: for every assistant
    * turn, the training example's context is the maximal contiguous run
    * of immediately-preceding turns whose whitespace-token total fits a
    * budget (the window an SFT/chat fine-tune would pack in front of the
    * target). Because running token sums `pre` are non-decreasing, the
    * fitting run is exactly the preceding turns with
    * `pre >= pre(target) - budget` — one conv-partitioned window pass plus
    * one conv-keyed collect, same hash partitioning, so the whole operator
    * costs a single shuffle at any scale (conversations are bounded-depth;
    * the 10^12-turn table is wide in conv_id, not deep per conv).
    * Output: (conv_id, turn_idx, n_ctx_turns, ctx_tokens, ctx_sha) where
    * ctx_sha is sha-256 of the newline-joined context texts — re-pinning
    * per-turn extraction equality inside every assembled context.
    */
  def contextAssembly(
      spark: SparkSession,
      turns: org.apache.spark.sql.Dataset[graft.model.Turn],
      budgetTokens: Long = CtxBudgetTokens): DataFrame = {
    val w = Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
    val t = graft.pipeline.Pipeline.run(spark, turns).toDF()
      .select(col("conv_id"), col("turn_idx"), col("role"), col("extracted_text"))
      .withColumn("n_tokens",
        size(filter(split(col("extracted_text"), "\\s+"), x => x =!= "")).cast("long"))
      .withColumn("pre", coalesce(
        sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    t.groupBy(col("conv_id"))
      .agg(sort_array(collect_list(struct(
        col("turn_idx"), col("role"), col("pre"), col("extracted_text").as("txt")))).as("arr"))
      .select(col("conv_id"), col("arr"), posexplode(col("arr")))
      .filter(col("col.role") === "assistant")
      .withColumn("kept", filter(slice(col("arr"), lit(1), col("pos")),
        x => x("pre") >= col("col.pre") - budgetTokens))
      .select(
        col("conv_id"),
        col("col.turn_idx").as("turn_idx"),
        size(col("kept")).as("n_ctx_turns"),
        when(size(col("kept")) > 0, col("col.pre") - element_at(col("kept"), 1)("pre"))
          .otherwise(lit(0L)).as("ctx_tokens"),
        sha2(array_join(transform(col("kept"), x => x("txt")), "\n"), 256).as("ctx_sha"))
  }

  /** ~13 docs per bin at the corpus's ~300-char mean: big enough that
    * bins have real fill variance, small enough that every source packs
    * several bins even at the smallest verify scale (25 docs/source).
    */
  val CompactionTargetChars = 4000L

  /** q129: compaction plan — group each source's documents into
    * target-size bins by running-offset next-fit, the planner half of the
    * small-file compaction every long-lived 100 TB table needs (the write
    * half is `shardLayout`). A doc's bin is `cumulative_chars_before div
    * targetChars` under the stable (source, doc_id) order, so the plan is
    * a pure function of the table — any executor, any parallelism, same
    * bins — and an oracle can recompute it from scratch. One exchange: the
    * source-keyed window whose hash partitioning the (source, bin) rollup
    * reuses. Per-source sequential packing is inherently ordered, so the
    * parallelism unit is the source (fine: compaction runs per partition
    * of a partitioned table; a single monster source would instead be
    * range-sharded by `shardLayout` itself).
    */
  def compactionPlan(spark: SparkSession, dir: String,
      targetChars: Long = CompactionTargetChars): DataFrame = {
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    table(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("pre", coalesce(
        sum(col("n_chars")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("bin", expr(s"pre div ${targetChars}L"))
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc_id"),
        max(col("doc_id")).as("max_doc_id"))
  }
}
