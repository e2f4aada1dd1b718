package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Web-corpus curation operators a 100 TB training-data pipeline needs on
  * top of the dedup/quality families: Gopher-style intra-document
  * repetition statistics, PII redaction, and URL host normalization.
  *
  * Scale notes: `repetitionStats` and `piiRedact` are pure per-row column
  * expressions (no shuffle at all — the plan is scan → project, perfectly
  * linear at any cluster size; `PlanShapeSpec` pins the no-Exchange shape).
  * `urlHosts` is the one genuine cross-doc aggregation and shuffles only
  * (host, partial-count) pairs after map-side combine.
  */
object WebOps {

  import RelationalOps.table

  /** RE2-safe (and Java-regex-identical) patterns — shared verbatim with
    * the DuckDB oracle SQL, so both engines run the same expression.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "(\\+1 )?(\\([0-9]{3}\\) |[0-9]{3}-)[0-9]{3}-[0-9]{4}"
  val UrlRe = "https?://[^\\s]+" // all whitespace, not just ' ' — a URL at end-of-line must not absorb the next line
  val HostRe = "https?://([^/ ?#]+)"

  /** THE host normalization — lowercase, leading `www.` stripped — used
    * by every host-keyed op (urlHosts, hostEdges, anchor family,
    * reputation family, link census). One definition, un-forkable.
    */
  def hostOf(c: Column): Column =
    regexp_replace(lower(regexp_extract(c, HostRe, 1)), "^www\\.", "")

  /** Keep thresholds for the repetition gate (x10000 fixed point). The
    * synthetic word-soup draws ~30 vocab words per ~100-word doc, so
    * duplicate-word fractions sit high by construction; the gates are set
    * where the corpus actually splits (probed at sf0.001/sf0.01) — the
    * OPERATOR is the metric computation, the constants are corpus policy.
    */
  val MaxDupWordFracX10000 = 6000L
  val MaxTopBigramCharFracX10000 = 700L

  /** Gopher-style repetition statistics per document (word level — the
    * corpus has no newlines, so "lines" degenerate; word/2-gram repetition
    * is the discriminating signal). Per doc:
    *   - dup_word_frac      = (n_words - n_distinct_words) / n_words
    *   - top_bigram         = most frequent word 2-gram (lexicographically
    *                          smallest on count ties)
    *   - top_bigram_char_frac = chars covered by occurrences of that
    *                          2-gram / total word chars (overlapping
    *                          occurrences counted per-occurrence)
    * All fractions are x10000 integer fixed point (hash-stable vs DuckDB).
    *
    * Entirely narrow: 2-gram frequencies come from an `array_sort` +
    * `aggregate` run-length fold INSIDE the row, not from an exploded
    * groupBy — per-doc stats never need a shuffle, and at 100 TB the
    * explode alternative would shuffle ~n_words rows per doc for nothing.
    */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val fold = (st: Column, x: Column) => {
      val run = when(x === st.getField("prev"), st.getField("run") + 1L)
        .otherwise(lit(1L))
      // strict '>' keeps the FIRST max run in sorted order = the
      // lexicographically smallest 2-gram on ties (oracle: cnt DESC, gram ASC)
      val better = run > st.getField("best")
      struct(
        x.as("prev"),
        run.as("run"),
        when(better, run).otherwise(st.getField("best")).as("best"),
        when(better, x).otherwise(st.getField("gram")).as("gram"))
    }
    table(spark, dir, "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .withColumn("n_words", size(col("words")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("words"))).cast("long"))
      .withColumn(
        "word_chars",
        aggregate(col("words"), lit(0L), (acc, w) => acc + length(w).cast("long")))
      .withColumn(
        "bigrams",
        when(
          col("n_words") >= 2,
          zip_with(
            slice(col("words"), lit(1), size(col("words")) - 1),
            slice(col("words"), lit(2), size(col("words")) - 1),
            (a, b) => concat(a, lit(" "), b)))
          .otherwise(array().cast("array<string>")))
      .withColumn(
        "top",
        aggregate(
          array_sort(col("bigrams")),
          struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best"), lit("").as("gram")),
          fold,
          st => struct(st.getField("best").as("cnt"), st.getField("gram").as("gram"))))
      .select(
        col("doc_id"),
        col("n_words"),
        when(col("n_words") === 0, 0L)
          .otherwise(expr("(n_words - n_distinct) * 10000 div n_words"))
          .as("dup_word_frac_x10000"),
        col("top.gram").as("top_bigram"),
        col("top.cnt").as("top_bigram_count"),
        when(col("word_chars") === 0, 0L)
          // chars covered per occurrence = the two words = len(gram) - 1 (separator)
          .otherwise(expr("top.cnt * (length(top.gram) - 1) * 10000 div word_chars"))
          .as("top_bigram_char_frac_x10000"))
      .withColumn(
        "keep",
        col("dup_word_frac_x10000") <= MaxDupWordFracX10000 &&
          col("top_bigram_char_frac_x10000") <= MaxTopBigramCharFracX10000)
  }

  /** PII redaction over a scraped-text table: email/phone match counts and
    * the sha256 of the redacted text (emails replaced first, then phones —
    * the sha lets the oracle assert BYTE equality of the full redacted
    * string without hauling long text through the compare).
    */
  def piiRedact(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("long").as("n_phones"),
      sha2(
        regexp_replace(regexp_replace(col("text"), EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>"),
        256).as("redacted_sha"))

  /** Blocked (normalized) hosts for the domain filter — corpus policy;
    * shared verbatim with the oracle. The planted WebDocs corpus cites
    * both, so the filter provably drops rows.
    */
  val BlockedHosts: Seq[String] = Seq("site3.com", "blog2.org")

  /** Domain blocklist filter — the standard crawl-hygiene pass: drop any
    * doc citing a blocked host (after the same lowercase + www-strip
    * normalization as `urlHosts`). The blocklist is a literal array, so
    * the whole filter is ONE narrow `exists` over the extracted URLs —
    * no explode, no join, no shuffle. (A million-entry blocklist would
    * broadcast-join the exploded hosts instead; at this size the array
    * literal constant-folds into codegen.)
    */
  def domainFilter(docs: DataFrame): DataFrame = {
    val blocked = array(BlockedHosts.map(lit): _*)
    docs
      .withColumn("urls", regexp_extract_all(col("text"), lit(UrlRe), lit(0)))
      .withColumn(
        "blocked",
        exists(col("urls"), u =>
          array_contains(
            blocked,
            regexp_replace(lower(regexp_extract(u, HostRe, 1)), "^www\\.", ""))))
      .filter(!col("blocked"))
      .select(col("doc_id"), size(col("urls")).cast("long").as("n_urls"))
  }

  /** Span width for the duplicated-span statistic. */
  val SpanK = 5

  /** C4/RefinedWeb-style duplicated-span coverage: for each document, the
    * fraction of its DISTINCT word `SpanK`-grams that also occur in at
    * least one OTHER document (boilerplate/mirror detection — a high
    * fraction means the doc is assembled from corpus-repeated spans).
    *
    * Scale shape: grams are built narrow per row (`transform` over a
    * guarded `sequence`), deduped inside the row (`array_distinct`), and
    * only then exploded — the two shuffles carry (16-hex-char sha prefix,
    * doc_id) pairs, never text. Cross-doc occurrence needs a gram-keyed
    * aggregation; everything else stays per-row. A doc with < SpanK words
    * has no spans and reports zeros (sequence(1, n-k+1) would DESCEND for
    * n < k — the `when` guard is load-bearing).
    */
  def dupSpanStats(spark: SparkSession, dir: String): DataFrame = {
    val grams = table(spark, dir, "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
      .select(
        col("doc_id"),
        when(
          size(col("words")) >= SpanK,
          array_distinct(transform(
            sequence(lit(1), size(col("words")) - (SpanK - 1)),
            i => substring(sha2(array_join(slice(col("words"), i, lit(SpanK)), " "), 256), 1, 16))))
          .otherwise(array().cast("array<string>")).as("grams"))
    val exploded = grams
      .select(col("doc_id"), explode(col("grams")).as("gram_h"))
    val counts = exploded
      .groupBy(col("gram_h"))
      .agg(count(lit(1)).as("cnt")) // distinct-per-doc, so cnt = #docs carrying it
    exploded
      .join(counts, "gram_h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("cnt") >= 2, 1L).otherwise(0L)).as("n_dup_grams"))
      .join(grams.select(col("doc_id")), Seq("doc_id"), "right") // keep span-less docs
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, 0L)
          .otherwise(expr("n_dup_grams * 10000 div n_grams")).as("dup_span_frac_x10000"))
  }

  /** C4-style duplicated-span REMOVAL — the cleaning step that q65's
    * coverage stats measure: every occurrence of a duplicated `SpanK`-gram
    * except the globally-first one (lexicographic min (doc_id, pos)) is
    * removed; a token survives iff no removed occurrence covers its
    * position. Output is (doc_id, n_tokens, n_removed, cleaned_sha) with
    * the sha over the space-joined kept tokens, so the oracle asserts
    * byte equality of the CLEANED text without hauling text through the
    * compare.
    *
    * Scale shape (same discipline as q65): the gram shuffle carries
    * 16-hex sha prefixes + (doc_id, pos) — never text; the keeper choice
    * is one aggregation; removal positions come back as one
    * (doc_id)-keyed agg whose payload is bounded by the doc's own gram
    * count; the mask application is a per-row fold. A pathological
    * all-duplicate doc costs O(tokens · removed_intervals) in the fold —
    * interval merging would cap that, documented not needed at current
    * dup rates.
    */
  def removeDupSpans(spark: SparkSession, dir: String): DataFrame = {
    val k = SpanK
    val docs = table(spark, dir, "documents")
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("words"))
    val grams = docs
      .filter(size(col("words")) >= k)
      .select(
        col("doc_id"),
        posexplode(transform(
          sequence(lit(1), size(col("words")) - (k - 1)),
          i => substring(sha2(array_join(slice(col("words"), i, lit(k)), " "), 256), 1, 16))))
      .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("gram_h"))
    val keepers = grams
      .groupBy(col("gram_h"))
      .agg(min(struct(col("doc_id"), col("pos"))).as("keep"))
    val removed = grams
      .join(keepers, "gram_h")
      .filter(!(col("doc_id") === col("keep.doc_id") && col("pos") === col("keep.pos")))
      .select(col("doc_id"), col("pos"))
    val masks = removed
      .groupBy(col("doc_id"))
      .agg(collect_list(col("pos")).as("rem_starts"))
    docs
      .join(masks, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("words"),
        coalesce(col("rem_starts"), array().cast("array<int>")).as("rem"))
      .select(
        col("doc_id"),
        size(col("words")).cast("long").as("n_tokens"),
        filter(col("words"), (_, j) =>
          !exists(col("rem"), s => s <= j + 1 && j + 1 <= s + (k - 1))).as("kept"))
      .select(
        col("doc_id"), col("n_tokens"),
        (col("n_tokens") - size(col("kept"))).cast("long").as("n_removed"),
        sha2(array_join(col("kept"), " "), 256).as("cleaned_sha"))
  }

  /** Anchor-text term aggregation per TARGET host (q139): the classic
    * web-search relevance signal — what the web calls a page is the text
    * of the links pointing at it. Consumes the q136 link frame: absolute
    * hrefs host-normalize exactly like [[urlHosts]] (lowercase, strip a
    * leading `www.`); relative links (no host) carry no cross-site signal
    * and drop; anchors lowercase and split on whitespace. The only
    * shuffle is the (host, term) aggregation with map-side partials —
    * terms explode map-side and collapse to |hosts|x|vocab| keys per
    * partition, so at 100 TB the exchange carries aggregated short pairs,
    * never the link list.
    */
  def anchorTerms(links: DataFrame): DataFrame =
    links
      .withColumn("host",
        hostOf(col("href")))
      .filter(col("host") =!= "")
      .select(col("host"), col("doc_id"),
        explode(split(lower(col("anchor")), "\\s+")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("host"), col("term"))
      .agg(
        count(lit(1)).as("n_mentions"),
        countDistinct(col("doc_id")).as("n_source_docs"))

  /** q152: unified outlink surface — the HTML (q136) and markdown (q151)
    * link frames share one schema by design; union them under a family
    * tag and roll up per (host, family), with relative links kept in an
    * explicit `(relative)` bucket (q139 DROPS them — this is the census
    * view, that is the signal view). One partial-agg exchange over the
    * union; the two extractions stay narrow flatMaps.
    */
  def linkSurface(htmlLinks: DataFrame, mdLinks: DataFrame): DataFrame =
    htmlLinks.withColumn("family", lit("html"))
      .unionByName(mdLinks.withColumn("family", lit("markdown")))
      .withColumn("host",
        hostOf(col("href")))
      .withColumn("host",
        when(col("host") === "", lit("(relative)")).otherwise(col("host")))
      .groupBy(col("host"), col("family"))
      .agg(
        count(lit(1)).as("n_links"),
        countDistinct(col("doc_id")).as("n_docs"))

  /** q159: URL canonicalization — the crawl-frontier dedup move: drop
    * the fragment, lowercase scheme+host, strip the scheme's default
    * port (:443/:80), strip one trailing slash off a non-root path, drop
    * `utm_*` tracking params and SORT the rest — so syntactic variants
    * of one resource share a canonical key before frontier dedup.
    * Relative hrefs (no scheme) keep their host part empty and get the
    * same path/query treatment. Pure narrow projection over the link
    * frame: structured string surgery in column expressions, zero
    * exchanges; the oracle runs the SAME steps in DuckDB SQL.
    */
  def canonicalUrls(links: DataFrame): DataFrame = {
    val noFrag = substring_index(col("href"), "#", 1)
    val base = substring_index(noFrag, "?", 1)
    val query = when(instr(noFrag, "?") > 0,
      expr("substring(substring_index(href, '#', 1), instr(substring_index(href, '#', 1), '?') + 1)"))
      .otherwise(lit(""))
    val hostPart = regexp_extract(base, "^(https?://[^/]+)", 1)
    val rest = expr("substring(substring_index(substring_index(href, '#', 1), '?', 1), length(regexp_extract(substring_index(substring_index(href, '#', 1), '?', 1), '^(https?://[^/]+)', 1)) + 1)")
    val hostL = lower(hostPart)
    val hostCanon = when(hostL.startsWith("https://"), regexp_replace(hostL, ":443$", ""))
      .otherwise(regexp_replace(hostL, ":80$", ""))
    val pathCanon = when(length(rest) > 1 && rest.endsWith("/"),
      expr("substring(rest_c, 1, length(rest_c) - 1)")).otherwise(col("rest_c"))
    links
      .withColumn("rest_c", rest)
      .withColumn("params_c",
        array_sort(filter(split(query, "&"),
          p => p =!= "" && !p.startsWith("utm_"))))
      .withColumn("canon_url",
        concat(hostCanon, pathCanon,
          when(size(col("params_c")) > 0,
            concat(lit("?"), array_join(col("params_c"), "&"))).otherwise(lit(""))))
      .select(col("doc_id"), col("link_idx"), col("href"), col("canon_url"))
  }

  /** q160: canonical frontier groups — the payoff of [[canonicalUrls]]:
    * links grouped by canonical key with reference and distinct-raw-form
    * counts; `merged` groups (n_raw_forms > 1) are exactly the fetches a
    * naive raw-URL frontier would duplicate. One (canon_url) partial-agg
    * exchange; the distinct-raw count rides Spark's Expand rewrite.
    */
  def canonGroups(links: DataFrame): DataFrame =
    canonicalUrls(links)
      .groupBy(col("canon_url"))
      .agg(
        count(lit(1)).as("n_refs"),
        countDistinct(col("href")).as("n_raw_forms"))
      .withColumn("merged", col("n_raw_forms") > 1L)

  /** Minimum mean quality logit (x100) for a reputable host — corpus
    * policy set where the planted host-mean spectrum (188,990-218,114
    * x100 at verify scale) actually splits; production would learn it.
    */
  val HostReputationThresholdX100 = 190000L

  /** q157: host reputation — the RefinedWeb-style DOMAIN-level quality
    * signal: every doc's exact integer quality logit attributed to each
    * host it cites (distinct per doc), rolled to a per-host mean in
    * exact fixed point. A host cited mostly by junk is a junk host, even
    * before its own pages are fetched.
    *
    * Scale shape: URLs explode map-side; the per-doc distinct is the
    * (doc, host) dedup BEFORE the host rollup, so the two exchanges
    * carry (host, doc, logit) triples and |hosts| aggregates — text
    * never shuffles.
    */
  def hostQuality(docs: DataFrame): DataFrame =
    TextOps.withLogit(docs)
      .select(col("doc_id"), col("logit"),
        explode(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).as("url"))
      .withColumn("host",
        hostOf(col("url")))
      .select(col("doc_id"), col("logit"), col("host")).distinct()
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_docs"), sum(col("logit")).as("sum_logit"))
      .withColumn("mean_logit_x100", expr("(sum_logit * 100) div n_docs"))
      .withColumn("reputable",
        col("mean_logit_x100") >= HostReputationThresholdX100)
      .drop("sum_logit")

  /** q158: reputation filter — drop documents citing any DISREPUTABLE
    * host (per [[hostQuality]]): the domain-level cascade RefinedWeb
    * applies after page-level gates. Emits every doc with its citation
    * counts and the keep verdict, so the oracle checks both regimes.
    * The bad-host list is |hosts|-bounded and broadcast; the per-doc
    * join carries (doc, host) pairs only.
    */
  def reputationFilter(docs: DataFrame): DataFrame = {
    val bad = hostQuality(docs)
      .filter(!col("reputable")).select(col("host"))
    val docHosts = docs
      .select(col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).as("url"))
      .withColumn("host",
        hostOf(col("url")))
      .select(col("doc_id"), col("host")).distinct()
    val perDoc = docHosts
      .join(broadcast(bad.withColumn("is_bad", lit(1L))), Seq("host"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hosts"),
        sum(coalesce(col("is_bad"), lit(0L))).as("n_bad"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hosts"), lit(0L)).as("n_hosts"),
        coalesce(col("n_bad"), lit(0L)).as("n_bad"))
      .withColumn("keep", col("n_bad") === 0L)
  }

  /** Keywords kept per host by [[anchorKeywords]]. */
  val AnchorTopK = 5

  /** q148: per-host anchor KEYWORDS — the q139 term rollup ranked by
    * exact-integer TF-IDF where each HOST is the "document": idf_bits =
    * floor(log2(n_hosts·10⁴ div df)) via unpadded binary length (the q86
    * whole-bit recipe — no float log), score = tf · idf_bits, top-K per
    * host by (score desc, term asc). "What the web calls this host",
    * with navigation boilerplate ('home') idf-suppressed.
    *
    * Scale shape: everything past [[anchorTerms]]' aggregation operates
    * on the BOUNDED (host, term) frame — df and the host count are
    * broadcast back (one small join + a 1-row crossJoin, no driver
    * collect), and the top-K window partitions that bounded frame only.
    */
  def anchorKeywords(links: DataFrame, topK: Int = AnchorTopK): DataFrame = {
    val terms = anchorTerms(links)
      .select(col("host"), col("term"), col("n_mentions").as("tf"))
    val nHosts = terms.agg(countDistinct(col("host")).as("n_hosts"))
    val dfTerm = terms.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("host"))
      .orderBy(col("score").desc, col("term").asc)
    terms
      .join(broadcast(dfTerm), "term")
      .crossJoin(broadcast(nHosts))
      .withColumn("idf_bits",
        expr("cast(length(conv((n_hosts * 10000) div df, 10, 2)) - 1 as bigint)"))
      .withColumn("score", expr("tf * idf_bits"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= topK)
      .select(col("host"), col("term"), col("tf"), col("idf_bits"),
        col("score"), col("rn"))
  }

  /** URL extraction + host normalization + host-level rollup: lowercase
    * host, strip a leading `www.`, then count URLs and distinct docs per
    * host. The only shuffle is the (host) aggregation — map-side partial
    * aggregation reduces it to |hosts| keys per partition.
    */
  def urlHosts(docs: DataFrame): DataFrame =
    docs
      .select(
        col("doc_id"),
        explode(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).as("url"))
      .withColumn(
        "host",
        hostOf(col("url")))
      .groupBy(col("host"))
      .agg(
        count(lit(1)).as("n_urls"),
        countDistinct(col("doc_id")).as("n_docs"))

  /** Per-host scorecard (q178): the cross-family rollup a crawl
    * operator reads before allocating budget — citation counts (q62),
    * mean page-quality logit + the reputation verdict (q157), and the
    * co-link PageRank (q85), one row per cited host. Composes the
    * EXISTING builders, so the scorecard cannot drift from the queries
    * it summarizes; hosts absent from the link graph carry rank 0
    * (left join), matching "no inbound evidence".
    *
    * Scale shape: all three components aggregate to host-keyed frames
    * (bounded by the host domain, not the corpus) before the joins; the
    * corpus text is scanned by the component pipelines and never joined
    * raw.
    */
  def hostScorecard(docs: DataFrame): DataFrame =
    urlHosts(docs)
      .join(hostQuality(docs).select(col("host"), col("mean_logit_x100"), col("reputable")),
        Seq("host"))
      .join(hostRank(docs).select(col("host"), col("rank_x1e12")), Seq("host"), "left")
      .select(col("host"), col("n_urls"), col("n_docs"), col("mean_logit_x100"),
        col("reputable"), coalesce(col("rank_x1e12"), lit(0L)).as("rank_x1e12"))

  /** PageRank iterations / fixed-point scale for [[hostRank]]. */
  val RankIters = 5
  val RankScale = 1000000000000L // 1e12: rank_x1e12 integer fixed point

  /** Host co-link edges: within each doc's ordered URL-host sequence, the
    * FIRST host (the page's canonical site) links to each DISTINCT later
    * host; self-loops dropped, global edge set deduplicated. Same
    * UrlRe/HostRe normalization as q62.
    */
  def hostEdges(docs: DataFrame): DataFrame =
    docs
      .withColumn("hosts", transform(
        regexp_extract_all(col("text"), lit(UrlRe), lit(0)),
        u => regexp_replace(lower(regexp_extract(u, HostRe, 1)), "^www\\.", "")))
      .filter(size(col("hosts")) >= 2)
      .select(
        element_at(col("hosts"), 1).as("src"),
        explode(array_distinct(slice(col("hosts"), lit(2), size(col("hosts")) - 1))).as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()

  /** Exact fixed-point PageRank over the host graph (damping 0.85,
    * [[RankIters]] rounds): r' = base·15 div 100 + 85·Σ(r(v) div deg(v))
    * div 100 — every step is integer floor division on non-negative
    * longs, so engine and DuckDB agree bit-for-bit and partial-agg order
    * cannot change results. Dangling hosts keep the teleport term only
    * (leaked mass is not redistributed — deterministic variant, same on
    * both sides).
    *
    * Scale shape: edges are cached pre-partitioned by src; ranks stay a
    * node-keyed DataFrame (never collected — at web scale the host set is
    * millions of rows), each round is one equi-join + one dst-keyed
    * aggregation, and localCheckpoint bounds the plan per round exactly
    * like `DedupOps.clusterEdges`.
    */
  def hostRank(docs: DataFrame, iters: Int = RankIters): DataFrame = {
    val edges = hostEdges(docs).repartition(col("src")).persist()
    val nodes = edges.select(col("src").as("host"))
      .union(edges.select(col("dst"))).distinct().persist()
    try {
      val n = nodes.count()
      if (n == 0) nodes.withColumn("rank_x1e12", lit(0L))
      else {
        val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        val base = RankScale / n
        var ranks = nodes.withColumn("rank", lit(base))
        var r = 0
        while (r < iters) {
          val contrib = edges
            .join(deg, "src")
            .join(ranks.withColumnRenamed("host", "src")
              .withColumnRenamed("rank", "src_rank"), "src")
            .select(col("dst").as("host"), expr("src_rank div deg").as("c"))
            .groupBy(col("host")).agg(sum(col("c")).as("s"))
          ranks = nodes.join(contrib, Seq("host"), "left")
            .select(col("host"),
              (lit(base * 15L / 100L) + expr("(85 * coalesce(s, 0L)) div 100")).as("rank"))
            .localCheckpoint()
          r += 1
        }
        ranks.select(col("host"), col("rank").as("rank_x1e12"))
      }
    } finally {
      edges.unpersist()
      nodes.unpersist()
    }
  }

  /** Total page budget for [[crawlBudget]]. */
  val CrawlBudget = 100000L

  /** q144: crawl-budget apportionment — a fixed page budget split across
    * hosts PROPORTIONAL to PageRank by the largest-remainder (Hamilton)
    * method, all in exact integers: `base = budget·rank div total`, the
    * `budget − Σ base` leftover seats going to the largest remainders
    * (host asc on ties). Σ alloc == budget EXACTLY — the frontier
    * scheduler can bank on it. budget·rank ≤ 10⁵·10¹² stays in BIGINT.
    *
    * Scale shape: ranks stay a host-keyed frame; the two scalars (rank
    * total, leftover) ride as broadcast 1-row crossJoins (the q110
    * discipline — no driver collect). The remainder ranking is the
    * `RelationalOps.twoPhaseGlobal` range-partitioned rank — never an
    * unpartitioned window: |hosts| is corpus-policy-bounded but still
    * 10⁷–10⁸ at web scale, too many for one task.
    */
  def crawlBudget(docs: DataFrame, budget: Long = CrawlBudget): DataFrame = {
    val ranks = hostRank(docs)
    val tot = ranks.agg(sum(col("rank_x1e12")).as("total_rank"))
    val based = ranks.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($budget * rank_x1e12) div total_rank"))
      .withColumn("rem", expr(s"($budget * rank_x1e12) % total_rank"))
    val leftover = based.agg((lit(budget) - sum(col("base"))).as("leftover"))
    RelationalOps.twoPhaseGlobal(based.crossJoin(broadcast(leftover)),
        Seq(col("rem").desc, col("host").asc), lit(1L), row_number(), "pos")
      .withColumn("alloc",
        col("base") + when(col("pos") <= col("leftover"), 1L).otherwise(0L))
      .select(col("host"), col("rank_x1e12"), col("base"), col("alloc"))
  }

  /** Per-host page cap for [[politeCrawlSchedule]] — corpus policy set
    * where the planted rank spectrum actually caps (one dominant host at
    * verify scale; production derives it from crawl-delay budgets).
    */
  val PolitenessCapPages = 8000L

  /** q164: politeness-capped crawl schedule — [[crawlBudget]]'s
    * apportionment with a per-host page CAP: capped hosts forfeit their
    * surplus, which redistributes ONE round to uncapped hosts
    * rank-proportionally (largest remainder again); a redistribution
    * that itself overflows the cap is clipped and the residue stays
    * UNALLOCATED (single-round by contract — iterating to fixpoint
    * would be driver-unbounded; the residue is surfaced, not hidden).
    * Σ final_alloc ≤ budget always.
    *
    * Scale shape: q144's shape + two more broadcast 1-row scalars
    * (surplus, open rank mass) and one more `RelationalOps.twoPhaseGlobal`
    * range-partitioned rank (never an unpartitioned window).
    */
  def politeCrawlSchedule(docs: DataFrame, budget: Long = CrawlBudget,
      cap: Long = PolitenessCapPages): DataFrame = {
    val a1 = crawlBudget(docs, budget)
      .withColumn("alloc1", least(col("alloc"), lit(cap)))
      .withColumn("was_capped", col("alloc") > cap)
    val tot = a1.agg(
      sum(col("alloc") - col("alloc1")).as("surplus"),
      sum(when(!col("was_capped"), col("rank_x1e12")).otherwise(0L)).as("open_rank"))
    val b = RelationalOps.twoPhaseGlobal(
      a1.crossJoin(broadcast(tot))
        .withColumn("extra_base",
          when(col("was_capped") || col("open_rank") === 0L, 0L)
            .otherwise(expr("(surplus * rank_x1e12) div open_rank")))
        .withColumn("extra_rem",
          when(col("was_capped") || col("open_rank") === 0L, -1L)
            .otherwise(expr("(surplus * rank_x1e12) % open_rank"))),
      Seq(col("extra_rem").desc, col("host").asc), lit(1L), row_number(), "pos")
    val seats = b.agg((max(col("surplus")) - sum(col("extra_base"))).as("seats"))
    b.crossJoin(broadcast(seats))
      .withColumn("extra",
        when(col("was_capped"), 0L)
          .otherwise(col("extra_base") +
            when(col("pos") <= col("seats"), 1L).otherwise(0L)))
      .withColumn("final_alloc", least(col("alloc1") + col("extra"), lit(cap)))
      .select(col("host"), col("alloc"), col("was_capped"), col("final_alloc"))
  }

  /** HITS iterations / fixed-point scale for [[hostHits]]. The scale is
    * 1e6 (not 1e12) because each un-normalized step multiplies a score by
    * the scale before the floor division: raw ≤ scale·deg, raw·scale must
    * stay in BIGINT on both engines — 1e6 bounds it at 1e12·deg, safe to
    * ~9×10⁶-degree hubs (document the HUGEINT/decimal upgrade past that).
    */
  val HitsIters = 8
  val HitsScale = 1000000L

  /** Exact fixed-point HITS (hubs & authorities) over the host co-link
    * graph: `auth'(v) = Σ_{(u,v)} hub(u)`, `hub'(u) = Σ_{(u,v)} auth'(v)`,
    * each half-step L1-normalized to sum ≈ [[HitsScale]] by integer floor
    * division (`x·scale div total`) — every operation is floor division
    * or an associative integer sum on non-negative longs, so engine and
    * DuckDB agree bit-for-bit at any parallelism, like [[hostRank]].
    *
    * Scale shape: edges cached pre-partitioned by src; hub/auth frames
    * stay node-keyed DataFrames (never collected); the per-step total is
    * a 1-row aggregate crossJoined back as a broadcast, NOT a driver
    * scalar; localCheckpoint bounds per-round plan growth.
    */
  def hostHits(docs: DataFrame, iters: Int = HitsIters): DataFrame = {
    // BOTH orientations are cached: the auth half-step joins on src, the
    // hub half-step on dst — one orientation would re-shuffle the whole
    // edge set every round on the other side (O(E) per round at scale)
    val edges = hostEdges(docs).repartition(col("src")).persist()
    val edgesByDst = edges.repartition(col("dst")).persist()
    val nodes = edges.select(col("src").as("host"))
      .union(edges.select(col("dst"))).distinct().persist()
    try {
      val n = nodes.count()
      if (n == 0)
        nodes.withColumn("hub_x1e6", lit(0L)).withColumn("auth_x1e6", lit(0L))
      else {
        def normalized(raw: DataFrame): DataFrame = {
          // raw: (host, raw) over the TOUCHED nodes only, kept sparse
          // through the rounds — a zero-score host contributes nothing to
          // any downstream sum or total, so sparse frames are bit-equal
          // to the oracle's dense spread (zeros are restored once at the
          // end). The total rides back as a broadcast, never a driver
          // scalar.
          val tot = raw.agg(sum(col("raw")).as("tot"))
          raw.crossJoin(broadcast(tot))
            .select(col("host"),
              expr(s"(raw * ${HitsScale}L) div greatest(coalesce(tot, 0L), 1L)")
                .as("score"))
        }
        var hubs = nodes.withColumn("score", lit(HitsScale / n))
        var auths: DataFrame = null
        var r = 0
        while (r < iters) {
          // both half-steps stay in ONE plan per round; the single eager
          // localCheckpoint on the hub side cuts the lineage for both
          // (auth feeds hub), halving the per-round job launches
          auths = normalized(
            edges.join(
              hubs.select(col("host").as("src"), col("score").as("h")), "src")
              .groupBy(col("dst")).agg(sum(col("h")).as("raw"))
              .withColumnRenamed("dst", "host"))
          hubs = normalized(
            edgesByDst.join(
              auths.select(col("host").as("dst"), col("score").as("a")), "dst")
              .groupBy(col("src")).agg(sum(col("a")).as("raw"))
              .withColumnRenamed("src", "host"))
            .localCheckpoint()
          r += 1
        }
        // materialize the final auth half-step while edges are still
        // cached (the enclosing finally releases them), then spread both
        // score frames back over ALL nodes (zero-score hosts reappear)
        auths = auths.localCheckpoint()
        nodes
          .join(hubs, Seq("host"), "left")
          .select(col("host"), coalesce(col("score"), lit(0L)).as("hub_x1e6"))
          .join(
            nodes.join(auths, Seq("host"), "left")
              .select(col("host"),
                coalesce(col("score"), lit(0L)).as("auth_x1e6")),
            Seq("host"))
      }
    } finally {
      edges.unpersist()
      edgesByDst.unpersist()
      nodes.unpersist()
    }
  }

  /** q113: exact triangle count + local clustering coefficient per host
    * over the undirected co-link graph, via DEGREE-ORDERED EDGE
    * ORIENTATION (the node-iterator++ scheme; Schank–Wagner / Suri–
    * Vassilvitskii's MR variant): orient every undirected edge from the
    * endpoint that is lower in the total order π(h) = (degree, host)
    * toward the higher; enumerate wedges only at each edge's LOW
    * endpoint; close them against the oriented edge set.
    *
    * Why this is the 100 TB shape: naive wedge enumeration explodes
    * Σ deg(v)² — a single celebrity host with 10⁷ neighbors generates
    * 10¹⁴ wedges. Orientation caps every out-degree at O(√|E|)
    * (a node can only beat its ~√m highest-degree neighbors), so the
    * wedge join is Σ outdeg(v)² ≤ O(|E|^1.5) with NO skew hotspot, each
    * triangle is generated exactly once (from its lowest-order corner),
    * and both joins are plain equi-joins (u; then (x,y)) — no cartesian,
    * no broadcast of anything data-sized. Degrees/clustering are exact
    * integers, so the DuckDB oracle re-derives every row bit-for-bit.
    *
    * Output per host: undirected degree, triangles through the host, and
    * clustering coefficient = 2·T/(deg·(deg−1)) in x10000 fixed point.
    */
  def hostTriangles(docs: DataFrame): DataFrame = {
    val und = undirectedHostEdges(docs)
    val deg = hostDegrees(und)
    val ori = orientEdges(und, deg).persist()
    // materialize while `ori` is still cached (finally unpersists)
    try triangleStats(ori, deg).localCheckpoint()
    finally ori.unpersist()
  }

  /** Canonical (a < b) deduplicated undirected co-link edges. */
  private[graft] def undirectedHostEdges(docs: DataFrame): DataFrame =
    hostEdges(docs)
      .select(
        least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .distinct()

  /** Undirected degree per host. */
  private[graft] def hostDegrees(und: DataFrame): DataFrame =
    und.select(col("a").as("host"))
      .unionAll(und.select(col("b").as("host")))
      .groupBy(col("host")).agg(count(lit(1)).as("deg"))

  /** Orient each edge from the lower endpoint in the total order
    * π(h) = (degree, host) toward the higher, carrying the HIGH
    * endpoint's degree for wedge ordering.
    */
  private[graft] def orientEdges(und: DataFrame, deg: DataFrame): DataFrame = {
    // canonical a < b, so the (deg, host) tie-break is simply a-first
    val lowFirst = col("da") < col("db") || (col("da") === col("db"))
    und
      .join(deg.select(col("host").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("host").as("b"), col("deg").as("db")), "b")
      .select(
        when(lowFirst, col("a")).otherwise(col("b")).as("u"),
        when(lowFirst, col("b")).otherwise(col("a")).as("v"),
        when(lowFirst, col("db")).otherwise(col("da")).as("dv"))
  }

  /** Wedge-enumerate at low endpoints, close once per triangle, roll up
    * per-host participation + clustering (lazy — [[hostTriangles]] adds
    * the cache/checkpoint lifecycle; `PlanShapeSpec` asserts this plan).
    */
  private[graft] def triangleStats(oriented: DataFrame, deg: DataFrame): DataFrame = {
    val wedges = oriented.select(col("u"), col("v").as("x"), col("dv").as("dx"))
      .join(oriented.select(col("u"), col("v").as("y"), col("dv").as("dy")), Seq("u"))
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
    val tri = wedges
      .join(oriented.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
    val part = tri
      .select(explode(array(col("u"), col("x"), col("y"))).as("host"))
      .groupBy(col("host")).agg(count(lit(1)).as("n_triangles"))
    deg.join(part, Seq("host"), "left")
      .select(
        col("host"),
        col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        expr("""CASE WHEN deg >= 2
                THEN (coalesce(n_triangles, 0L) * 20000L) div (deg * (deg - 1L))
                ELSE 0L END""").as("clustering_x10000"))
  }

  /** DuckDB CTE chain replicating [[hostHits]] exactly (same half-step
    * normalization order, same integer arithmetic). `h0` is the uniform
    * start; each round adds raw + normalized CTEs for auth then hub.
    */
  def duckdbHitsCtes(iters: Int, webDocsPath: String): String = {
    val b = new StringBuilder
    // every chain CTE is MATERIALIZED: each round references its raw CTE
    // twice (contribution join + scalar-subquery total), so DuckDB's
    // default inlining would expand the tree 2^iters-fold — at 8 rounds
    // that exhausts file handles on the base parquet scan (measured)
    b ++= s"""u AS MATERIALIZED (SELECT doc_id, regexp_extract_all(text, '$UrlRe') AS urls
             FROM read_parquet('$webDocsPath')),
      h AS MATERIALIZED (SELECT [regexp_replace(lower(regexp_extract(x, '$HostRe', 1)), '^www\\.', '') for x in urls] AS hosts
            FROM u WHERE len(urls) >= 2),
      e AS MATERIALIZED (SELECT DISTINCT hosts[1] AS src, d AS dst
            FROM (SELECT hosts, unnest(list_distinct(hosts[2:])) AS d FROM h) z
            WHERE hosts[1] <> d),
      nodes AS MATERIALIZED (SELECT DISTINCT host FROM (SELECT src AS host FROM e UNION ALL SELECT dst FROM e) q),
      params AS MATERIALIZED (SELECT $HitsScale // greatest(count(*), 1) AS base FROM nodes),
      h0 AS MATERIALIZED (SELECT host, base AS score FROM nodes, params)"""
    for (r <- 1 to iters) {
      b ++= s""",
      a${r}raw AS MATERIALIZED (SELECT e.dst AS host, SUM(hh.score) AS raw
                   FROM e JOIN h${r - 1} hh ON e.src = hh.host GROUP BY e.dst),
      a$r AS MATERIALIZED (SELECT n.host,
                     coalesce(ar.raw, 0) * $HitsScale // greatest((SELECT coalesce(sum(raw), 0) FROM a${r}raw), 1) AS score
              FROM nodes n LEFT JOIN a${r}raw ar USING (host)),
      h${r}raw AS MATERIALIZED (SELECT e.src AS host, SUM(aa.score) AS raw
                   FROM e JOIN a$r aa ON e.dst = aa.host GROUP BY e.src),
      h$r AS MATERIALIZED (SELECT n.host,
                     coalesce(hr.raw, 0) * $HitsScale // greatest((SELECT coalesce(sum(raw), 0) FROM h${r}raw), 1) AS score
              FROM nodes n LEFT JOIN h${r}raw hr USING (host))"""
    }
    b.toString
  }

  /** DuckDB CTE chain replicating [[hostRank]] exactly (same regexes,
    * same integer arithmetic, same LEFT JOIN contribution rounds) so the
    * oracle independently re-runs all iterations from raw text.
    */
  def duckdbRankCtes(iters: Int, webDocsPath: String): String = {
    val b = new StringBuilder
    b ++= s"""u AS (SELECT doc_id, regexp_extract_all(text, '$UrlRe') AS urls
             FROM read_parquet('$webDocsPath')),
      h AS (SELECT [regexp_replace(lower(regexp_extract(x, '$HostRe', 1)), '^www\\.', '') for x in urls] AS hosts
            FROM u WHERE len(urls) >= 2),
      e AS (SELECT DISTINCT hosts[1] AS src, d AS dst
            FROM (SELECT hosts, unnest(list_distinct(hosts[2:])) AS d FROM h) z
            WHERE hosts[1] <> d),
      deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
      nodes AS (SELECT DISTINCT host FROM (SELECT src AS host FROM e UNION ALL SELECT dst FROM e) q),
      params AS (SELECT $RankScale // greatest(count(*), 1) AS base FROM nodes),
      r0 AS (SELECT host, base AS rank FROM nodes, params)"""
    for (r <- 1 to iters) b ++= s""",
      r$r AS (SELECT n.host,
                     (SELECT base FROM params) * 15 // 100 + (85 * coalesce(c.s, 0)) // 100 AS rank
              FROM nodes n LEFT JOIN (
                SELECT e.dst AS host, SUM(rr.rank // d.deg) AS s
                FROM e JOIN r${r - 1} rr ON e.src = rr.host
                       JOIN deg d ON d.src = e.src
                GROUP BY e.dst) c USING (host))"""
    b.toString
  }
}
