package graft

import graft.ops.{RelationalOps, WebOps}
import graft.pipeline.Pipeline
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regressions: the properties that matter at 100 TB must
  * be visible in the plan, not assumed — broadcast for dimension joins,
  * column pruning into the parquet scan, top-k without a global sort,
  * and the extraction pipeline's single shuffle.
  */
class PlanShapeSpec extends AnyFunSuite with SparkSessionFixture.TempDirs {
  private lazy val spark = SparkSessionFixture.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("registry join broadcasts every dimension (no sort-merge shuffle)") {
    val p = plan(RelationalOps.q2RegistryJoin(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"dimension join fell back to SMJ:\n$p")
  }

  test("aggregation scan prunes to exactly the referenced columns") {
    val p = plan(RelationalOps.q1Agg(spark, dir))
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_returnflag:string,l_linestatus:string>"),
      s"scan should read 4 of 16 lineitem columns:\n$p")
  }

  test("top-k compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan(RelationalOps.q7TopK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("window top-per-key gets a partial WindowGroupLimit before the shuffle") {
    val p = plan(RelationalOps.q4WindowTopPerKey(spark, dir))
    assert(p.contains("WindowGroupLimit"), s"missing rank-limit pushdown:\n$p")
  }

  test("n-gram Jaccard candidates join on content-derived band keys, not length blocks") {
    val p = plan(graft.ops.DedupOps.ngramJaccardPairs(spark, dir))
    // the candidate self-join must be keyed by the MinHash band key — a
    // (lang, length-bucket)-only join is quadratic in the biggest block
    assert(p.contains("band_key"), s"candidate join lost the band-key blocking:\n$p")
  }

  test("L2 threshold-NN broadcasts the query set (no shuffled cartesian)") {
    val p = plan(graft.ops.SimilarityOps.l2NearestAccept(spark, dir))
    // tiny query side × corpus: must be a broadcast nested-loop, never a
    // CartesianProduct (which would shuffle the full corpus against itself)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), s"corpus-side cartesian:\n$p")
    // and the min_by must partially aggregate map-side before the shuffle
    // (min_by compiles to SortAggregate, so match the partial_ marker)
    assert(p.contains("partial_min"), s"no map-side partial aggregation:\n$p")
  }

  test("embedding near-dup self-join is a bucket equi-join, never all-pairs") {
    val p = plan(graft.ops.DedupOps.embeddingDupPairs(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"embedding dedup degenerated to an all-pairs join:\n$p")
    assert(p.contains("bucket"), s"hyperplane bucket key missing from the join:\n$p")
  }

  test("tuned LSH top-k keeps the broadcast bucket equi-join shape") {
    val p = plan(graft.ops.SimilarityOps.lshTopKTuned(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"bucketed query set not broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"tuned LSH probe degenerated to all-pairs:\n$p")
  }

  test("IVF top-k: probe set broadcast, scoring is an equi-join on cell id") {
    val p = plan(graft.ops.SimilarityOps.ivfTopK(spark, dir))
    // the only NLJ allowed is vectors × broadcast centroids (assignment);
    // query scoring must be the broadcast equi-join on the cell id
    assert(p.contains("BroadcastHashJoin"), s"probed query set not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus-side cartesian:\n$p")
  }

  test("ANN recall: hit-set intersections are broadcast joins, no SMJ, no cartesian") {
    val p = plan(graft.ops.SimilarityOps.annRecall(spark, dir))
    // exact/approx top-k sets are NQueries*k rows — joining them (and the
    // query-id left join) must never shuffle-sort the corpus side
    assert(p.contains("BroadcastHashJoin"), s"hit join not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"tiny metric join fell back to SMJ:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in recall plan:\n$p")
  }

  test("RAG chunking is a narrow explode: zero shuffles") {
    val p = plan(graft.ops.RagOps.chunkDocs(
      RelationalOps.table(spark, dir, "documents"), 32, 8))
    assert(p.contains("Generate"), s"expected the posexplode generate:\n$p")
    assert(!p.contains("Exchange"), s"chunking must not shuffle:\n$p")
  }

  test("RAG retrieval broadcasts query chunks; per-query top-k limits before the shuffle") {
    val p = plan(graft.ops.RagOps.retrieveChunks(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"), s"query chunks not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus-side cartesian:\n$p")
    assert(p.contains("WindowGroupLimit"), s"missing rank-limit pushdown:\n$p")
  }

  test("snapshot diff: anti join keyed on content sha; incremental extraction reads only the semi-joined delta") {
    val prev = graft.synth.SynthDataset.turns(spark, 20L)
    val next = graft.synth.SynthDataset.turns(spark, 22L)
    val p1 = plan(Pipeline.changedTurnKeys(prev, next))
    assert(p1.contains("LeftAnti"), s"diff must be an anti join:\n$p1")
    assert(p1.contains("content_sha"), s"anti join must key on the content hash:\n$p1")
    val p2 = plan(Pipeline.incrementalRun(spark, prev, Pipeline.run(spark, prev), next).toDF())
    assert(p2.contains("LeftSemi"),
      s"re-extraction input must be the semi-joined changed-key delta:\n$p2")
  }

  test("schema dispatch is a pure per-row projection: zero shuffles") {
    val p = plan(graft.ops.SchemaOps.classifyJson(
      graft.synth.JsonRecords.docs(spark, 50), "payload"))
    assert(!p.contains("Exchange"), s"classifyJson must not shuffle:\n$p")
  }

  test("canonical keep-set: hash-keyed agg with map-side partial min, no all-pairs") {
    val p = plan(graft.ops.DedupOps.canonicalDocs(spark, dir))
    assert(p.contains("content_hash"), s"keep-set must aggregate on the content hash:\n$p")
    assert(p.contains("partial_min"), s"keep-set agg lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"canonicalDocs degenerated to all-pairs:\n$p")
  }

  test("ad-hoc policy SQL: registry join broadcasts; LIMIT 50 is TakeOrderedAndProject") {
    val recs = graft.ops.ShredOps.structuredRecords(spark, 60L).toDF()
    val p = plan(graft.ops.SqlSurface.policySummary(spark, recs))
    assert(p.contains("BroadcastHashJoin"), s"doc_info join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"policy join fell back to SMJ:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top_k 50 fell back to a global sort:\n$p")
  }

  test("cross-family SQL: registry join broadcasts; LIMIT 50 is TakeOrderedAndProject") {
    val recs = graft.ops.ShredOps.structuredRecords(spark, 60L).toDF()
    val turns = graft.synth.SynthDataset.turns(spark, 40L)
    val p = plan(graft.ops.SqlSurface.crossFamilySummary(spark, dir, turns, recs))
    assert(p.contains("BroadcastHashJoin"), s"doc_info join must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top_k 50 fell back to a global sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"cross-family join degenerated:\n$p")
  }

  test("graph range query: sig-keyed traversal joins, no all-pairs, top_k 50 without global sort") {
    val recs = graft.ops.ShredOps.structuredRecords(spark, 60L).toDF()
    val p = plan(graft.ops.GraphSurface.rangeQuery(spark, recs))
    assert(!p.contains("CartesianProduct"),
      s"traversal degenerated to a cartesian:\n$p")
    assert(p.contains("parent_sig"), s"hop joins must key on parent_sig:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top_k 50 fell back to a global sort:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"traversal must read the MATERIALIZED graph, not re-run the build per hop:\n$p")
  }

  test("graph subtree rollup: sig-keyed hops, partial-agg rollup, no all-pairs") {
    val recs = graft.ops.ShredOps.structuredRecords(spark, 60L).toDF()
    val p = plan(graft.ops.GraphSurface.subtreeRollup(spark, recs))
    assert(!p.contains("CartesianProduct"), s"traversal degenerated to a cartesian:\n$p")
    assert(p.contains("parent_sig"), s"hop joins must key on parent_sig:\n$p")
    assert(p.contains("partial_count") || p.contains("partial count"),
      s"rollup lost map-side combine:\n$p")
    assert(p.contains("InMemoryTableScan") || p.contains("TableCacheQueryStage"),
      s"rollup must read the MATERIALIZED graph, not re-run the build per hop:\n$p")
  }

  test("wire-format statement rendering is a narrow projection (no exchange)") {
    val recs = graft.ops.ShredOps.structuredRecords(spark, 40L).toDF()
    val mat = graft.ops.ShredOps.shredMaterialUsage(recs)
    val p1 = plan(graft.ops.WireSinks.insertStatements("m", mat))
    assert(!p1.contains("Exchange"), s"INSERT rendering must add no shuffle:\n$p1")
  }

  test("vocab build: global top-V via TakeOrderedAndProject with partial counts") {
    val p = plan(graft.ops.TrainingOps.vocabBuild(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"top-V fell back to a global sort:\n$p")
    assert(p.contains("partial_count"), s"token counting lost map-side combine:\n$p")
  }

  test("sequence packing never funnels the corpus through one partition") {
    val p = plan(graft.ops.TrainingOps.packSequences(spark, dir))
    assert(!p.contains("Exchange SinglePartition"),
      s"global-window funnel in the packing plan:\n$p")
    assert(!p.contains("Window operation! Moving all data") && p.contains("Window"),
      s"expected a per-range-partition window:\n$p")
  }

  test("decontamination join stays an equi-join on the gram hash") {
    val p = plan(graft.ops.TrainingOps.decontaminate(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"contamination check degenerated to all-pairs:\n$p")
    assert(p.contains("gram"), s"gram key missing from the join:\n$p")
  }

  test("extraction pipeline: one (conv_id, salt) shuffle; no join, broadcast or agg") {
    val p = plan(Pipeline.run(spark, graft.synth.SynthDataset.turns(spark, 20L)).toDF())
    // the chunk salt reads only the row: the salted repartition is the
    // plan's one exchange, with no count pre-aggregation to join back
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"expected exactly the salted repartition ($exchanges):\n$p")
    assert("Exchange hashpartitioning\\(conv_id#\\d+, salt#\\d+L?,".r.findFirstIn(p).isDefined,
      s"the exchange must key on (conv_id, salt):\n$p")
    for (op <- Seq("Join", "BroadcastExchange", "Aggregate"))
      assert(!p.contains(op), s"unexpected $op in the pipeline plan:\n$p")
  }

  test("the lineage tap adds no exchange and no encoder round trip to run") {
    val turns = graft.synth.SynthDataset.turns(spark, 20L)
    val base = plan(Pipeline.run(spark, turns).toDF())
    val tapped = plan(Pipeline.runWithLineage(spark, turns, "plan")._1.toDF())
    for (op <- Seq("Exchange", "SerializeFromObject", "DeserializeToObject")) {
      val (b, t) = (op.r.findAllIn(base).size, op.r.findAllIn(tapped).size)
      assert(b > 0 && t == b, s"$op: run has $b, runWithLineage $t:\n$tapped")
    }
  }

  test("repetition stats and PII redaction are scan->project: zero shuffles") {
    // per-doc metrics must never shuffle — the explode+groupBy alternative
    // would move ~n_words rows per doc for a per-row statistic
    val p1 = plan(WebOps.repetitionStats(spark, dir))
    assert(!p1.contains("Exchange"), s"repetitionStats shuffles:\n$p1")
    val p2 = plan(WebOps.piiRedact(graft.synth.WebDocs.docs(spark, 100)))
    assert(!p2.contains("Exchange"), s"piiRedact shuffles:\n$p2")
  }

  test("embedding near-dup: vectors never ride the bucket fan-out; pair dedup carries bare ids") {
    import graft.ops.DedupOps
    val p = plan(DedupOps.embeddingDupPairs(spark, dir,
      DedupOps.VerifyEmbDupThresholdX10000, DedupOps.VerifyEmbDupPlanes))
    // the posexplode fanning each vector into L (t,bucket) rows must
    // retain ONLY vec_id — retaining the vector would move it L× through
    // the candidate exchange/broadcast (the shape this design eliminates)
    val gens = p.linesIterator.filter(_.contains("posexplode")).toSeq
    assert(gens.nonEmpty, p)
    gens.foreach(g =>
      assert(!g.matches(".*embedding#\\d+[^\\[]*\\], false.*"),
        s"vector retained through the bucket fan-out:\n$g"))
    // the candidate pairs dedupe on bare (vec_a, vec_b) BEFORE the
    // embedding fetch: an id-keyed dedup aggregate whose line carries no
    // cosine column. (The post-threshold output dedup also groups on the
    // ids but its row includes cosine_x10000 — it must not satisfy this.)
    val idOnlyDedup = p.linesIterator.exists(l =>
      l.contains("HashAggregate(keys=[vec_a#") && !l.contains("cosine"))
    assert(idOnlyDedup, s"missing the pre-fetch bare-id pair dedup:\n$p")
  }

  test("persisted repartition partitioning survives into a join (clusterEdges invariant)") {
    // clusterEdges caches the edge list as repartition(doc_a).persist so
    // every propagation round joins WITHOUT re-shuffling the edges; this
    // pins the Spark behavior that makes that work (InMemoryTableScan
    // preserves outputPartitioning — localCheckpoint does NOT)
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    try {
      val edges = spark.range(500).select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
        .repartition(col("doc_a")).persist()
      edges.count()
      val labels = spark.range(500).select(col("id").as("doc_id"), col("id").as("label"))
      val p = plan(edges.join(labels, edges("doc_a") === labels("doc_id")))
      edges.unpersist(blocking = false)
      // exactly ONE requirement-driven exchange: the labels side. (The
      // REPARTITION_BY_COL exchange inside the cached subtree is the
      // one-time edge shuffle, not a per-join cost.)
      val ensures = "Exchange hashpartitioning[^\\n]*ENSURE_REQUIREMENTS".r.findAllIn(p).size
      assert(ensures == 1, s"edge side re-shuffled despite cached partitioning:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed join partition at runtime (skew=true in the final plan)") {
    // salting (Pipeline.salted) handles the KNOWN skew axis; this pins the
    // runtime safety net for UNKNOWN skew — AQE's OptimizeSkewedJoin must
    // actually engage on this Spark build when a join partition blows past
    // the threshold
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", -1) // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // one hot key carrying ~90% of the left side
      val left = spark.range(40000)
        .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          concat(lit("payload-payload-payload-"), col("id")).as("v"))
      val right = spark.range(200).select(col("id").as("k"), col("id").as("w"))
      val j = left.join(right, "k")
      // materialize THIS dataset (count() would build a separate query
      // execution and leave j's adaptive plan unfinalized)
      assert(j.collect().length > 30000)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        s"AQE skew-join did not engage on the hot key:\n${p.take(4000)}")
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("mixture sample: bounded source agg with partials, broadcast fractions, no SMJ") {
    val p = plan(graft.ops.TrainingOps.mixtureSample(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"fractions must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not shuffle for the join:\n$p")
    assert(p.contains("partial_sum"), s"source totals lost map-side combine:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("kmv sketch: partial WindowGroupLimit bounds the shuffle to k rows per group") {
    val p = plan(graft.ops.RelationalOps.kmvDistinct(spark, dir))
    assert(p.contains("WindowGroupLimit"),
      s"k-smallest must group-limit BEFORE the exchange (sketch bound):\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("asof join: one user-keyed window, NO join operator, no cartesian") {
    val p = plan(graft.ops.RelationalOps.asofJoin(spark, dir))
    assert(!p.contains("Join"), s"asof must be a window carry, not a join:\n$p")
    assert(p.sliding("Exchange".length).count(_ == "Exchange") == 1,
      s"asof must shuffle exactly once (user-keyed window):\n$p")
  }

  test("funnel: sequential pattern match costs ONE user-keyed Exchange, no join") {
    val p = plan(graft.ops.RelationalOps.funnel(spark, dir))
    assert(p.sliding("Exchange".length).count(_ == "Exchange") == 1,
      s"funnel must shuffle exactly once (user-keyed window + subset-clustered rollup):\n$p")
    assert(!p.contains("Join"), s"funnel must not join:\n$p")
  }

  test("range followups: bucketed EQUI-join, never a cartesian or NLJ") {
    val p = plan(graft.ops.RelationalOps.rangeFollowups(spark, dir))
    assert(!p.contains("CartesianProduct"), s"range join degenerated:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to NLJ — bucket keys lost:\n$p")
    assert(p.contains("bucket"), s"join must key on the time bucket:\n$p")
  }

  test("temperature mix: totals broadcast; only the bounded source agg shuffles") {
    val p = plan(graft.ops.TrainingOps.temperatureMix(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"totals row must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"totals join fell back to SMJ:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("epoch schedule: totals broadcast; only the bounded source agg shuffles") {
    val p = plan(graft.ops.TrainingOps.epochSchedule(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"totals row must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"schedule must stay broadcast-shaped:\n$p")
  }

  test("cluster-balanced sample: vectors never shuffle; fractions broadcast") {
    val p = plan(graft.ops.TrainingOps.clusterBalancedSample(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"cell fractions must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"vectors must not shuffle for the join:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("bm25: df broadcast, candidate filter before the join, top-k without global sort") {
    val p = plan(graft.ops.TextOps.bm25TopK(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"df must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a global sort:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("phrase query: contains() prunes before the explode, top-k without global sort") {
    val p = plan(graft.ops.TextOps.phraseQuery(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a global sort:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Contains"), s"candidate-doc prefilter missing:\n$p")
    // the adjacency join must key on (doc_id, position), never broadcast
    // the full postings of a frequent term as a nested loop
    assert(!p.contains("BroadcastNestedLoopJoin"), s"adjacency degenerated to NLJ:\n$p")
  }

  test("priority sample: global bottom-k is TakeOrderedAndProject, not a sort") {
    val p = plan(graft.ops.TrainingOps.prioritySample(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"bottom-k fell back to a global sort:\n$p")
  }

  test("stratified sample is a pure projection+filter: zero shuffles") {
    val p = plan(graft.ops.TrainingOps.stratifiedSample(spark, dir))
    assert(!p.contains("Exchange"), s"stratifiedSample shuffles:\n$p")
  }

  test("token encoding never shuffles the corpus: vocab is broadcast as one map row") {
    val p = plan(graft.ops.TrainingOps.encodeDocs(spark, dir))
    // allowed exchanges: the top-V vocab build (partial/final token counts
    // + its single-row collapse) — never a corpus-keyed hashpartitioning
    assert(p.contains("BroadcastNestedLoopJoin"), s"vocab map not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus-side join fell back to SMJ:\n$p")
    val corpusExchanges = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(corpusExchanges == 0, s"encode shuffles the corpus:\n$p")
  }

  test("LM surprise never shuffles the scored corpus: LM is broadcast as one map row") {
    val p = plan(graft.ops.TextOps.lmSurprise(spark, dir))
    // allowed exchanges: the train-side token count agg + its single-row
    // collapses — never a corpus/doc-keyed hashpartitioning (the
    // explode+join alternative would shuffle one row per corpus token)
    assert(p.contains("BroadcastNestedLoopJoin"), s"LM map not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"scoring fell back to SMJ:\n$p")
    val corpusExchanges = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(corpusExchanges == 0, s"lmSurprise shuffles the corpus:\n$p")
  }

  test("semDedup: within-cell pairing joins on the cell key; never an all-pairs corpus join") {
    val p = plan(graft.ops.DedupOps.semDedup(spark, dir))
    // the only nested-loop joins are the broadcast centroid fan-outs
    // (assignCells / cent-cos scoring); corpus x corpus must equi-join on
    // the cell id, never a CartesianProduct
    assert(!p.contains("CartesianProduct"), s"corpus-side cartesian:\n$p")
    assert("hashpartitioning\\(cell".r.findFirstIn(p).isDefined
      || "SortMergeJoin \\[cell".r.findFirstIn(p).isDefined,
      s"within-cell pairing lost the cell equi-join:\n$p")
  }

  test("curation funnel: broadcast balance bound; no sort-merge join anywhere") {
    val p = plan(graft.ops.CurationOps.curationFunnel(spark, dir))
    assert(!p.contains("SortMergeJoin"),
      s"the only join is the broadcast min-class bound:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    // the scan feeding the flags must prune to the referenced columns
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"funnel scan should read exactly (doc_id, text):\n$p")
  }

  test("vocab drift: top-K movers via TakeOrderedAndProject, no global sort") {
    val a = graft.synth.SynthDataset.turns(spark, 20L).toDF()
    val b = graft.synth.SynthDataset.turns(spark, 25L).toDF()
    val p = plan(graft.ops.TranscriptOps.vocabDrift(a, b))
    assert(p.contains("TakeOrderedAndProject"), s"top-K must not global-sort:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("host scorecard: host-keyed joins of bounded frames; no cartesian") {
    val p = plan(graft.ops.WebOps.hostScorecard(graft.synth.WebDocs.docs(spark, 40L)))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!"Exchange hashpartitioning\\(text".r.findFirstIn(p).isDefined,
      s"raw text must never be a join/shuffle key:\n$p")
  }

  test("ivf index scan: probing prunes parquet partitions at the scan") {
    val base = tempDir("graft-ivf-idx-plan").toString
    val p = plan(graft.ops.SimilarityOps.ivfIndexedTopK(spark, dir, base))
    // the probed-cell filter must reach the index scan as a PARTITION
    // filter (the directories are the index structure), not a row filter
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
      s"probe set did not prune index partitions:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("pdf producer dedup: one sha-keyed partial-agg exchange, no join") {
    val p = plan(graft.SparkEntry.queries("q193_pdf_producer_dedup")(spark, dir))
    assert("(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"expected only the content-hash aggregation exchange:\n$p")
    assert(!p.contains("Join"), s"dedup must aggregate, not join:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_min"),
      s"missing map-side partial agg:\n$p")
  }

  test("pdf rasterization: a narrow per-doc flatMap — zero exchanges, zero joins") {
    val p = plan(graft.SparkEntry.queries("q195_pdf_rasterize")(spark, dir))
    assert(!p.contains("Exchange"), s"rasterization must stay narrow:\n$p")
    assert(!p.contains("Join"), s"no join belongs here:\n$p")
  }

  test("pdf container extraction: a narrow per-doc map — zero exchanges, zero joins") {
    val p = plan(graft.SparkEntry.queries("q192_pdf_container")(spark, dir))
    assert(!p.contains("Exchange"), s"container extraction must stay narrow:\n$p")
    assert(!p.contains("Join"), s"no join belongs here:\n$p")
  }

  test("quantized ivf index scan: probing prunes the CODE index partitions at the scan") {
    val base = tempDir("graft-ivf-q-plan").toString
    val p = plan(graft.ops.SimilarityOps.ivfQuantizedIndexTopK(spark, dir, base))
    // same pruning contract as q185, now over the 4x-smaller code pages
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(p).isDefined,
      s"probe set did not prune index partitions:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("cell outliers: histogram thresholds broadcast; no per-cell rank window on the corpus") {
    val p = plan(graft.ops.SimilarityOps.cellOutliers(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"threshold join must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("cell topics: vocab-df and size joins broadcast; no cartesian") {
    val p = plan(graft.ops.SimilarityOps.cellTopicCards(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"cell-df must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("hard negatives: broadcast probe join on the cell key; never all-pairs") {
    val p = plan(graft.ops.SimilarityOps.hardNegatives(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"probed anchors must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no corpus cartesian:\n$p")
  }

  test("source dup matrix: hash-keyed self-join of 32-byte rows; text never shuffles") {
    val d0 = spark.read.parquet(s"$dir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("text"),
        org.apache.spark.sql.functions.col("source"))
    val p = plan(graft.ops.DedupOps.crossSourceDups(d0))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!"Exchange hashpartitioning\\(text".r.findFirstIn(p).isDefined,
      s"text must never be a shuffle key:\n$p")
  }

  test("salted join: the shuffle join keys on (conv_id, salt) — hot keys spread") {
    val p = plan(graft.pipeline.Pipeline.saltedDimJoin(
      graft.synth.SynthDataset.turns(spark, 30L)))
    assert(p.contains("SortMergeJoin"), s"salted join must shuffle, not broadcast:\n$p")
    assert("SortMergeJoin \\[conv_id[^\\]]*salt".r.findFirstIn(p).isDefined,
      s"salt missing from the join key:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
  }

  test("mergeUpsert: key-hash equi-joins only; turn text never crosses an exchange") {
    val turns = graft.synth.SynthDataset.turns(spark, 30L)
    val dels = turns.toDF().limit(5).select(
      org.apache.spark.sql.functions.col("conv_id"),
      org.apache.spark.sql.functions.col("turn_idx"))
    val p = plan(Pipeline.mergeUpsert(turns, turns, dels))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!"Exchange hashpartitioning\\(text".r.findFirstIn(p).isDefined,
      s"turn text must never be a shuffle key:\n$p")
  }

  test("dehyphenate: one narrow codegen'd projection — no shuffle, no join, no typed map") {
    val p = plan(graft.ops.TextOps.dehyphenate(graft.synth.HyphenDocs.docs(spark, 50L)))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"dehyphenation must stay narrow:\n$p")
  }

  test("nfc audit: one narrow typed map — no shuffle, no join") {
    val p = plan(graft.ops.TextOps.nfcAudit(graft.synth.NfcDocs.docs(spark, 50L)))
    assert(!p.contains("Exchange"), s"nfc audit must not shuffle:\n$p")
    assert(!p.contains("Join"), s"nfc audit must not join:\n$p")
  }

  test("lateness audit: two-phase prefix max — no event-row single-partition window") {
    val p = plan(graft.ops.RelationalOps.latenessAudit(spark))
    // the block-prefix table broadcasts back onto the stream
    assert(p.contains("BroadcastHashJoin"), s"block prefix must broadcast:\n$p")
    // single-partition exchanges may only carry the BLOCK table (its
    // input is the blk-keyed agg, never raw event rows): every
    // SinglePartition exchange must sit above the block aggregate
    val single = "Exchange SinglePartition".r.findAllIn(p).size
    assert(single <= 1, s"at most the block-prefix window may gather:\n$p")
    assert("hashpartitioning\\(blk".r.findFirstIn(p).isDefined,
      s"per-block running max lost its block partitioning:\n$p")
  }

  test("bucketed co-located join: zero exchanges — the layout replaces the shuffle") {
    val p = plan(graft.ops.RelationalOps.bucketedColocatedJoin(spark, dir))
    assert(p.contains("SortMergeJoin"), s"co-located join must SMJ:\n$p")
    assert(!p.contains("Exchange"),
      s"bucketed-on-key sides must join with zero exchanges:\n$p")
  }

  test("hll sketch: registers partial-max map-side; no up-front distinct of the stream") {
    val p = plan(graft.ops.RelationalOps.hllDistinct(spark, dir))
    // the register agg must combine map-side (the mergeable-sketch
    // property in plan form): a partial max before the exchange
    assert(p.contains("partial_max"), s"no map-side register combine:\n$p")
    // HLL needs no distinct-then-trim: the only window-free aggregation
    // path means no WindowGroupLimit / row_number trim appears
    assert(!p.contains("WindowGroupLimit") && !p.contains("row_number"),
      s"HLL path should not rank-trim like KMV:\n$p")
  }

  test("ccnet buckets: histogram thresholds broadcast back; corpus never shuffles") {
    val p = plan(graft.ops.TextOps.ccnetBuckets(spark, dir))
    // thresholds (langs rows) must broadcast onto the scored corpus
    assert(p.contains("BroadcastHashJoin"), s"threshold join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"threshold join fell back to SMJ:\n$p")
    // lang-keyed exchanges may only carry the (lang, surprise) HISTOGRAM
    // (one for the partial-agg'd counts feeding the cum window) — the
    // scored corpus itself must never be hash-partitioned by doc or lang
    val docExchanges = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(docExchanges == 0, s"ccnetBuckets shuffles the corpus:\n$p")
  }

  test("SFT pairs: conv-partitioned window, never a global (empty-key) window") {
    val p = plan(graft.ops.TrainingOps.sftPairs(
      spark, graft.synth.SynthDataset.turns(spark, 100L)))
    assert(p.contains("Window"), s"expected a window operator:\n$p")
    // every window spec in the plan must be conv_id-partitioned — a
    // disjunction on node-rendering details would pass vacuously if the
    // operator prints differently, so check each spec occurrence directly
    val specs = "windowspecdefinition\\(\\w*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_ == "windowspecdefinition(conv_id"),
      s"every window must partition by conv_id, got $specs:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"pairs must come from a window, not a join:\n$p")
  }

  test("context assembly: conv-partitioned windows only, no joins") {
    val p = plan(graft.ops.TrainingOps.contextAssembly(
      spark, graft.synth.SynthDataset.turns(spark, 100L)))
    val specs = "windowspecdefinition\\(\\w*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_ == "windowspecdefinition(conv_id"),
      s"every window must partition by conv_id, got $specs:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct")
      && !p.contains("BroadcastNestedLoopJoin"),
      s"context must come from windows/aggregation, not a join:\n$p")
    // window pass and per-conv collect share the conv_id hash partitioning:
    // no exchange may sit between the final collect aggregate and the
    // window below it (the pipeline's own salted bucketing is separate)
    val aggAt = p.indexOf("ObjectHashAggregate")
    val winAt = p.indexOf("Window [")
    assert(aggAt >= 0 && winAt > aggAt, s"expected collect agg above the window:\n$p")
    assert(!p.substring(aggAt, winAt).contains("Exchange"),
      s"window and collect must share one conv shuffle:\n$p")
  }

  test("BPE pair counts: histogram-sized shuffles only, top-k compiles to TakeOrderedAndProject") {
    val p = plan(graft.ops.BpeOps.topPairs(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    // corpus leaves through ONE word-keyed aggregation; everything after
    // shuffles vocabulary-sized (word / pair-key) rows only
    val keys = "Exchange hashpartitioning\\((\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSet
    // pair keys print as _groupingexpression (struct-field grouping)
    assert(keys.subsetOf(Set("word", "lhs", "_groupingexpression")),
      s"unexpected shuffle keys $keys:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      s"histogram aggregation must be map-side partial:\n$p")
  }

  test("BPE encode never shuffles the corpus: merges ride the in-row replace fold") {
    val p = plan(graft.ops.BpeOps.encode(spark, dir))
    // the returned frame is a pure projection over the documents scan —
    // training already happened driver-side on the floored histogram and
    // encoding is the per-word fold of the learned literal replaces
    assert(!p.contains("Exchange"), s"encode must be narrow:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"encode must fold the merges in-row, not join:\n$p")
  }

  test("sessionization: one user-keyed shuffle; rollup reuses the window partitioning") {
    val p = plan(graft.ops.RelationalOps.sessionize(spark, dir))
    // lag + running sum share one window spec; the (user_id, session_idx)
    // aggregation is subset-clustered by hashpartitioning(user_id), so the
    // whole plan carries exactly ONE exchange
    assert("Exchange".r.findAllIn(p).size == 1, s"expected a single shuffle:\n$p")
    val specs = "windowspecdefinition\\(\\w*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_ == "windowspecdefinition(user_id"),
      s"every window must partition by user_id, got $specs:\n$p")
  }

  test("token quantiles: one lang-keyed shuffle, windows lang-partitioned") {
    val p = plan(graft.ops.TextOps.tokenQuantiles(spark, dir))
    assert("Exchange".r.findAllIn(p).size == 1, s"expected a single shuffle:\n$p")
    val specs = "windowspecdefinition\\(\\w*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_ == "windowspecdefinition(lang"),
      s"every window must partition by lang, got $specs:\n$p")
  }

  test("image codec features are a narrow per-partition pass: zero shuffles") {
    val p = plan(graft.ops.MultimodalOps.imageFeatures(spark, dir))
    assert(!p.contains("Exchange"), s"codec pass must be narrow:\n$p")
  }

  test("tf-idf keywords: df rides a broadcast join, shuffles stay on doc/word keys") {
    val p = plan(graft.ops.TextOps.tfidfKeywords(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"df side must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"tf-df join fell out of broadcast:\n$p")
    val keys = "Exchange hashpartitioning\\((\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys.subsetOf(Set("doc_id", "word")), s"unexpected shuffle keys $keys:\n$p")
  }

  test("host-rank edge build: equi-shapes only, no cartesian or NLJ") {
    val p = plan(WebOps.hostEdges(graft.synth.WebDocs.docs(spark, 100L)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"edge build must be narrow + one distinct agg:\n$p")
  }

  test("dup-span removal shuffles gram hashes and doc keys, never wider") {
    val p = plan(WebOps.removeDupSpans(spark, dir))
    // allowed: the keeper agg / join keyed on the 16-hex gram sha, and the
    // (doc_id)-keyed mask agg + join back to tokens (the irreducible
    // corpus rewrite cost — bucket-partitioned docs make it local at scale)
    val keys = "Exchange hashpartitioning\\((\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys.subsetOf(Set("gram_h", "doc_id")), s"unexpected shuffle keys $keys:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"unexpected join shape:\n$p")
  }

  test("quality model application and domain filter are narrow: zero shuffles") {
    val p1 = plan(graft.ops.TextOps.qualityLogit(spark, dir))
    assert(!p1.contains("Exchange"), s"qualityLogit shuffles:\n$p1")
    val p2 = plan(WebOps.domainFilter(graft.synth.WebDocs.docs(spark, 100)))
    assert(!p2.contains("Exchange") && !p2.contains("Join"),
      s"domainFilter should be a per-row exists, no join/shuffle:\n$p2")
  }

  test("shard layout costs exactly one range exchange plus the per-shard sort") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(10000).select(col("id").as("doc_id"), (col("id") * 2).as("payload"))
    val p = plan(graft.ops.TrainingOps.shardLayout(df, 4, "doc_id"))
    assert("Exchange rangepartitioning".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Exchange hashpartitioning"), s"unexpected hash shuffle:\n$p")
    assert(p.contains("Sort [doc_id"), s"missing per-shard sort:\n$p")
  }

  test("url host rollup shuffles only the aggregation, with map-side partials") {
    val p = plan(WebOps.urlHosts(graft.synth.WebDocs.docs(spark, 100)))
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected only the host agg + distinct exchanges:\n$p")
    assert(p.contains("partial_count"), s"missing map-side partial agg:\n$p")
  }

  test("skew report: top-k heavy keys compile to TakeOrderedAndProject over partial aggs") {
    val p = plan(Pipeline.skewReport(graft.synth.SynthDataset.turns(spark, 150L)))
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
    assert(p.contains("partial_count"), s"conv histogram must partial-agg map-side:\n$p")
  }

  test("collocations: both dictionary joins broadcast; top-k without global sort") {
    val p = plan(graft.ops.TextOps.collocations(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 2,
      s"unigram dictionary must broadcast on both sides:\n$p")
    assert(!p.contains("SortMergeJoin"), s"vocab join fell back to SMJ:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k must not global-sort:\n$p")
  }

  test("bloom prefilter bit-tests the gram stream BELOW the survivor-dedup exchange") {
    import org.apache.spark.sql.functions.col
    import graft.ops.{BloomSketch, TrainingOps}
    // all-ones bitmap: pass-through semantics, identical plan shape
    val words = Array.fill(BloomSketch.Words)(-1L)
    val pass = TrainingOps.docGramBuckets(spark, dir, TrainingOps.DefaultSeed)
      .filter(col("bucket") < TrainingOps.TrainPct).select("gram")
      .filter(BloomSketch.mayContain(words, col("gram")))
      .distinct()
    val p = plan(pass)
    val exAt = p.indexOf("Exchange")
    val srAt = p.indexOf("shiftright")
    assert(exAt >= 0 && srAt > exAt,
      s"the bloom bit test must run before (below) the distinct's exchange:\n$p")
  }

  test("z-order shard audit: narrow morton projection, shard-keyed aggregation only") {
    val p = plan(graft.ops.TrainingOps.zOrderShards(spark, dir))
    // the z-value itself must never cost a shuffle — the only exchanges
    // belong to the (shard × two-distinct) aggregation
    val keys = "Exchange hashpartitioning\\((\\w+)".r.findAllMatchIn(p).map(_.group(1)).toSet
    assert(keys == Set("shard_id"), s"unexpected shuffle keys $keys:\n$p")
    assert(p.contains("partial_count"), s"missing map-side partial agg:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("kmv overlap sketch trim keeps the partial WindowGroupLimit bound") {
    val hashed = RelationalOps.userTypeHashes(spark, dir)
    val p = plan(RelationalOps.kmvUserSketch(hashed, RelationalOps.KmvK))
    assert(p.contains("WindowGroupLimit"),
      s"sketch trim must bound the shuffle to k rows per group:\n$p")
  }

  test("count-min matrix: one bounded (row,col) exchange with map-side partials") {
    import graft.ops.CountMinSketch
    val docs = RelationalOps.table(spark, dir, "documents")
    val p = plan(CountMinSketch.matrix(CountMinSketch.corpusTerms(docs)))
    assert("Exchange".r.findAllIn(p).size == 1,
      s"sketch build must cost exactly one cell-keyed exchange:\n$p")
    assert(p.contains("partial_count"),
      s"partition must collapse to <= Depth x Width cells map-side:\n$p")
  }

  test("count-min heavy hitters: sketch estimate filters BELOW the term exchange") {
    val p = plan(graft.ops.CountMinSketch.heavyHitters(spark, dir))
    val exAt = p.indexOf("Exchange")
    val estAt = p.indexOf("element_at")
    assert(exAt >= 0 && estAt > exAt,
      s"the est>=threshold prefilter must run before (below) the exact-count exchange:\n$p")
    assert(!p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"the matrix must ride as literals, not a join:\n$p")
  }

  test("host triangles: wedge and close joins stay equi-keyed (no nested-loop explosion)") {
    val docs = graft.synth.WebDocs.docs(spark, 120)
    val und = WebOps.undirectedHostEdges(docs)
    val deg = WebOps.hostDegrees(und)
    val p = plan(WebOps.triangleStats(WebOps.orientEdges(und, deg), deg))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"orientation must keep every join equi-keyed:\n$p")
    assert(p.contains("partial_count"),
      s"degree/participation counts must partial-agg map-side:\n$p")
  }

  test("token histogram shuffles one (lang,bucket) partial-count exchange only") {
    val p = plan(graft.ops.TextOps.tokenHistogram(spark, dir))
    assert("Exchange".r.findAllIn(p).size == 1, s"expected a single agg exchange:\n$p")
    assert(p.contains("partial_count"), s"missing map-side partial agg:\n$p")
  }

  test("role audit: one conv-keyed shuffle; rollup reuses the window partitioning") {
    val turns = graft.synth.SynthDataset.turns(spark, 40)
    val p = plan(graft.ops.TranscriptOps.roleAudit(turns))
    // lag + last-ignore-nulls share the conv_id partitioning; the
    // groupBy(conv_id) rollup is subset-clustered by it — ONE exchange
    assert("Exchange".r.findAllIn(p).size == 1, s"expected a single shuffle:\n$p")
    val specs = "windowspecdefinition\\(\\w*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_ == "windowspecdefinition(conv_id"),
      s"every window must partition by conv_id, got $specs:\n$p")
  }

  test("conv near-dup: df-capped candidate join stays sha-equi-keyed, no cartesian") {
    val turns = graft.synth.RetryCorpus.turns(spark, 24)
    val p = plan(graft.ops.TranscriptOps.convNearDup(turns))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must never go all-pairs:\n$p")
    // the df cap is computed by a sha-partitioned window BEFORE the
    // self-join, so every join key is equi (sha, then conv ids)
    assert("windowspecdefinition\\(sha".r.findAllIn(p).nonEmpty,
      s"df cap must ride a sha-partitioned window:\n$p")
  }

  test("loop runs: one conv-keyed shuffle; both rollups reuse the window partitioning") {
    val turns = graft.synth.RetryCorpus.turns(spark, 24)
    val p = plan(graft.ops.TranscriptOps.loopRuns(turns))
    assert("Exchange".r.findAllIn(p).size == 1, s"expected a single shuffle:\n$p")
    val specs = "windowspecdefinition\\(\\w*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_ == "windowspecdefinition(conv_id"),
      s"every window must partition by conv_id, got $specs:\n$p")
  }

  test("boilerplate: distinct-conv rewrite keeps the sha aggregation two-phase") {
    val turns = graft.synth.RetryCorpus.turns(spark, 24)
    val p = plan(graft.ops.TranscriptOps.boilerplateTurns(turns))
    assert("Exchange".r.findAllIn(p).size <= 2, s"distinct rewrite grew extra shuffles:\n$p")
    assert(p.contains("partial_count"), s"missing map-side partial agg:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), s"unexpected join:\n$p")
  }

  test("span explode rides the pipeline's single shuffle: Generate, no extra exchange") {
    val turns = graft.synth.SynthDataset.turns(spark, 40)
    val p = plan(Pipeline.run(spark, turns)
      .select(org.apache.spark.sql.functions.col("conv_id"),
        org.apache.spark.sql.functions.col("turn_idx"),
        org.apache.spark.sql.functions.posexplode(
          org.apache.spark.sql.functions.col("spans"))))
    assert(p.contains("Generate"), s"span explode must compile to Generate:\n$p")
    // the pipeline itself costs 1 (the salted repartition, as the
    // pipeline plan assert pins); posexplode must ride above it without
    // adding a second
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"posexplode must not add a shuffle ($exchanges):\n$p")
  }

  test("conv fingerprint dups: two sha-only exchanges, map-side partials, no join") {
    val turns = graft.synth.RetryCorpus.turns(spark, 24)
    val p = plan(graft.ops.TranscriptOps.convFingerprintDups(turns))
    assert("(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"expected the conv-keyed then fingerprint-keyed exchanges only:\n$p")
    assert(p.contains("partial_count"), s"missing map-side partial agg:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"), s"unexpected join:\n$p")
  }

  test("conv clusters: id mapping and label joins stay equi-keyed, no cartesian") {
    val turns = graft.synth.RetryCorpus.turns(spark, 24)
    val p = plan(graft.ops.TranscriptOps.convDedupClusters(turns))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cluster assembly must never go all-pairs:\n$p")
  }

  test("tool latency: two exchanges; windows keyed by conv_id then tool only") {
    val turns = graft.synth.RetryCorpus.turns(spark, 24)
    val p = plan(graft.ops.TranscriptOps.toolLatency(turns))
    assert("Exchange".r.findAllIn(p).size <= 2,
      s"expected the conv-keyed lag + tool-keyed rank shuffles only:\n$p")
    val specs = "windowspecdefinition\\(\\w*".r.findAllIn(p).toSet
    assert(specs.nonEmpty && specs.subsetOf(
      Set("windowspecdefinition(conv_id", "windowspecdefinition(tool")),
      s"windows must partition by conv_id or tool, got $specs:\n$p")
    assert(!p.contains("Join"), s"unexpected join:\n$p")
  }

  test("tool stats: distinct-conv rewrite keeps both aggregates map-side partial") {
    val turns = graft.synth.SynthDataset.turns(spark, 40)
    val p = plan(graft.ops.TranscriptOps.toolCallStats(turns))
    // Expand + two-phase agg: (tool, conv_id) partial then tool —
    // never more than those two exchanges, both fed by partial_count
    assert("Exchange".r.findAllIn(p).size <= 2, s"distinct rewrite grew extra shuffles:\n$p")
    assert(p.contains("partial_count"), s"missing map-side partial agg:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), s"unexpected join:\n$p")
  }

  test("retry edit stats: candidate filter joins stay equi-keyed, no cartesian") {
    val turns = graft.synth.RetryCorpus.turns(spark, 24)
    val p = plan(graft.ops.TranscriptOps.retryEditStats(turns))
    // the Levenshtein verify stage must only ever align turns of
    // CANDIDATE pairs via (conv, turn_idx) equi-joins — an all-pairs
    // fallback here would be quadratic in conversations
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"edit verification must never go all-pairs:\n$p")
    assert(p.contains("levenshtein"), s"distance must be the codegen'd builtin:\n$p")
  }

  test("gram novelty: grams hash to sha before any exchange; aggs stay two-phase") {
    val turns = graft.synth.RetryCorpus.turns(spark, 24)
    val p = plan(graft.ops.TranscriptOps.gramNovelty(turns))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"novelty must stay key-joined:\n$p")
    assert(p.contains("partial_count"), s"missing map-side partial agg:\n$p")
    // day-gram partials, per-day rollup, first-seen, new-per-day, final
    // join — bounded exchange budget, none carrying gram text
    assert("(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).size <= 5,
      s"novelty grew extra shuffles:\n$p")
  }

  test("compaction plan: one source-keyed exchange; rollup reuses the window partitioning") {
    val p = plan(graft.ops.TrainingOps.compactionPlan(spark, dir))
    assert("Exchange".r.findAllIn(p).size == 1, s"expected a single shuffle:\n$p")
    val specs = "windowspecdefinition\\(\\w*".r.findAllIn(p).toSeq
    assert(specs.nonEmpty && specs.forall(_ == "windowspecdefinition(source"),
      s"running offsets must partition by source, got $specs:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,source:string,n_chars:bigint>")
      || p.contains("ReadSchema: struct<doc_id:bigint") && !p.contains("text:string"),
      s"scan must prune the payload column:\n$p")
  }

  test("retention: user/cohort joins stay equi-keyed; no event text, no cartesian") {
    val p = plan(graft.ops.RelationalOps.retention(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cohort matrix must stay key-joined:\n$p")
    assert(p.contains("partial_min") || p.contains("partial_count"),
      s"cohort map must aggregate map-side:\n$p")
    assert(p.contains("ReadSchema: struct<ts:timestamp_ntz,user_id:bigint>"),
      s"scan must prune events to (ts, user_id):\n$p")
  }

  test("DSIR selection: λ map broadcast as one row, corpus never shuffles") {
    val p = plan(graft.ops.TextOps.dsirSelect(
      graft.synth.DomainDocs.docs(spark, 100L)))
    // LM training shuffles (token, count) pairs; the scorer must consume
    // the vocab-capped λ map via broadcast — a doc-keyed exchange here
    // would mean the corpus itself is shuffling to meet the map
    assert(p.contains("BroadcastNestedLoopJoin"), s"λ map not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"scoring fell back to SMJ:\n$p")
    val corpusExchanges = "Exchange hashpartitioning\\(doc_id".r.findAllIn(p).size
    assert(corpusExchanges == 0, s"dsirSelect shuffles the corpus:\n$p")
  }

  test("HTML table extraction: a narrow per-doc flatMap — zero exchanges, zero joins") {
    val p = plan(graft.SparkEntry.queries("q133_html_tables")(spark, "/unused"))
    assert(!p.contains("Exchange"), s"table extraction must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"table extraction must not join:\n$p")
  }

  test("markdown table extraction: a narrow per-doc flatMap — zero exchanges, zero joins") {
    val p = plan(graft.ops.TableOps.mdCells(spark, 50L))
    assert(!p.contains("Exchange"), s"md table extraction must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"md table extraction must not join:\n$p")
  }

  test("link extraction: a narrow per-doc flatMap — zero exchanges, zero joins") {
    val p = plan(graft.ops.TableOps.links(spark, 50L))
    assert(!p.contains("Exchange"), s"link extraction must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"link extraction must not join:\n$p")
  }

  test("extract coverage: the kind rollup adds ONE partial-agg exchange over the pipeline") {
    val p = plan(graft.SparkEntry.queries("q162_extract_coverage")(spark, "/unused"))
    assert(p.contains("partial_count"), s"missing map-side partials:\n$p")
    // the pipeline's chunk salt joins nothing; the ROLLUP must add no join
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"coverage rollup must not add a join:\n$p")
  }

  test("section chunks: in-row windows + Generate — zero exchanges, zero joins") {
    val p = plan(graft.ops.TableOps.sectionChunks(spark, 40L))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"chunking must stay narrow:\n$p")
    assert(p.contains("Generate"), s"expected the posexplode Generate:\n$p")
  }

  test("url canonicalization: pure narrow projection — zero exchanges, zero joins") {
    val p = plan(graft.ops.WebOps.canonicalUrls(graft.ops.TableOps.links(spark, 50L)))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"canonicalization must stay narrow:\n$p")
  }

  test("reputation cascade: bad hosts broadcast; text never shuffles") {
    val p = plan(graft.ops.WebOps.reputationFilter(graft.synth.WebDocs.docs(spark, 40L)))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"bad-host list must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!"Exchange hashpartitioning\\(text".r.findFirstIn(p).isDefined,
      s"text must never be a shuffle key:\n$p")
  }

  test("quantized recall: both search tiers broadcast the query side, no cartesian blowup") {
    val p = plan(graft.ops.SimilarityOps.quantizedRecall(spark, dir))
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side must broadcast:\n$p")
  }

  test("embedding quantization: pure narrow projection — zero exchanges, zero joins") {
    val p = plan(graft.ops.SimilarityOps.quantizeEmbeddings(spark, dir))
    assert(!p.contains("Exchange"), s"quantization must not shuffle:\n$p")
    assert(!p.contains("Join"), s"quantization must not join:\n$p")
  }

  test("conv segments: the rollup reuses the single conv-keyed window exchange") {
    val p = plan(graft.ops.TranscriptOps.convSegments(
      graft.synth.RetryCorpus.turns(spark, 20L)))
    assert("(?<!Broadcast)Exchange hashpartitioning\\(conv_id".r.findAllIn(p).size == 1,
      s"expected exactly one conv-keyed exchange:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"segmentation must not join:\n$p")
  }

  test("link surface: md link extraction and the census stay narrow + one agg exchange") {
    val pm = plan(graft.ops.TableOps.mdLinks(spark, 50L))
    assert(!pm.contains("Exchange") && !pm.contains("Join"),
      s"md link extraction must not shuffle or join:\n$pm")
    val p = plan(graft.ops.WebOps.linkSurface(
      graft.ops.TableOps.links(spark, 50L), graft.ops.TableOps.mdLinks(spark, 50L)))
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"census must not join:\n$p")
    assert(p.contains("Union"), s"expected a union of both families:\n$p")
  }

  test("anchor keywords: df and host count broadcast back onto the bounded term frame") {
    val p = plan(graft.ops.WebOps.anchorKeywords(graft.ops.TableOps.links(spark, 50L)))
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"df/host-count must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the bounded term frame must never sort-merge:\n$p")
  }

  test("context prune: one conv-keyed exchange, unsorted window frame, no join") {
    val p = plan(graft.ops.TranscriptOps.contextPrune(
      graft.synth.SynthDataset.turns(spark, 40L)))
    assert("(?<!Broadcast)Exchange hashpartitioning\\(conv_id".r.findAllIn(p).size == 1,
      s"expected exactly one conv-keyed exchange:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"prune must not join:\n$p")
  }

  test("grid records: a single 4-key equi-join, never a cartesian") {
    val p = plan(graft.ops.TableOps.pdfGridRecords(
      graft.ops.TableOps.pdfGrids(spark, 50L)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"header pivot must stay equi-keyed:\n$p")
    assert("Join".r.findAllIn(p).size <= 2, s"one logical join expected:\n$p")
  }

  test("pdfir grid detection: a narrow per-doc flatMap — zero exchanges, zero joins") {
    val p = plan(graft.ops.TableOps.pdfGrids(spark, 50L))
    assert(!p.contains("Exchange"), s"grid detection must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"grid detection must not join:\n$p")
  }

  test("outline extraction: a narrow per-doc flatMap — zero exchanges, zero joins") {
    val p = plan(graft.ops.TableOps.sections(spark, 50L))
    assert(!p.contains("Exchange"), s"outline extraction must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"outline extraction must not join:\n$p")
    val pb = plan(graft.ops.TableOps.mdSectionBodies(spark, 50L))
    assert(!pb.contains("Exchange") && !pb.contains("Join"),
      s"section bodies must not shuffle or join:\n$pb")
  }

  test("anchor terms: one (host, term) exchange with map-side partials, no join") {
    val p = plan(graft.ops.WebOps.anchorTerms(graft.ops.TableOps.links(spark, 50L)))
    assert("(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"expected the (host, term) agg exchanges only:\n$p")
    assert(p.contains("partial_count"), s"missing map-side partial agg:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"anchor rollup must not join:\n$p")
  }

  test("polite schedule: all four scalars broadcast; no cartesian over the host frame") {
    val p = plan(graft.ops.WebOps.politeCrawlSchedule(graft.synth.WebDocs.docs(spark, 40L)))
    assert(!p.contains("CartesianProduct"),
      s"scalar attach must be broadcast, not cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"surplus/open-rank/seats rows must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"host frame must not sort-merge:\n$p")
  }

  test("crawl budget: scalars ride as broadcast 1-row crossJoins, never a driver collect") {
    val p = plan(graft.ops.WebOps.crawlBudget(graft.synth.WebDocs.docs(spark, 40L)))
    assert(!p.contains("CartesianProduct"),
      s"scalar attach must be broadcast, not cartesian:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"expected broadcast 1-row scalar attach:\n$p")
  }

  test("crawl budget + polite schedule: remainder ranks are two-phase — no unpartitioned window") {
    // |hosts| is 10⁷–10⁸ at web scale; a global-order row_number would
    // funnel them through one task. Both seat rankings must ride the
    // part-partitioned two-phase rank (offset + local row_number).
    for (df <- Seq(
        graft.ops.WebOps.crawlBudget(graft.synth.WebDocs.docs(spark, 40L)),
        graft.ops.WebOps.politeCrawlSchedule(graft.synth.WebDocs.docs(spark, 40L)))) {
      val p = plan(df)
      val specs = "windowspecdefinition\\(\\w*".r.findAllIn(p).toSeq
      assert(specs.nonEmpty && specs.forall(_ == "windowspecdefinition(part"),
        s"every window must partition by the range-partition id, got $specs:\n$p")
    }
  }

  test("bpe fertility: merges fold in-row — one lang agg exchange, no join") {
    val p = plan(graft.ops.BpeOps.fertility(spark, dir))
    assert("(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"expected only the lang aggregation exchange:\n$p")
    assert(p.contains("partial_count"), s"missing map-side partial agg:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"fertility must not join (merges fold in-row):\n$p")
  }

  test("encoding audit: pure narrow projection — zero exchanges, zero joins") {
    val p = plan(graft.ops.TextOps.encodingAudit(graft.synth.NoisyDocs.docs(spark, 50L)))
    assert(!p.contains("Exchange"), s"audit must not shuffle:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"audit must not join:\n$p")
  }

  test("quality calibration: both window frames reuse ONE source-keyed exchange, no join") {
    val p = plan(graft.ops.TextOps.qualityCalibrated(spark, dir))
    assert("(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"rank and count windows must share the source exchange:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"calibration must not join:\n$p")
  }

  test("transition matrix: conv window + (from,to) agg — the normalization windows the bounded matrix, no join") {
    val p = plan(graft.ops.TranscriptOps.transitionMatrix(
      graft.synth.SynthDataset.turns(spark, 40L)))
    assert("(?<!Broadcast)Exchange hashpartitioning\\(conv_id".r.findAllIn(p).size == 1,
      s"expected exactly one conv-keyed exchange:\n$p")
    assert(p.contains("partial_count"), s"missing map-side partial agg:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"transition matrix must not join:\n$p")
  }

  test("table records: a single 3-key equi-join, never a cartesian") {
    val p = plan(graft.ops.TableOps.tableRecords(
      graft.ops.TableOps.cells(spark, 50L)))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"header pivot must stay equi-keyed:\n$p")
    assert(p.contains("doc_id") && p.contains("table_idx") && p.contains("col_idx"),
      s"join must key on (doc_id, table_idx, col_idx):\n$p")
    assert("Join".r.findAllIn(p).size <= 2, s"one logical join expected:\n$p")
  }

  test("gopher gate: two map-side-combinable exchanges, no join, pruned scan") {
    val p = plan(graft.ops.TextOps.gopherGate(spark, dir))
    assert("(?<!Broadcast)Exchange hashpartitioning".r.findAllIn(p).size <= 2,
      s"expected (doc_id, word) then doc_id exchanges only:\n$p")
    assert(p.contains("partial_count"), s"missing map-side partial agg:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"scan must prune to (doc_id, text):\n$p")
  }
}
