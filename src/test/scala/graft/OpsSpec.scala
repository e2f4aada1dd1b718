package graft

import graft.ops._
import graft.text.TextAlgos
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantic checks of the operator library against local recomputation
  * over the driver's sf0.001 tables (oracle parity with DuckDB is checked
  * separately by the driver harness + tools/local_oracle_check.py).
  */
class OpsSpec extends AnyFunSuite with SparkSessionFixture.TempDirs {

  private lazy val spark = SparkSessionFixture.spark
  private val dir = "/root/testdata/sf0.001"

  private def sha256Hex(s: String): String = SparkSessionFixture.sha256Hex(s)

  test("positional cycling matches reference modular semantics") {
    import spark.implicits._
    val rows = RelationalOps.q8PositionalCycling(spark, dir)
      .as[(Long, Int, String)].collect()
    rows.foreach { case (_, ln, name) =>
      assert(name == RelationalOps.reviewerNames((ln - 1) % 16))
    }
  }

  test("exact dedup: one group per distinct text, counts sum to corpus size") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nDistinct = docs.select("text").distinct().count()
    val out = DedupOps.exactDedup(spark, dir)
    assert(out.count() == nDistinct)
    assert(out.agg(sum("dup_count")).as[Long].head() == docs.count())
  }

  test("simhash pairs: exactly the Hamming<=3 pairs (vs local O(n^2))") {
    import spark.implicits._
    val local = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
      .map { case (id, t) => (id, TextAlgos.simhash(TextAlgos.tokenize(t))) }
    val expected = (for {
      (ia, ha) <- local
      (ib, hb) <- local
      if ia < ib && TextAlgos.hamming(ha, hb) <= 3
    } yield (ia, ib)).toSet
    val got = DedupOps.simhashPairs(spark, dir)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(got == expected, s"got ${got.size} expected ${expected.size}")
  }

  test("brute-force ANN matches local exact top-k") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val queries = vecs.filter(_._1 < SimilarityOps.NQueries)
    val expected = queries.flatMap { case (qid, qv) =>
      vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, math.floor(TextAlgos.cosine(qv, v) * 10000).toLong) }
        .sortBy { case (id, c) => (-c, id) }
        .take(SimilarityOps.DefaultK)
        .zipWithIndex
        .map { case ((id, c), r) => (qid, id, r + 1, c) }
    }.toSet
    val got = SimilarityOps.bruteTopK(spark, dir)
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(got == expected)
  }

  test("LSH ANN: results collide in some hash table, with correct cosines") {
    import spark.implicits._
    val got = SimilarityOps.lshTopKTuned(spark, dir).as[(Long, Long, Int, Long)].collect()
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect().toMap
    assert(got.nonEmpty)
    // the tuned tables: b low bits of the fixed-stride full-width buckets,
    // probed at Hamming distance <= 1
    val p = SimilarityOps.tuneLshParams(spark, dir)
    def bucket(v: Array[Float], t: Int): Int = TextAlgos.hyperplaneBucket(
      v, SimilarityOps.TuneMaxPlanes, t * SimilarityOps.TuneMaxPlanes) & ((1 << p.nPlanes) - 1)
    got.foreach { case (qid, nid, _, c) =>
      val collide = (0 until p.nTables).exists { t =>
        java.lang.Integer.bitCount(bucket(vecs(qid), t) ^ bucket(vecs(nid), t)) <= 1
      }
      assert(collide, s"pair ($qid,$nid) is not within Hamming 1 in any table")
      assert(c == math.floor(TextAlgos.cosine(vecs(qid), vecs(nid)) * 10000).toLong)
    }
    // multi-table candidates never produce duplicate (query, neighbor) rows
    assert(got.map(r => (r._1, r._2)).distinct.length == got.length)
  }

  test("minhash pairs are verified near-dups; no pair below threshold") {
    import spark.implicits._
    val pairs = DedupOps.minhashPairs(spark, dir).as[(Long, Long, Int)].collect()
    pairs.foreach { case (a, b, j) => assert(j >= 700 && a < b, s"pair ordering violated: ($a,$b)") }
    // recompute jaccard locally for each reported pair
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    pairs.foreach { case (a, b, j) =>
      val sa = TextAlgos.shingleHashes(TextAlgos.tokenize(texts(a)), DedupOps.ShingleW)
      val sb = TextAlgos.shingleHashes(TextAlgos.tokenize(texts(b)), DedupOps.ShingleW)
      assert(TextAlgos.jaccardX1000(sa, sb) == j)
    }
  }

  test("dedup clusters: exactly the connected components of the pair graph") {
    import spark.implicits._
    val clusters = DedupOps.dedupClusters(spark, dir)
      .as[(Long, Long, Boolean)].collect()
    val pairs = DedupOps.minhashPairs(spark, dir).as[(Long, Long, Int)].collect()
    val allDocs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").as[Long].collect()

    // local union-find truth
    val parent = scala.collection.mutable.Map(allDocs.map(d => d -> d): _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truthCluster = allDocs.map(d => d -> find(d)).toMap

    assert(clusters.length == allDocs.length, "every document gets a cluster row")
    clusters.foreach { case (doc, cid, canonical) =>
      assert(cid == truthCluster(doc), s"doc $doc: cluster $cid != ${truthCluster(doc)}")
      val expectCanonical = truthCluster.collect { case (d, c) if c == cid => d }.min == doc
      assert(canonical == expectCanonical)
    }
    // there is at least one multi-doc cluster in the corpus (else the test is vacuous)
    assert(clusters.groupBy(_._2).exists(_._2.length > 1))
  }

  test("clusterEdges: 60-deep chain converges inside default maxIters (shortcutting)") {
    import spark.implicits._
    // a drifting-template chain 0-1-2-…-60: diameter 60 > maxIters 20, so
    // pure one-hop propagation could not converge — path shortcutting
    // must close it in O(log 60) rounds
    val docs = (0L to 60L).toDF("doc_id")
    val edges = (0L until 60L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val out = DedupOps.clusterEdges(docs, edges)
      .as[(Long, Long, Boolean)].collect()
    assert(out.length == 61)
    assert(out.forall(_._2 == 0L), s"chain split into ${out.map(_._2).distinct.length} clusters")
    assert(out.count(_._3) == 1 && out.find(_._3).get._1 == 0L)
  }

  test("class balance: undersample equalizes to min; oversample reaches exactly max") {
    import spark.implicits._
    val balanced = RelationalOps.q14ClassBalance(spark, dir).cache()
    val perLang = balanced.groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(perLang.values.toSet.size == 1, s"classes not equalized: $perLang")

    val trueCounts = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(perLang.values.head == trueCounts.values.min)

    val over = RelationalOps.oversample(balanced)
      .groupBy($"lang").count().as[(String, Long)].collect().toMap
    assert(over.values.toSet == Set(trueCounts.values.max),
      s"oversample should reach max class size: $over vs max ${trueCounts.values.max}")
    balanced.unpersist()
  }

  test("shredding: child row counts equal nested array sizes; range check correct") {
    import spark.implicits._
    val recs = ShredOps.structuredRecords(spark, 50).cache()
    val df = recs.toDF()
    val expectedMat = recs.collect().map(_.material_usage_rows.size).sum
    val mat = ShredOps.shredMaterialUsage(df).cache()
    assert(mat.count() == expectedMat)
    mat.as[(String, String, Int, String, Double, Double, Double, Double, String, String, Boolean)]
      .collect().foreach { r =>
        val (min, max, actual, inRange) = (r._6, r._7, r._8, r._11)
        assert(inRange == (actual >= min && actual <= max))
      }
    val expectedTemp = recs.collect().map(_.steps.map(_.temperature_records.size).sum).sum
    assert(ShredOps.shredTemperatureRecords(df).count() == expectedTemp)
    mat.unpersist(); recs.unpersist()
  }

  test("generic shredAll: table set, row counts, FK linkage, CSV flatten") {
    import spark.implicits._
    val recs = ShredOps.structuredRecords(spark, 40).toDF().cache()
    val tables = ShredOps.shredAll(recs).toMap
    assert(tables.keySet == Set(
      "main_table", "main_table_batch_details",
      "main_table_material_usage_rows", "main_table_steps",
      "main_table_steps_temperature_records"))

    val main = tables("main_table")
    assert(main.count() == 40)
    // nested fields replaced: struct -> pointer, array<struct> -> gone,
    // array<string> -> CSV
    assert(main.columns.contains("batch_details_key"))
    assert(!main.columns.contains("material_usage_rows") && !main.columns.contains("steps"))
    assert(main.select($"equipment_no").as[String].collect().forall(!_.contains("[")))

    // child counts equal nested sizes
    val wantRows = recs.select(explode($"material_usage_rows")).count()
    assert(tables("main_table_material_usage_rows").count() == wantRows)
    val wantTemps = recs
      .select(explode($"steps").as("s")).select(explode($"s.temperature_records")).count()
    assert(tables("main_table_steps_temperature_records").count() == wantTemps)

    // FK: every batch_details row joins back to exactly one main row
    val joined = main.select($"conv_id", $"batch_details_key")
      .join(tables("main_table_batch_details").withColumnRenamed("row_key", "batch_details_key"),
        Seq("conv_id", "batch_details_key"))
    assert(joined.count() == 40)
    // FK: temperature child rows join their step parents on parent_key
    val stepJoin = tables("main_table_steps_temperature_records").select($"parent_key")
      .join(tables("main_table_steps").select($"row_key".as("parent_key")), Seq("parent_key"))
    assert(stepJoin.count() == wantTemps)
    recs.unpersist()
  }

  test("shredAll fails fast on reserved-column and table-name collisions") {
    import spark.implicits._
    val base = Seq(1).toDF("i")
    // array<struct> element reusing the walk's 'pos' key column
    val reservedClash = base.select(
      lit("c1").as("conv_id"),
      array(struct(lit(1).as("pos"), lit("x").as("v"))).as("items"))
    val e1 = intercept[IllegalArgumentException](ShredOps.shredAll(reservedClash))
    assert(e1.getMessage.contains("pos"))
    // field 'a' with child 'b' vs field 'a_b': both map to main_table_a_b
    val nameClash = base.select(
      lit("c1").as("conv_id"),
      struct(struct(lit(1).as("z")).as("b")).as("a"),
      struct(lit(2).as("w")).as("a_b"))
    val e2 = intercept[IllegalArgumentException](ShredOps.shredAll(nameClash))
    assert(e2.getMessage.contains("main_table_a_b"))
  }

  test("graph form: cross-doc identical subtrees merge to one node; edges follow containment") {
    import spark.implicits._
    import graft.model._
    val sharedSteps = Seq(ProcedureStep(1, "shared-step",
      Seq(TemperatureRecord("t0", 21.5), TemperatureRecord("t1", 22.0))))
    def rec(conv: String, product: String, steps: Seq[ProcedureStep]) = StructuredRecord(
      conv_id = conv,
      batch_details = BatchDetails(product, s"B-$conv",
        new java.sql.Timestamp(1735689600000L), new java.sql.Timestamp(1735693200000L)),
      material_usage_rows = Seq.empty,
      steps = steps,
      equipment_no = Seq("EQ-1"))
    // two docs share an identical steps subtree; the third differs
    val records = Seq(
      rec("conv-a", "p1", sharedSteps),
      rec("conv-b", "p2", sharedSteps),
      rec("conv-c", "p3", Seq(ProcedureStep(1, "other-step", Seq(TemperatureRecord("t0", 30.0)))))
    ).toDF()
    val (vertices, edges) = GraphOps.graph(records)
    val v = vertices.as[(String, String, Long)].collect()
    // shared step node merged across conv-a and conv-b
    val stepNodes = v.filter(_._2 == "main_table_steps")
    assert(stepNodes.length == 2, s"expected 2 distinct step nodes, got ${stepNodes.toSeq}")
    assert(stepNodes.map(_._3).sorted.toSeq == Seq(1L, 2L), "shared step must merge n_merged=2")
    // identical temperature records merge too (t0/t1 shared by a+b)
    val tempNodes = v.filter(_._2 == "main_table_steps_temperature_records")
    assert(tempNodes.length == 3)
    // every conv has distinct batch_details (product differs) -> 3 nodes
    assert(v.count(_._2 == "main_table_batch_details") == 3)
    // root nodes: equipment CSV identical across all three -> ONE node, n_merged=3
    val rootNodes = v.filter(_._2 == "main_table")
    assert(rootNodes.length == 1 && rootNodes.head._3 == 3L)

    val e = edges.as[(String, String, String)].collect()
    assert(e.forall(_._3 == "HAS"))
    // edge count: root->batch_details 3 (distinct roots? root merged to 1 sig,
    // 3 distinct batch_details sigs -> 3 distinct edges), root->step 2 distinct
    // (shared step from one root sig + other step), step->temp: shared step
    // has 2 temps, other step 1 -> 3 distinct edges
    val byPair = e.map(x => (x._1, x._2)).toSet
    assert(byPair.size == e.length, "edges must be deduplicated")
    val stepSigs = stepNodes.map(_._1).toSet
    val tempEdges = e.filter(x => stepSigs.contains(x._1))
    assert(tempEdges.length == 3, s"step->temperature edges: ${tempEdges.toSeq}")
  }

  test("registry: dense deterministic ids 1..N") {
    import spark.implicits._
    val df = ShredOps.structuredRecords(spark, 80).toDF()
    val reg1 = ShredOps.registry(df).as[(String, Long)].collect().toMap
    val reg2 = ShredOps.registry(df).as[(String, Long)].collect().toMap
    assert(reg1 == reg2, "registry must be deterministic")
    assert(reg1.values.toSeq.sorted == (1L to 80L), "ids must be dense 1..N")
    assert(reg1.size == 80)
    // reg_id is the GLOBAL rank by conv_id (oracle: row_number over order)
    val expected = reg1.keys.toSeq.sorted.zipWithIndex
      .map { case (c, i) => (c, i + 1L) }.toMap
    assert(reg1 == expected, "reg_id must equal global rank by conv_id")
  }

  test("rule violations match local recomputation; delete removes convs") {
    import spark.implicits._
    val recs = ShredOps.structuredRecords(spark, 60).cache()
    val df = recs.toDF()
    val localViolations = recs.collect()
      .map(r => r.conv_id -> r.material_usage_rows.count(m =>
        m.actual_quantity < m.allowed_range_min || m.actual_quantity > m.allowed_range_max))
      .filter(_._2 > 0).toMap
    val got = ShredOps.ruleViolations(df)
      .select("conv_id", "n_violations").as[(String, Long)].collect().toMap
    assert(got == localViolations.map { case (k, v) => k -> v.toLong })

    val toDelete = df.filter(col("conv_id") < "conv-000005").select("conv_id").distinct()
    val remaining = ShredOps.deleteConv(ShredOps.shredMaterialUsage(df), toDelete)
    assert(remaining.filter(col("conv_id") < "conv-000005").count() == 0)
    assert(remaining.count() > 0)
    recs.unpersist()
  }

  test("media features: deterministic byte stats with real binary plumbing") {
    import spark.implicits._
    val feats = MultimodalOps.mediaFeatures(spark, dir)
      .as[(Long, Int, Int, Long)].collect()
      .map { case (id, n, top, sum) => id -> ((n, top, sum)) }.toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    docs.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val counts = bytes.groupBy(b => b & 0xff).view.mapValues(_.length).toMap
      val expectTop =
        if (bytes.isEmpty) 0
        else counts.toSeq.minBy { case (b, c) => (-c, b) }._1
      assert(feats(id)._1 == bytes.length)
      assert(feats(id)._2 == expectTop, s"doc $id top byte")
      assert(feats(id)._3 == bytes.map(b => (b & 0xff).toLong).sum, s"doc $id byte sum")
    }
  }

  test("frame sample: windows at stride, tail frame covers every byte") {
    import spark.implicits._
    val frames = MultimodalOps.frameSample(spark, dir)
      .as[(Long, Int, Int, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2)).toMap
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    docs.foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val n = bytes.length
      val starts = 0 until math.max(1, n) by 48
      val expected = starts.zipWithIndex.map { case (s, fi) =>
        val end = math.min(n, s + 64)
        var ck = 0L
        var i = s
        while (i < end) { ck = ck * 131 + (bytes(i) & 0xff); i += 1 }
        (id, fi, end - s, ck)
      }
      assert(frames(id).toSeq == expected, s"doc $id frames")
      // every byte is covered: the last frame reaches the end of payload
      assert(math.min(n, starts.last + 64) == n, s"doc $id tail coverage")
    }
  }

  test("embedding dup pairs: exactly the same-bucket pairs above threshold (planted near-dups)") {
    import spark.implicits._
    // planted corpus: 24 base vectors + a jittered near-copy of each of
    // the first 8 (cosine > 0.95 to its base) — written to a temp dir so
    // the operator runs its real parquet-scan path
    def unit(seed: Long): Array[Float] = {
      val v = Array.tabulate(32) { d =>
        ((TextAlgos.mix64(seed * 1013L + d) >> 11).toDouble / (1L << 52).toDouble).toFloat
      }
      v
    }
    val bases = (0L until 24L).map(i => (i, unit(i)))
    val dups = (0L until 8L).map { i =>
      val b = bases(i.toInt)._2
      val jit = b.zipWithIndex.map { case (x, d) =>
        x + 0.01f * ((TextAlgos.mix64(900 + i * 37 + d) >> 11).toDouble / (1L << 52).toDouble).toFloat
      }
      (100L + i, jit)
    }
    val all = bases ++ dups
    val tmp = tempDir("graft-embdup").toString
    all.toDF("vec_id", "embedding").write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")

    val threshold = 9500
    val nPlanes = 4
    val gotRows = DedupOps.embeddingDupPairs(spark, tmp, threshold, nPlanes)
      .as[(Long, Long, Long)].collect()
    val got = gotRows.toSet
    // multi-table candidates must never produce duplicate pair rows
    assert(gotRows.length == got.size, "duplicate (vec_a, vec_b) rows")
    // local truth: brute-force all pairs — same bucket in ANY table + exact cosine
    val expected = (for {
      (ia, va) <- all
      (ib, vb) <- all
      if ia < ib
      if (0 until DedupOps.EmbDupNTables).exists { t =>
        TextAlgos.hyperplaneBucket(va, nPlanes, t * nPlanes) ==
          TextAlgos.hyperplaneBucket(vb, nPlanes, t * nPlanes)
      }
      c = math.floor(TextAlgos.cosine(va, vb) * 10000).toLong
      if c >= threshold
    } yield (ia, ib, c)).toSet
    assert(got == expected)
    // the planted near-dups must actually be found (non-vacuous test);
    // OR-amplification should catch MORE of the 8 planted pairs than the
    // ~0.43-recall single table did
    assert(expected.size >= 6, s"only ${expected.size} planted pairs survived bucketing")

    // out-of-contract DUPLICATE vec_id rows fan out through the fetch
    // joins; the post-threshold dedup must keep the output identical
    val tmp2 = tempDir("graft-embdup2").toString
    (all ++ all.take(5)).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp2/embeddings.parquet")
    val got2 = DedupOps.embeddingDupPairs(spark, tmp2, threshold, nPlanes)
      .as[(Long, Long, Long)].collect()
    assert(got2.length == got2.toSet.size, "duplicate pairs under duplicate input rows")
    assert(got2.toSet == got, "duplicate input rows changed the pair set")
  }

  test("page-range parse: '1-3,5' style strings explode to the exact page lists") {
    import spark.implicits._
    val df = Seq((1L, "1-3,5"), (2L, "7"), (3L, "2-2,4-6,9")).toDF("doc_id", "page_ranges")
    val got = RelationalOps.parsePageRanges(df, "page_ranges")
      .select("doc_id", "page").as[(Long, Int)].collect().toSeq.sorted
    val expected = Seq(1L -> Seq(1, 2, 3, 5), 2L -> Seq(7), 3L -> Seq(2, 4, 5, 6, 9))
      .flatMap { case (id, ps) => ps.map(id -> _) }.sorted
    assert(got == expected)
  }

  test("base64 transport round-trips binary payloads exactly") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val roundTrip = MultimodalOps.fromBase64Transport(
      MultimodalOps.toBase64Transport(docs, "payload"), "payload_b64", "decoded")
    val bad = roundTrip
      .filter(not(col("decoded") === col("payload")))
      .count()
    assert(bad == 0, s"$bad payloads failed the base64 round-trip")
    // no MIME line-wrapping in the encoded form (transport must be 1-line)
    val wrapped = roundTrip.filter(col("payload_b64").contains("\n")).count()
    assert(wrapped == 0, "base64 output contains newlines")
  }

  test("sessionization matches a naive per-user recompute; durations consistent") {
    import spark.implicits._
    val gap = RelationalOps.SessionGapUs
    val events = RelationalOps.table(spark, dir, "events")
      .select($"user_id", $"event_id", unix_micros($"ts".cast("timestamp")), $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val want = events.groupBy(_._1).flatMap { case (u, es) =>
      val sorted = es.sortBy(e => (e._3, e._2))
      var idx = -1
      var prev = Long.MinValue
      val tagged = sorted.map { e =>
        if (prev == Long.MinValue || e._3 - prev > gap) idx += 1
        prev = e._3
        (idx, e)
      }
      tagged.groupBy(_._1).map { case (s, ts) =>
        (u, s) -> ((ts.size.toLong, ts.map(_._2._3).min, ts.map(_._2._3).max,
          ts.count(_._2._4 == "error").toLong))
      }
    }
    val got = RelationalOps.sessionize(spark, dir)
      .select($"user_id", $"session_idx", $"n_events",
        unix_micros($"start_ts".cast("timestamp")),
        unix_micros($"end_ts".cast("timestamp")), $"duration_us", $"n_errors")
      .as[(Long, Int, Long, Long, Long, Long, Long)].collect()
    val gotMap = got.map(r => (r._1, r._2.toInt) -> ((r._3, r._4, r._5, r._7))).toMap
    assert(gotMap.keySet == want.keySet, "session key sets differ")
    gotMap.foreach { case (k, v) => assert(v == want(k), s"session $k") }
    got.foreach(r => assert(r._6 == r._5 - r._4, s"duration mismatch for ${(r._1, r._2)}"))
    // the threshold must exercise both regimes on this corpus
    assert(got.exists(_._2 > 0), "expected a user with multiple sessions")
    assert(got.exists(_._3 > 1), "expected a multi-event session")
  }

  test("asofJoin matches a brute-force latest-prior-view recompute, incl. NULL no-match") {
    import spark.implicits._
    val ev = RelationalOps.table(spark, dir, "events")
      .select($"event_id", $"user_id",
        unix_micros($"ts".cast("timestamp")), $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val views = ev.filter(_._4 == "view").groupBy(_._2)
    val want = ev.filter(_._4 == "purchase").map { case (id, u, us, _) =>
      val best = views.getOrElse(u, Array.empty)
        .filter(_._3 <= us).sortBy(v => (v._3, v._1)).lastOption
      (id, u, us, best.map(_._1).getOrElse(-1L), best.map(_._3).getOrElse(-1L))
    }.toSet
    val got = RelationalOps.asofJoin(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect()
    assert(got.map(r => (r._1, r._2, r._3, r._4, r._5)).toSet == want)
    got.foreach(r => assert(
      r._6 == (if (r._5 == -1L) -1L else r._3 - r._5), s"lag for ${r._1}"))
    assert(got.exists(_._4 == -1L), "corpus must exercise the no-prior-view sentinel path")
    assert(got.exists(_._4 >= 0L), "corpus must exercise real matches")
  }

  test("funnel matches a brute-force sequential-scan recompute; both regimes present") {
    import spark.implicits._
    val ev = RelationalOps.table(spark, dir, "events")
      .select($"event_id", $"user_id",
        unix_micros($"ts".cast("timestamp")), $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val w = RelationalOps.FunnelStepUs
    val want = ev.groupBy(_._2).map { case (u, rows) =>
      val ordered = rows.sortBy(r => (r._3, r._1))
      var lastView = -1L
      var lastQualClick = -1L
      var (nv, nc, nq, np, nconv) = (0L, 0L, 0L, 0L, 0L)
      var convLags = Vector.empty[Long]
      ordered.foreach { case (_, _, us, tpe) =>
        tpe match {
          case "click" =>
            nc += 1
            if (lastView >= 0 && us - lastView <= w) { nq += 1; lastQualClick = us }
          case "purchase" =>
            np += 1
            if (lastQualClick >= 0 && us - lastQualClick <= w) {
              nconv += 1; convLags :+= (us - lastQualClick)
            }
          case _ => ()
        }
        // carries see only PRECEDING rows, so update view state after
        if (tpe == "view") { nv += 1; lastView = us }
      }
      u -> ((nv, nc, nq, np, nconv,
        if (convLags.isEmpty) -1L else convLags.min,
        if (convLags.isEmpty) -1L else convLags.max))
    }
    val got = RelationalOps.funnel(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7, r._8))).toMap
    assert(got == want)
    assert(got.values.exists(_._5 > 0L), "corpus must contain conversions")
    assert(got.values.exists(v => v._5 < v._4), "corpus must contain non-converting purchases")
  }

  test("rangeFollowups matches a brute-force interval count, incl. zero-followup errors") {
    import spark.implicits._
    val ev = RelationalOps.table(spark, dir, "events")
      .select($"event_id", $"user_id",
        unix_micros($"ts".cast("timestamp")), $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val byUser = ev.groupBy(_._2)
    val w = RelationalOps.FollowupWindowUs
    val want = ev.filter(_._4 == "error").map { case (id, u, us, _) =>
      (id, u) -> byUser(u).count(x => x._3 > us && x._3 <= us + w).toLong
    }.toMap
    val got = RelationalOps.rangeFollowups(spark, dir)
      .as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got == want)
    assert(got.values.exists(_ == 0L), "corpus must exercise the zero-followup path")
    assert(got.values.exists(_ > 0L), "corpus must exercise real followups")
  }

  test("kmvDistinct: sketch state matches a local recompute; estimate brackets truth") {
    import spark.implicits._
    val ev = RelationalOps.table(spark, dir, "events")
      .select($"event_type", $"value").as[(String, Double)].collect()
    def h(cents: Long): Long =
      java.lang.Long.parseLong(sha256Hex(cents.toString).substring(0, 8), 16)
    val k = RelationalOps.KmvK
    val byType = ev.groupBy(_._1).map { case (t, rs) =>
      t -> rs.map(r => math.round(r._2 * 100)).distinct.map(h).distinct.sorted
    }
    val got = RelationalOps.kmvDistinct(spark, dir)
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == byType.keySet)
    byType.foreach { case (t, hashes) =>
      val kept = hashes.take(k)
      val (_, nKmv, kth, est) = got(t)
      assert(nKmv == kept.length && kth == kept.last, s"sketch state for $t")
      val exact = hashes.length.toLong
      if (exact < k) assert(est == exact, s"sub-k group $t must be exact")
      else assert(est >= exact / 2 && est <= exact * 2,
        s"KMV estimate $est vs exact $exact for $t outside 2x bracket")
    }
    // the corpus must exercise the ESTIMATOR branch, not just exact
    assert(byType.values.exists(_.length > k), "need a group with > k distinct values")
  }

  test("KMV sketch is mergeable: k-smallest of two states' union == sketch of the union") {
    // the property that makes KMV a distributed sketch: partial states
    // combine by keeping the k smallest of the union — verified against
    // a from-scratch sketch of the concatenated data
    val k = RelationalOps.KmvK
    def h(x: Long): Long = java.lang.Long.parseLong(
      sha256Hex(x.toString).substring(0, 8), 16)
    val partA = (0L until 300L).map(h).distinct.sorted.take(k)
    val partB = (200L until 500L).map(h).distinct.sorted.take(k)
    val merged = (partA ++ partB).distinct.sorted.take(k)
    val direct = (0L until 500L).map(h).distinct.sorted.take(k)
    assert(merged == direct, "merge of partial sketches must equal the direct sketch")
  }

  test("invertedIndex: postings match a local recompute, doc-ordered") {
    import spark.implicits._
    val docs = RelationalOps.table(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val want = docs
      .flatMap { case (id, t) => t.trim.split("\\s+").filter(_.nonEmpty).map((id, _)) }
      .groupBy(_._2).map { case (word, occ) =>
        val byDoc = occ.groupBy(_._1).map { case (d, o) => (d, o.length.toLong) }.toSeq.sortBy(_._1)
        word -> ((byDoc.length.toLong, byDoc.map(_._2).sum,
          byDoc.map { case (d, tf) => s"$d:$tf" }.mkString(",")))
      }
    val got = TextOps.invertedIndex(spark, dir)
      .as[(String, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == want)
  }

  test("temperatureMix: exact isqrt weights and fixed-point shares match a recompute") {
    import spark.implicits._
    def isqrt(n: Long): Long = {
      var x = math.max(0L, math.sqrt(n.toDouble).toLong)
      while (x > 0 && x * x > n) x -= 1
      while ((x + 1) <= 3037000499L && (x + 1) * (x + 1) <= n) x += 1
      x
    }
    val docs = RelationalOps.table(spark, dir, "documents")
      .select($"source", $"text").as[(String, String)].collect()
    val per = docs.groupBy(_._1).map { case (s, ds) =>
      s -> ((ds.length.toLong,
        ds.map(_._2.trim.split("\\s+").count(_.nonEmpty).toLong).sum))
    }
    val totW = per.values.map(v => isqrt(v._2)).sum
    val totT = per.values.map(_._2).sum
    val want = per.map { case (s, (nd, nt)) =>
      val w = isqrt(nt)
      val share = w * 10000L / totW
      val raw = nt * 10000L / totT
      s -> ((nd, nt, w, share, raw, if (raw == 0) -1L else share * 10000L / raw))
    }
    val got = TrainingOps.temperatureMix(spark, dir)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7))).toMap
    assert(got == want)
    assert(got.size > 1, "corpus must contain several sources")
  }

  test("quantizeEmbeddings: codes round-trip a driver recompute; max code saturates") {
    import spark.implicits._
    val vecs = RelationalOps.table(spark, dir, "embeddings")
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    def sha(s: String): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val want = vecs.map { case (id, v) =>
      val amax = math.max(v.map(x => math.abs(x.toDouble)).max, 1e-30)
      val codes = v.map(x => math.floor(x.toDouble / amax * 127.0 + 0.5).toInt)
      id -> ((v.length, math.floor(amax * 1000000.0).toLong,
        codes.map(c => math.abs(c).toLong).sum,
        codes.count(c => math.abs(c) == 127).toLong,
        sha(codes.mkString(","))))
    }.toMap
    val got = graft.ops.SimilarityOps.quantizeEmbeddings(spark, dir)
      .as[(Long, Int, Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got == want)
    // absmax symmetric quantization always saturates at least one code
    assert(got.values.forall(_._4 >= 1L))
    // reconstruction error bound: |x - code*amax/127| <= amax/254 + eps
    vecs.take(20).foreach { case (id, v) =>
      val amax = math.max(v.map(x => math.abs(x.toDouble)).max, 1e-30)
      v.foreach { x =>
        val c = math.floor(x.toDouble / amax * 127.0 + 0.5)
        assert(math.abs(x.toDouble - c * amax / 127.0) <= amax / 254.0 * 1.0001, s"vec $id")
      }
    }
  }

  test("quantizedRecall: high overlap with the float top-k; local brute agreement") {
    import spark.implicits._
    val k = graft.ops.SimilarityOps.DefaultK
    val got = graft.ops.SimilarityOps.quantizedRecall(spark, dir)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.size == graft.ops.SimilarityOps.NQueries)
    got.foreach { case (q, (n, rec)) =>
      assert(n >= 0L && n <= k, s"query $q overlap $n")
      assert(rec == n * 10000L / k, s"query $q recall arithmetic")
    }
    // int8 over these dims preserves cosine ranking almost perfectly:
    // mean recall must be high, else the quantizer is broken
    val mean = got.values.map(_._2).sum / got.size
    assert(mean >= 8000L, s"mean quantized recall_x10000 $mean too low")
  }

  test("epochSchedule: exact targets and repeat factors; both regimes occur") {
    import spark.implicits._
    def isqrt(n: Long): Long = {
      var x = math.max(0L, math.sqrt(n.toDouble).toLong)
      while (x > 0 && x * x > n) x -= 1
      while ((x + 1) <= 3037000499L && (x + 1) * (x + 1) <= n) x += 1
      x
    }
    val docs = RelationalOps.table(spark, dir, "documents")
      .select($"source", $"text").as[(String, String)].collect()
    val per = docs.groupBy(_._1).view.mapValues(
      _.map(_._2.trim.split("\\s+").count(_.nonEmpty).toLong).sum).toMap
    val totW = per.values.map(isqrt).sum
    val b = TrainingOps.TrainTokenBudget
    val want = per.map { case (s, nt) =>
      val w = isqrt(nt)
      val target = b * w / totW
      val ep = target * 100L / math.max(nt, 1L)
      s -> ((nt, w, target, ep, ep > 100L))
    }
    val got = TrainingOps.epochSchedule(spark, dir)
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got == want)
    // the sf corpus' sources are near-uniform (documented in q132), so
    // the regime split is pinned on a SKEWED local corpus instead
    val skewDir = tempDir("graft-epoch").toString
    Seq(
      (1L, "big", ("w " * 1000).trim),
      (2L, "small", ("w " * 16).trim))
      .toDF("doc_id", "source", "text")
      .write.parquet(s"$skewDir/documents.parquet")
    val skew = TrainingOps.epochSchedule(spark, skewDir, budget = 350L)
      .as[(String, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._6).toMap
    assert(skew == Map("big" -> false, "small" -> true),
      "a tight budget must oversample only the small source")
  }

  test("isqrtSql fragment is exact at perfect-square boundaries (Spark side)") {
    import spark.implicits._
    val ns = Seq(0L, 1L, 2L, 3L, 4L, 8L, 9L, 10L, 99L, 100L, 101L,
      (1L << 31) - 1, 1L << 31, 4611686014132420608L /* 2147483647^2 - 1 */,
      4611686014132420609L /* 2147483647^2 */)
    val got = ns.toDF("n")
      .selectExpr(s"n", s"${TrainingOps.isqrtSql("n")} AS r")
      .as[(Long, Long)].collect().toMap
    ns.foreach { n =>
      val r = got(n)
      assert(r * r <= n && (r + 1) * (r + 1) > n, s"isqrt($n) = $r wrong")
    }
  }

  test("phraseQuery: adjacency matches a local recompute; 1-based first_pos") {
    import spark.implicits._
    val docs = RelationalOps.table(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val Seq(t0, t1) = TextOps.PhraseDefaultTerms
    val want = docs.flatMap { case (id, t) =>
      val toks = t.trim.split("\\s+").filter(_.nonEmpty)
      val starts = toks.indices.dropRight(1)
        .filter(i => toks(i) == t0 && toks(i + 1) == t1)
      if (starts.isEmpty) None
      else Some((id, starts.length.toLong, (starts.min + 1).toLong))
    }.sortBy(r => (-r._2, r._1)).take(TextOps.PhraseK).toSeq
    val got = TextOps.phraseQuery(spark, dir).as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
    assert(got.nonEmpty, "corpus must contain the default phrase")
  }

  test("phraseQuery: repeated-token phrases count overlapping occurrences") {
    import spark.implicits._
    val tmp = tempDir("phraseq").toString
    Seq((1L, "batch batch batch end", "en", "s", 4L),
        (2L, "batch end batch batch", "en", "s", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val got = TextOps.phraseQuery(spark, tmp, Seq("batch", "batch"))
      .as[(Long, Long, Long)].collect().toSeq
    // doc 1: positions 1-2 and 2-3 overlap -> 2 matches; doc 2: one match
    assert(got == Seq((1L, 2L, 1L), (2L, 1L, 3L)))
  }

  test("bm25TopK: exact integer chain matches a local recompute; ordering pinned") {
    import spark.implicits._
    val docs = RelationalOps.table(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val terms = TextOps.Bm25DefaultTerms.toSet
    val dl = docs.map { case (id, t) =>
      id -> t.trim.split("\\s+").count(_.nonEmpty).toLong }.toMap
    val n = docs.length.toLong
    val avgdlX100 = dl.values.sum * 100 / n
    val occ = docs.flatMap { case (id, t) =>
      t.trim.split("\\s+").filter(terms).map((id, _)) }
    val tf = occ.groupBy(identity).map { case ((id, w), o) => (id, w) -> o.length.toLong }
    val dfm = occ.groupBy(_._2).map { case (w, o) => w -> o.map(_._1).distinct.length.toLong }
    def bits(x: Long): Long = 64 - java.lang.Long.numberOfLeadingZeros(x) - 1
    val scores = tf.toSeq.map { case ((id, w), t) =>
      val idf = bits(n * 10000L / dfm(w))
      val norm = (100L - TextOps.Bm25BX100) + TextOps.Bm25BX100 * dl(id) * 100L / avgdlX100
      val tfp = t * (TextOps.Bm25K1X100 + 100L) * 10000L /
        (t * 100L + TextOps.Bm25K1X100 * norm / 100L)
      id -> idf * tfp
    }.groupBy(_._1).map { case (id, xs) => (id, xs.length.toLong, xs.map(_._2).sum) }
    val want = scores.toSeq.sortBy(r => (-r._3, r._1)).take(TextOps.Bm25K)
    val got = TextOps.bm25TopK(spark, dir).as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
    assert(got.size == TextOps.Bm25K, "corpus must fill the top-k")
  }

  test("token quantiles: integer rank math matches a sorted-values recompute") {
    import spark.implicits._
    val docs = RelationalOps.table(spark, dir, "documents")
      .select($"lang", $"text").as[(String, String)].collect()
      .map { case (l, t) => (l, t.trim.split("\\s+").count(_.nonEmpty).toLong) }
    val want = docs.groupBy(_._1).flatMap { case (lang, ds) =>
      val sorted = ds.map(_._2).sorted
      val n = sorted.length.toLong
      TextOps.QuantilePcts.map { p =>
        (lang, p) -> ((sorted(((n * p + 99) / 100).toInt - 1), n))
      }
    }
    val got = TextOps.tokenQuantiles(spark, dir)
      .as[(String, Int, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(v == want(k), s"quantile $k") }
    // p50 < p99 for at least one language (distribution actually spreads)
    assert(got.exists { case ((l, p), (v, _)) => p == 50 && v < got((l, 99))._1 })
  }

  test("image codec: PNG encode->decode round-trip is pixel-exact vs planted pixels") {
    import spark.implicits._
    val W = MultimodalOps.ImgWidth
    val docs = RelationalOps.table(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val want = docs.map { case (id, text) =>
      val t = Option(text).getOrElse("").take(MultimodalOps.ImgMaxChars)
      val px = t.map(c => c.toInt & 0xff)
      val h = math.max(1, (px.length + W - 1) / W)
      def at(i: Int): Int = if (i < px.length) px(i) else 0
      val thumb = (0 until 64).map { j =>
        at((j / 8 * h / 8) * W + (j % 8) * (W / 8)).toLong
      }.sum
      id -> ((W, h, px.map(_.toLong).sum, if (px.isEmpty) 0 else px.max, thumb))
    }.toMap
    val got = MultimodalOps.imageFeatures(spark, dir)
      .as[(Long, Int, Int, Long, Int, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(v == want(k), s"doc $k") }
  }

  test("image codec: BMP round-trip equals the PNG one exactly (both lossless)") {
    import spark.implicits._
    val png = MultimodalOps.codecFeatures(spark, dir, "png")
      .as[(Long, Int, Int, Long, Int, Long)].collect().sortBy(_._1).toSeq
    val bmp = MultimodalOps.codecFeatures(spark, dir, "bmp")
      .as[(Long, Int, Int, Long, Int, Long)].collect().sortBy(_._1).toSeq
    assert(png == bmp, "BMP features must be pixel-identical to PNG's")
  }

  test("image codec: JPEG decode is lossy but bounded; dimensions survive") {
    import spark.implicits._
    val errs = MultimodalOps.codecError(spark, dir, "jpg")
      .as[(Long, Int, Int, Int, Long)].collect()
    assert(errs.nonEmpty)
    errs.foreach { case (id, w, h, maxErr, sumErr) =>
      assert(w == MultimodalOps.ImgWidth, s"doc $id width")
      // planted planes are high-frequency noise (text codepoints), the
      // worst case for JPEG — still the decode must stay within a sane
      // per-sample band and err=0 would mean we silently fell back to a
      // lossless path
      assert(maxErr <= 160, s"doc $id max sample error $maxErr out of band")
      val mean = sumErr.toDouble / (w.toLong * h)
      assert(mean <= 48.0, s"doc $id mean sample error $mean out of band")
    }
    // lossiness must actually be observed somewhere, or 'jpg' wasn't jpg
    assert(errs.exists(_._4 > 0), "every JPEG decode was exact — wrong codec?")
  }

  test("tf-idf keywords: integer whole-bit scoring matches a naive recompute") {
    import spark.implicits._
    val docs = RelationalOps.table(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .map { case (id, t) => id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq }
    val n = docs.length.toLong
    val df = docs.flatMap { case (id, ws) => ws.distinct.map(w => (w, id)) }
      .groupBy(_._1).map { case (w, xs) => w -> xs.length.toLong }
    def bits(x: Long): Long = java.lang.Long.toBinaryString(x).length.toLong - 1
    val want = docs.flatMap { case (id, ws) =>
      val tf = ws.groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
      tf.toSeq
        .map { case (w, f) => (w, f, f * bits(n * 10000L / df(w))) }
        .sortBy { case (w, _, s) => (-s, w) }
        .take(graft.ops.TextOps.KeywordK)
        .zipWithIndex
        .map { case ((w, f, s), i) => (id, w) -> ((f, s, i + 1)) }
    }.toMap
    val got = TextOps.tfidfKeywords(spark, dir)
      .as[(Long, String, Long, Long, Int)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) => assert(v == want(k), s"keyword $k") }
  }

  test("rule registry: persists across reopen, rejects duplicates, violations match filters") {
    import spark.implicits._
    val path = tempDir("graft-rr").toString + "/rules.tsv"
    val reg = new graft.pipeline.RuleRegistry(path)
    reg.register("in_range", "actual_quantity BETWEEN allowed_range_min AND allowed_range_max",
      Seq("qa@x.example", "lead@x.example"))
    intercept[IllegalArgumentException](reg.register("in_range", "true"))
    intercept[IllegalArgumentException](
      reg.register("bad_recipient", "true", Seq("a,b@x.example")))
    // a tab would split the tab-delimited registry line into extra fields
    intercept[IllegalArgumentException](
      reg.register("tab_pred", "a BETWEEN 1\tAND 5"))
    reg.register("independent_check", "performed_by != checked_by")
    val reopened = new graft.pipeline.RuleRegistry(path)
    assert(reopened.rules().map(_._1) == Seq("in_range", "independent_check"))
    // recipients persist across reopen; a rule without any loads as empty
    assert(reopened.rules().map(_._3) ==
      Seq(Seq("qa@x.example", "lead@x.example"), Seq.empty))

    val shredded = ShredOps.shredMaterialUsage(
      ShredOps.structuredRecords(spark, 50).toDF()).cache()
    val alerts = reopened.evaluate(shredded).cache()
    // every alert is routable: recipients match the rule's stored list
    assert(alerts.filter(col("rule_name") === "in_range")
      .select("recipients").distinct().as[String].collect().toSeq ==
      Seq("qa@x.example,lead@x.example"))
    assert(alerts.filter(col("rule_name") === "independent_check")
      .select("recipients").distinct().as[String].collect().toSeq == Seq(""))
    val got = alerts.select("rule_name", "conv_id", "n_violations")
      .as[(String, String, Long)].collect().toSet
    def expectFor(name: String, pred: org.apache.spark.sql.Column) = shredded
      .filter(!pred).groupBy($"conv_id").count()
      .as[(String, Long)].collect().map { case (c, n) => (name, c, n) }.toSet
    val expected =
      expectFor("in_range", col("actual_quantity")
        .between(col("allowed_range_min"), col("allowed_range_max"))) ++
      expectFor("independent_check", col("performed_by") =!= col("checked_by"))
    assert(got == expected)
    assert(got.exists(_._1 == "independent_check"), "no self-check violations in corpus (vacuous)")
    alerts.unpersist()
    shredded.unpersist()
  }

  test("exact-before-near composition: a 1000-copy exact-dup clique stays O(clique), never O(clique^2)") {
    import spark.implicits._
    val dir = tempDir("graft-clique").toString
    val base = (0 until 60).map(i => s"tok${i * 7 % 61} w$i").mkString(" ")
    val rows = (0L until 1000L).map(i => (i, "en", base)) ++ Seq(
      (1000L, "en", base + " tail alpha"),
      (1001L, "en", base + " tail beta"),
      (1002L, "en", (0 until 90).map(i => s"z$i q${i % 7}").mkString(" ")))
    rows.toDF("doc_id", "lang", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val canon = DedupOps.canonicalDocs(spark, dir)
    assert(canon.count() == 4)
    assert(canon.select("doc_id").as[Long].collect().toSet == Set(0L, 1000L, 1001L, 1002L),
      "canonical = min doc_id per distinct content")
    val pairs = DedupOps.nearDupPairsCanonical(spark, dir).collect()
    // the clique collapsed to one canonical BEFORE banding: pair count is
    // bounded by the canonical set (C(3,2)=3), not the raw clique's ~500k
    assert(pairs.length <= 3, s"composition leaked clique pairs: ${pairs.length}")
    assert(pairs.nonEmpty, "planted tail variants must verify as near-dups")
    pairs.foreach { r =>
      assert(Set(0L, 1000L, 1001L).contains(r.getLong(0)), r.toString)
      assert(Set(0L, 1000L, 1001L).contains(r.getLong(1)), r.toString)
    }
  }

  test("lang id: scores nonnegative, predicted in domain, en beats others on English text") {
    import spark.implicits._
    val out = TextOps.langId(spark, dir)
    val domain = Set("en", "fr", "es", "de", "unknown")
    out.select("predicted_lang").as[String].collect().foreach(l => assert(domain.contains(l)))
  }

  test("LM surprise: matches a full local integer recompute; gate genuinely splits") {
    import spark.implicits._
    def toks(t: String): Array[String] = t.trim.split("\\s+").filter(_.nonEmpty)
    def bits(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x) // floor(log2), x >= 1
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    // local twin of the engine's train-side: quality gate, counts, top-V
    val trainToks = docs.flatMap { case (_, t) =>
      val tk = toks(t)
      val letters = t.replaceAll("\\s", "").length
      val meanLen = math.floor(letters * 100.0 / tk.length).toLong
      if (tk.length >= 10 && tk.length <= 100000 && meanLen >= 150 && meanLen <= 1200) tk
      else Array.empty[String]
    }
    val counts = trainToks.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val nTotal = counts.values.sum
    val vocab = counts.toSeq.sortBy { case (t, c) => (-c, t) }.take(TextOps.LmVocabSize).toMap
    val surprise = vocab.map { case (t, c) => t -> (bits(nTotal) - bits(c)) }
    val localScore = docs.map { case (id, t) =>
      val tk = toks(t)
      val s = tk.map(w => surprise.getOrElse(w, bits(nTotal))).sum
      id -> (tk.length.toLong, s, if (tk.isEmpty) 0L else s * 100 / tk.length)
    }.toMap
    val got = TextOps.lmSurprise(spark, dir)
      .select($"doc_id", $"n_tokens", $"surprise_bits", $"mean_surprise_x100", $"lm_pass")
      .as[(Long, Long, Long, Long, Boolean)].collect()
    assert(got.length == docs.length)
    got.foreach { case (id, n, s, m, pass) =>
      val (ln, ls, lm) = localScore(id)
      assert((n, s, m) == (ln, ls, lm), s"doc $id")
      assert(pass == (n > 0 && m <= TextOps.LmSurpriseThresholdX100))
    }
    val passes = got.count(_._5)
    assert(passes > 0 && passes < got.length,
      s"threshold must genuinely split the corpus, passed $passes/${got.length}")
  }

  test("ccnet buckets: value-threshold terciles match a local recompute; ties share buckets") {
    import spark.implicits._
    val lang = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val surprise = TextOps.lmSurprise(spark, dir)
      .select($"doc_id", $"mean_surprise_x100").as[(Long, Long)].collect()
    val sMap = surprise.toMap
    val byLang = surprise.groupBy { case (id, _) => lang(id) }
    // local twin of the histogram threshold scan: t_head = smallest value
    // whose cumulative count reaches n/3 (ceil), t_middle at 2n/3
    val th = byLang.map { case (lg, rows) =>
      val n = rows.length.toLong
      val hist = rows.map(_._2).groupBy(identity).view
        .mapValues(_.length.toLong).toSeq.sortBy(_._1)
      var cum = 0L
      var tHead = Option.empty[Long]; var tMid = Option.empty[Long]
      hist.foreach { case (v, c) =>
        cum += c
        if (tHead.isEmpty && cum * 3 >= n) tHead = Some(v)
        if (tMid.isEmpty && cum * 3 >= n * 2) tMid = Some(v)
      }
      lg -> ((tHead.get, tMid.get))
    }
    val got = TextOps.ccnetBuckets(spark, dir)
      .select($"doc_id", $"lang", $"mean_surprise_x100",
        $"head_max_x100", $"middle_max_x100", $"ccnet_bucket")
      .as[(Long, String, Long, Long, Long, String)].collect()
    assert(got.length == surprise.length)
    got.foreach { case (id, lg, m, hm, mm, b) =>
      assert(lg == lang(id) && m == sMap(id), s"doc $id")
      val (t1, t2) = th(lg)
      assert((hm, mm) == (t1, t2), s"thresholds for $lg: got ($hm,$mm) want ($t1,$t2)")
      val expect = if (m <= t1) "head" else if (m <= t2) "middle" else "tail"
      assert(b == expect, s"doc $id bucket")
    }
    val dist = got.groupBy(_._6).view.mapValues(_.length).toMap
    assert(dist.keySet == Set("head", "middle", "tail"),
      s"all three buckets must be inhabited at verify scale: $dist")
    // head holds at least its tercile by construction (ties only inflate)
    byLang.foreach { case (lg, rows) =>
      val heads = got.count(r => r._2 == lg && r._6 == "head")
      assert(heads * 3 >= rows.length, s"$lg head tercile too small: $heads/${rows.length}")
    }
  }

  test("curation funnel: monotone stages, raw count exact, stage 5 == the q40 keep-list") {
    import spark.implicits._
    val got = CurationOps.curationFunnel(spark, dir)
      .as[(String, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).toSeq ==
      Seq("1_raw", "2_quality", "3_lang", "4_dedup", "5_balanced"))
    val m = got.map(r => r._1 -> r).toMap
    val stagesDocs = got.map(_._2)
    assert(stagesDocs.zip(stagesDocs.tail).forall { case (a, b) => a >= b },
      s"funnel must contract monotonically: ${stagesDocs.toSeq}")
    val nRaw = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(m("1_raw")._2 == nRaw)
    // the audited keep-list IS q40's: same size, same token mass
    val keep = CurationOps.curate(spark, dir).select($"doc_id").as[Long].collect().toSet
    assert(m("5_balanced")._2 == keep.size.toLong)
    val keepTokens = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
      .filter(d => keep(d._1))
      .map(d => SparkSessionFixture.sparkTokenCount(d._2)).sum
    assert(m("5_balanced")._3 == keepTokens)
    // retention column is the exact integer ratio
    got.foreach(r => assert(r._4 == r._2 * 10000 / nRaw, s"stage ${r._1}"))
    // the funnel is non-trivial at verify scale: the chain as a whole
    // genuinely contracts (at sf0.001 the exact-dup pairs happen to fall
    // OUTSIDE the quality+lang survivor set, so stage 4 alone may be flat)
    assert(m("1_raw")._2 > m("5_balanced")._2, "the funnel must genuinely contract")
  }

  test("lang confusion: matrix counts and row percentages match the q16 frame") {
    import spark.implicits._
    val pred = TextOps.langId(spark, dir)
      .select($"lang", $"predicted_lang").as[(String, String)].collect()
    val expected = pred.groupBy(identity).map { case ((l, p), rows) =>
      val rowTotal = pred.count(_._1 == l).toLong
      (l, p, rows.length.toLong, rows.length.toLong * 10000 / rowTotal)
    }.toSet
    val got = TextOps.langConfusion(spark, dir)
      .as[(String, String, Long, Long)].collect().toSet
    assert(got == expected, s"got $got\nexpected $expected")
    assert(got.toSeq.map(_._3).sum == pred.length.toLong)
    // the matrix must be a real confusion matrix at verify scale: some
    // off-diagonal mass exists (the heuristic is not perfect)
    assert(got.exists { case (l, p, _, _) => l != p })
  }

  test("normalized dedup: raw keys miss every planted twin; clean keys collapse them all") {
    import spark.implicits._
    val got = TextOps.normalizedDedup(graft.synth.NormPairDocs.docs(spark, 50L))
      .as[(Long, String, Long, Long)].collect()
    assert(got.length == 50)
    // every raw text is unique; every cleaned text pairs exactly
    assert(got.forall(_._3 == 1L), "raw dedup must miss the twins")
    assert(got.forall(_._4 == 2L), "normalized dedup must pair every twin")
    // twins share the clean sha; the sha equals a hand-built expectation
    val byPair = got.groupBy(_._1 / 2)
    byPair.foreach { case (pair, rows) =>
      assert(rows.map(_._2).distinct.length == 1, s"pair $pair clean shas differ")
      val expect = sha256Hex(s"norm pair $pair shared body caf\u00e9 example end")
      assert(rows.head._2 == expect, s"pair $pair clean sha")
    }
  }

  test("source dup matrix: diagonal and cross cells match local recompute; diagonal fires") {
    import spark.implicits._
    val raw = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text", $"source").as[(Long, String, String)].collect()
    val docs = raw.map(r => (r._2, r._3)) ++
      raw.filter(_._1 % 7 == 0).map(r => (r._2, "mirror")) ++
      raw.filter(_._1 % 13 == 0).map(r => (r._2, r._3))
    val perHS = docs.groupBy { case (t, s) => (sha256Hex(t), s) }
      .map { case (k, rs) => k -> rs.length.toLong }
    val diag = perHS.filter(_._2 >= 2).keys.groupBy(_._2)
      .map { case (s, ks) => (s, s, ks.size.toLong) }.toSet
    val bySrc = perHS.keys.groupBy(_._1).map { case (h, ks) => h -> ks.map(_._2).toSeq.sorted }
    val cross = bySrc.values.flatMap { srcs =>
      for { a <- srcs; b <- srcs if a < b } yield (a, b)
    }.groupBy(identity).map { case ((a, b), g) => (a, b, g.size.toLong) }.toSet
    val docsDf = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"text", $"source")
    val overlay = docsDf
      .unionByName(docsDf.filter($"doc_id" % 7 === 0)
        .withColumn("source", org.apache.spark.sql.functions.lit("mirror")))
      .unionByName(docsDf.filter($"doc_id" % 13 === 0))
    val got = graft.ops.DedupOps.crossSourceDups(overlay)
      .as[(String, String, Long)].collect().toSet
    assert(got == diag ++ cross, s"got $got\nexpected ${diag ++ cross}")
    assert(diag.nonEmpty, "the planted re-crawl dups must surface on the diagonal")
    assert(cross.nonEmpty, "the planted mirror must surface in cross cells")
  }

  test("dehyphenate: planted wrap shapes produce the hand-computed repairs") {
    import spark.implicits._
    val got = TextOps.dehyphenate(graft.synth.HyphenDocs.docs(spark, 25L))
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size == 25)
    (0L until 25L).foreach { id =>
      val filler = s"doc $id body line "
      val (nBreaks, nMerged, clean) = (id % 5) match {
        case 0 => (0, 0, filler + "plain words only")
        case 1 => (1, 1, filler + "an example of wrapping")
        case 2 => (0, 0, filler + "we re-use the tooling")
        case 3 => (1, 1, filler + "hyphen plus re-use inline")
        // uppercase break: the line-break hyphen is SEEN but not merged
        case _ => (1, 0, filler + "USA-\nToday stays split")
      }
      val (_, nb, nm, sha) = got(id)
      assert(nb == nBreaks, s"doc $id n_linebreak_hyphens")
      assert(nm == nMerged, s"doc $id n_merged")
      assert(sha == sha256Hex(clean), s"doc $id sha")
    }
  }

  test("nfc audit: planted NFC/NFD/control shapes produce the hand-computed truths") {
    import spark.implicits._
    val got = TextOps.nfcAudit(graft.synth.NfcDocs.docs(spark, 25L))
      .as[(Long, Boolean, Int, Int, Int, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.size == 25)
    (0L until 25L).foreach { id =>
      val filler = s"doc $id plain body "
      // hand-written expectations per shape — independent of BOTH the
      // engine's Normalizer call and the oracle's nfc_normalize
      val (wasNfc, nControl, clean) = (id % 5) match {
        case 0 => (true, 0, filler + "all clear ascii")
        case 1 => (true, 0, filler + "café résumé")
        case 2 => (false, 0, filler + "café résumé")
        case 3 => (true, 2, filler + "belland tabend")
        case _ => (false, 1, filler + "über émix")
      }
      val (_, w, nraw, nclean, nc, sha) = got(id)
      assert(w == wasNfc, s"doc $id was_nfc")
      assert(nc == nControl, s"doc $id n_control")
      // all planted codepoints are BMP: UTF-16 length == codepoint count
      assert(nclean == clean.length, s"doc $id clean length ($nclean vs ${clean.length})")
      assert(nraw == graft.synth.NfcDocs.raw(id).length, s"doc $id raw length")
      assert(sha == sha256Hex(clean), s"doc $id sha")
    }
  }

  test("lateness audit: global high-water-mark lateness and rank quantiles match local recompute") {
    val n = RelationalOps.VerifyArrivalEvents
    // local twin of the generator (sha jitter) and a SEQUENTIAL global
    // running max — the third algorithm besides the engine's two-phase
    // prefix max and the oracle's single window
    val ev = (0L until n).map { i =>
      val jitter = java.lang.Long.parseLong(sha256Hex(i.toString).substring(0, 8), 16) %
        RelationalOps.ArrivalJitterUs
      (i, s"t${i % 4}", RelationalOps.ArrivalBaseUs + i * RelationalOps.ArrivalStepUs - jitter)
    }
    var hwm = Long.MinValue
    val late = ev.map { case (_, t, us) =>
      val l = if (hwm == Long.MinValue) 0L else math.max(hwm - us, 0L)
      hwm = math.max(hwm, us)
      (t, l)
    }
    val expected = late.groupBy(_._1).flatMap { case (t, rows) =>
      val vals = rows.map(_._2).sorted
      val cnt = vals.length.toLong
      RelationalOps.LatenessPcts.map { pct =>
        val rank = ((cnt * pct + 99) / 100).toInt
        (t, pct, vals(rank - 1), cnt)
      }
    }.toSet
    import spark.implicits._
    val got = RelationalOps.latenessAudit(spark)
      .as[(String, Int, Long, Long)].collect().toSet
    assert(got == expected, s"got $got\nexpected $expected")
    assert(got.exists(_._3 > 0), "the planted stream must actually be out of order")
    // the p99 the audit reports is a genuine watermark candidate: below
    // the jitter bound, above zero
    got.filter(_._2 == 99).foreach { case (_, _, l, _) =>
      assert(l > 0 && l < RelationalOps.ArrivalJitterUs)
    }
  }

  test("bucketed co-located join equals the plain join; layout is invisible to semantics") {
    import spark.implicits._
    val got = RelationalOps.bucketedColocatedJoin(spark, dir)
      .as[(Long, String, Int)].collect().toSet
    val plain = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"))
      .join(spark.read.parquet(s"$dir/embeddings.parquet"),
        col("doc_id") === col("vec_id"))
      .select(col("doc_id"), col("lang"),
        org.apache.spark.sql.functions.size(col("embedding")).as("n_dims"))
      .as[(Long, String, Int)].collect().toSet
    assert(got == plain, s"${got.size} vs ${plain.size}")
    assert(got.nonEmpty, "the doc/embedding id domains must actually overlap")
  }

  test("hll distinct: registers, harmonic denom and estimate match a local recompute") {
    import spark.implicits._
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("user_id").isNotNull)
      .select("event_type", "user_id").as[(String, Long)].collect()
    val expected = ev.groupBy(_._1).map { case (t, rows) =>
      val regs = scala.collection.mutable.Map[Long, Long]()
      rows.foreach { case (_, u) =>
        val h = sha256Hex(u.toString)
        val bucket = java.lang.Long.parseLong(h.substring(0, 2), 16)
        val v = java.lang.Long.parseLong(h.substring(2, 15), 16)
        val rho = if (v == 0L) 53L else 53L - (64L - java.lang.Long.numberOfLeadingZeros(v))
        regs(bucket) = math.max(regs.getOrElse(bucket, 0L), rho)
      }
      val denom = regs.values.map(r => 1048576L / (1L << r)).sum +
        (RelationalOps.HllM - regs.size) * 1048576L
      val est = (RelationalOps.HllAlphaX10000 * RelationalOps.HllM * RelationalOps.HllM *
        1048576L) / (10000L * denom)
      val sha = sha256Hex(
        regs.toSeq.sortBy(_._1).map { case (b, r) => s"$b:$r" }.mkString(","))
      t -> ((regs.size.toLong, regs.values.sum, denom, est,
        rows.map(_._2).distinct.length.toLong, sha))
    }
    val got = RelationalOps.hllDistinct(spark, dir)
      .select($"event_type", $"n_registers_hit", $"sum_rho", $"denom_x2p20",
        $"est_hll", $"n_exact", $"registers_sha")
      .as[(String, Long, Long, Long, Long, Long, String)].collect()
    assert(got.length == expected.size)
    got.foreach { case (t, hit, sr, dn, est, nx, sha) =>
      assert((hit, sr, dn, est, nx, sha) == expected(t), s"type $t")
      // m=256 gives ~6.5% standard error; a loose 25% envelope catches a
      // wrong alpha/denominator while tolerating sketch noise
      if (nx >= 100)
        assert(math.abs(est - nx) * 100 <= 25 * nx, s"type $t estimate $est vs exact $nx")
    }
  }

  test("kmv set overlap: sketch algebra equals local recompute; estimator and audit agree") {
    import spark.implicits._
    val k = RelationalOps.KmvK
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("user_id").isNotNull)
      .select("event_type", "user_id").as[(String, Long)].collect()
    def h(u: Long): Long = java.lang.Long.parseLong(sha256Hex(u.toString).substring(0, 8), 16)
    val sets = ev.groupBy(_._1).map { case (t, rows) => t -> rows.map(r => h(r._2)).toSet }
    val types = sets.keys.toSeq.sorted
    val local = (for { a <- types; b <- types if a < b } yield {
      val (sa, sb) = (sets(a), sets(b))
      val ska = sa.toSeq.sorted.take(k).toSet
      val skb = sb.toSeq.sorted.take(k).toSet
      val union = (ska ++ skb).toSeq.sorted.take(k)
      val (nu, nc) = (union.size, union.count(x => ska(x) && skb(x)))
      val estU = if (nu < k) nu.toLong else (k - 1).toLong * 4294967296L / math.max(union.last, 1L)
      val estI = if (nu < k) nc.toLong else nc * estU / k
      (a, b, estU, estI, (sa intersect sb).size.toLong)
    }).sortBy(r => (r._1, r._2))
    val got = RelationalOps.kmvSetOverlap(spark, dir)
      .as[(String, String, Long, Long, Long)].collect().toSeq.sortBy(r => (r._1, r._2))
    assert(got == local)
    // the estimator should land in the right order of magnitude of truth
    got.filter(_._5 >= k).foreach { case (a, b, _, estI, nTrue) =>
      assert(estI > nTrue / 4 && estI < nTrue * 4, s"($a,$b): est $estI vs true $nTrue")
    }
  }

  test("skew report: top-k heavy conversations with exact salt fan-out (vs local recompute)") {
    import spark.implicits._
    val nConvs = 150
    val local = graft.synth.Synth.localCorpus(nConvs)
      .groupBy(_.conv_id).map { case (cid, ts) =>
        val nTurns = ts.size.toLong
        val nChars = ts.map(_.text.length.toLong).sum
        val isLong = if (nTurns >= graft.pipeline.Pipeline.DefaultLongConvThreshold) 1 else 0
        val nSalts = ts.map(_.turn_idx / graft.pipeline.Pipeline.DefaultLongConvThreshold).distinct.size.toLong
        (cid, nTurns, nChars, isLong, nSalts)
      }.toSeq.sortBy(r => (-r._2, r._1)).take(50)
    val got = graft.pipeline.Pipeline.skewReport(graft.synth.SynthDataset.turns(spark, nConvs.toLong))
      .as[(String, Long, Long, Int, Long)].collect().toSeq
    assert(got == local)
    // the corpus must genuinely contain both long (salted) and short convs
    assert(got.count(_._4 == 1) >= 1 && got.count(_._4 == 0) >= 1)
    assert(got.filter(_._4 == 1).forall(_._5 > 1), "long convs must fan out over >1 salt")
    assert(got.filter(_._4 == 0).forall(_._5 == 1), "short convs must stay one salt key")
  }

  test("collocations: exact-integer lift equals a brute-force local recompute") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("text").as[String].collect()
    val tokens = docs.map(_.trim.split("\\s+").filter(_.nonEmpty))
    val uni = tokens.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = uni.values.sum
    val local = tokens.flatMap(_.sliding(2).filter(_.length == 2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .filter(_._2 >= TextOps.CollocMinPair)
      .map { case ((a, b), cab) =>
        val lift = (BigInt(cab) * 10000 * n / (BigInt(uni(a)) * uni(b))).toLong
        (a, b, cab, lift)
      }
      .sortBy(r => (-r._4, r._1, r._2)).take(TextOps.CollocK)
    val got = TextOps.collocations(spark, dir)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == local)
    assert(got.nonEmpty && got.head._4 > 10000L,
      "top collocation should be positively associated (lift > 1)")
  }

  test("token histogram: power-of-two buckets exact; sketch quantiles bracket the exact ranks") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("lang", "text").as[(String, String)].collect()
    val nTok = docs.map { case (l, t) => (l, t.trim.split("\\s+").count(_.nonEmpty).toLong) }
    def bucket(n: Long): Int = if (n == 0) 0 else 64 - java.lang.Long.numberOfLeadingZeros(n)
    val localHist = nTok.groupBy { case (l, n) => (l, bucket(n)) }
      .map { case ((l, b), rows) => (l, b, (1L << b) - 1, rows.length.toLong) }
      .toSet
    val gotHist = TextOps.tokenHistogram(spark, dir)
      .as[(String, Int, Long, Long)].collect().toSet
    assert(gotHist == localHist)
    // quantile read-off: the estimate's bucket must contain the exact rank value
    val est = TextOps.histogramQuantiles(spark, dir)
      .as[(String, Int, Int, Long, Long)].collect()
    val exact = TextOps.tokenQuantiles(spark, dir, Seq(50, 90))
      .as[(String, Int, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(est.nonEmpty && est.length == exact.size)
    est.foreach { case (lang, pct, b, hi, _) =>
      val ex = exact((lang, pct))
      assert(ex <= hi, s"$lang p$pct: exact $ex above bucket hi $hi")
      assert(b == bucket(ex), s"$lang p$pct: exact $ex not in estimate bucket $b")
    }
  }

  test("compactionPlan equals a sequential next-fit recompute; bins respect doc order") {
    import spark.implicits._
    val docs = RelationalOps.table(spark, dir, "documents")
      .select($"source", $"doc_id", $"n_chars")
      .as[(String, Long, Long)].collect()
    val target = TrainingOps.CompactionTargetChars
    val want = docs.groupBy(_._1).toSeq.flatMap { case (src, rows) =>
      var pre = 0L
      rows.sortBy(_._2).toSeq.map { case (_, id, n) =>
        val bin = pre / target; pre += n; (src, bin, id, n)
      }
    }.groupBy(r => (r._1, r._2)).map { case ((src, bin), rs) =>
      (src, bin) -> ((rs.size.toLong, rs.map(_._4).sum, rs.map(_._3).min, rs.map(_._3).max))
    }
    val got = TrainingOps.compactionPlan(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    assert(got == want)
    assert(got.keys.groupBy(_._1).values.exists(_.size >= 2),
      "at least one source must span multiple bins")
    // bins are doc-id ranges: within a source, a later bin starts after
    // the previous bin's max doc id (next-fit never reorders)
    got.keys.groupBy(_._1).foreach { case (src, ks) =>
      val ordered = ks.toSeq.sortBy(_._2).map(k => got(k))
      ordered.zip(ordered.drop(1)).foreach { case (a, b) =>
        assert(a._4 < b._3, s"$src: bin ranges must be disjoint and ordered")
      }
    }
  }

  test("retention equals a driver cohort recompute; matrix has multiple offsets") {
    import spark.implicits._
    val ev = RelationalOps.table(spark, dir, "events")
      .select($"user_id", unix_micros($"ts".cast("timestamp")))
      .as[(Long, Long)].collect()
    val weeks = ev.map { case (u, us) => (u, us / 86400000000L / 7L) }
    val cohorts = weeks.groupBy(_._1).map { case (u, rs) => u -> rs.map(_._2).min }
    val sizes = cohorts.values.groupBy(identity).map { case (c, o) => c -> o.size.toLong }
    val want = weeks.distinct.map { case (u, w) => (cohorts(u), w - cohorts(u)) }
      .groupBy(identity).map { case ((c, off), o) =>
        (c, off) -> ((o.size.toLong, sizes(c), o.size.toLong * 10000L / sizes(c)))
      }
    val got = RelationalOps.retention(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got == want)
    assert(got.keys.map(_._2).size >= 2, "events span several weeks of offsets")
    assert(got.filter(_._1._2 == 0L).values.forall(v => v._1 == v._2),
      "offset 0 retains the whole cohort by definition")
  }

  test("qbits equals the documented recipe bit-for-bit; exact on powers of two") {
    import spark.implicits._
    def qbitsLocal(x: Long): Long = {
      val b = 64 - java.lang.Long.numberOfLeadingZeros(x)
      val s = math.max(b - 15, 0)
      val xr = x >> s
      val m = xr * xr * xr * xr
      (64 - java.lang.Long.numberOfLeadingZeros(m)) - 1 + 4L * s
    }
    val sample = ((1L to 600L) ++ (0 to 62).map(1L << _) ++
      (0 to 62).flatMap(k => Seq((1L << k) - 1, (1L << k) + 1)) ++
      Seq(999L, 27939L, 123456789L, 987654321987L, Long.MaxValue)).filter(_ >= 1L).distinct
    val got = sample.toDF("x").select(col("x"), TextOps.qbits(col("x")).as("q"))
      .as[(Long, Long)].collect().toMap
    sample.foreach { x =>
      assert(got(x) == qbitsLocal(x), s"qbits($x)")
    }
    (0 to 60).foreach(k => assert(got(1L << k) == 4L * k, s"qbits(2^$k) must be exactly 4k"))
  }

  test("dsirSelect equals a driver LM recompute; selection splits the crawl pool") {
    import spark.implicits._
    val n = SparkEntry.VerifyDomainDocs
    def qb(x: Long): Long = {
      val b = 64 - java.lang.Long.numberOfLeadingZeros(x)
      val s = math.max(b - 15, 0); val xr = x >> s
      (64 - java.lang.Long.numberOfLeadingZeros(xr * xr * xr * xr)) - 1 + 4L * s
    }
    val docs = (0L until n).map(id =>
      (id, graft.synth.DomainDocs.domain(id), graft.synth.DomainDocs.text(id)))
    val toks = docs.map { case (id, dom, t) =>
      (id, dom, t.trim.split("\\s+").filter(_.nonEmpty).toSeq)
    }
    val cr = toks.flatMap(_._3).groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val ct = toks.filter(_._2 == "target").flatMap(_._3)
      .groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    val nR = cr.values.sum; val nT = ct.values.sum
    val vocab = cr.toSeq.sortBy { case (w, c) => (-c, w) }
      .take(TextOps.DsirVocabSize).map(_._1).toSet
    val lam = vocab.map(w =>
      w -> (qb(ct.getOrElse(w, 0L) + 1) - qb(cr(w)) + qb(nR) - qb(nT))).toMap
    val want = toks.map { case (id, dom, ws) =>
      val bits = ws.map(w => lam.getOrElse(w, 0L)).sum
      id -> ((dom, ws.size.toLong, bits, bits > 0L))
    }.toMap
    val got = TextOps.dsirSelect(graft.synth.DomainDocs.docs(spark, n))
      .as[(Long, String, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got == want)
    val crawl = got.values.filter(_._1 == "crawl").toSeq
    assert(crawl.exists(_._4) && crawl.exists(!_._4),
      "importance selection must split the crawl pool both ways")
    // discrimination is real: labeled-target docs average strictly higher
    def meanBits(dom: String) = {
      val xs = got.values.filter(_._1 == dom).map(_._3).toSeq
      xs.sum.toDouble / xs.size
    }
    assert(meanBits("target") > meanBits("crawl") + 1.0,
      "target-domain docs must score clearly above the crawl pool")
  }

  test("gopherGate equals a driver recompute; every rule fails somewhere") {
    import spark.implicits._
    val docs = RelationalOps.table(spark, dir, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val want = docs.map { case (id, text) =>
      val ws = text.trim.split("\\s+").filter(_.nonEmpty)
      val n = ws.length.toLong
      val meanX100 = ws.map(_.length.toLong).sum * 100L / n
      val nStop = ws.count(TextOps.GopherStopwords.contains).toLong
      val topX10000 = ws.groupBy(identity).values.map(_.size).max.toLong * 10000L / n
      def b(x: Boolean) = if (x) 1L else 0L
      val flags = (
        b(n >= TextOps.GopherMinWords && n <= TextOps.GopherMaxWords),
        b(meanX100 >= TextOps.GopherMinMeanLenX100 && meanX100 <= TextOps.GopherMaxMeanLenX100),
        b(nStop >= TextOps.GopherMinStopwords),
        b(topX10000 <= TextOps.GopherMaxTopWordX10000))
      id -> ((n, ws.distinct.length.toLong, meanX100, nStop, topX10000,
        flags._1, flags._2, flags._3, flags._4,
        flags._1 * flags._2 * flags._3 * flags._4))
    }.toMap
    val got = TextOps.gopherGate(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9, r._10, r._11))).toMap
    assert(got == want)
    assert(got.values.exists(_._10 == 1L), "some documents must pass the gate")
    assert(got.values.exists(_._10 == 0L), "some documents must fail the gate")
    assert(got.values.exists(_._6 == 0L), "word-count rule must fire")
    assert(got.values.exists(_._9 == 0L), "top-word rule must fire")
  }
}
