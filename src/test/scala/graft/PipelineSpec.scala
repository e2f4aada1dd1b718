package graft

import graft.model.Turn
import graft.pipeline.{Pipeline, SnapshotStore}
import graft.synth.{Synth, SynthDataset}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

class PipelineSpec extends AnyFunSuite with SparkSessionFixture.TempDirs {

  private lazy val spark = SparkSessionFixture.spark

  private val NConvs = 120L

  test("distributed extraction matches local golden corpus exactly") {
    import spark.implicits._
    val turns = SynthDataset.turns(spark, NConvs)
    val extracted = Pipeline.run(spark, turns, longConvThreshold = 64)
      .select($"conv_id", $"turn_idx", $"extracted_text", $"failure")
      .as[(String, Int, String, Option[String])]
      .collect()
      .map { case (c, t, txt, f) => (c, t) -> ((txt, f)) }
      .toMap

    val golden = Synth.localCorpus(NConvs.toInt)
    assert(extracted.size == golden.size, s"row count ${extracted.size} != ${golden.size}")
    golden.foreach { g =>
      val (txt, f) = extracted((g.conv_id, g.turn_idx))
      assert(f == g.expected_failure, s"(${g.conv_id},${g.turn_idx}) failure mismatch: $f vs ${g.expected_failure}")
      assert(txt == g.expected_text, s"(${g.conv_id},${g.turn_idx}) text mismatch")
    }
  }

  test("salting splits long conversations without loss or duplication") {
    import spark.implicits._
    val T = 64
    val turns = SynthDataset.turns(spark, NConvs)
    val salted = Pipeline.salted(spark, turns, longConvThreshold = T, numPartitions = Some(8))
    // partition of the data: same multiset of (conv_id, turn_idx)
    val before = turns.select($"conv_id", $"turn_idx").as[(String, Int)].collect().sorted.toSeq
    val after = salted.select($"conv_id", $"turn_idx").as[(String, Int)].collect().sorted.toSeq
    assert(before == after)
    // a long conversation actually spans >1 partition
    val longConv = f"conv-${0}%06d" // conv 0 has 400+ turns (Synth.convLen)
    val partsOfLong = salted
      .mapPartitions(it => Iterator.single(it.count(_.conv_id == longConv)))
      .collect().count(_ > 0)
    assert(partsOfLong > 1, s"long conv not split: present in $partsOfLong partitions")

    // chunk salting, checked on where each turn landed
    val placed = salted
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        it.map(t => (pid, t.conv_id, t.turn_idx))
      }
      .collect().toSeq
    val byConv = placed.groupBy(_._2)
    // every conversation shorter than T sits in exactly one partition
    val short = byConv.filter(_._2.size < T)
    assert(short.nonEmpty)
    short.foreach { case (c, ts) =>
      assert(ts.map(_._1).distinct.size == 1, s"short conv $c split over partitions")
    }
    // a salt key (conv_id, turn_idx div T) sits in one partition and holds at most T turns
    placed.groupBy(p => (p._2, p._3 / T)).foreach { case (k, ts) =>
      assert(ts.size <= T, s"key $k holds ${ts.size} turns")
      assert(ts.map(_._1).distinct.size == 1, s"key $k split over partitions")
    }
    // a contiguous n-turn conversation spans ceil(n/T) salts, so at most
    // that many partitions
    byConv.foreach { case (c, ts) =>
      val n = ts.size
      assert(ts.map(_._3).sorted == (0 until n), s"conv $c is not contiguous")
      val chunks = (n + T - 1) / T
      assert(ts.map(_._3 / T).distinct.size == chunks)
      assert(ts.map(_._1).distinct.size <= chunks, s"conv $c spans more partitions than salts")
    }
  }

  test("lineage rows cover all turns and count failures correctly") {
    import spark.implicits._
    val turns = SynthDataset.turns(spark, NConvs)
    val (out, lineage) = Pipeline.runWithLineage(spark, turns, "snap-test")
    val df = out.cache()
    val total = df.count()
    val failures = df.filter($"failure".isNotNull).count()
    val rows = lineage()
    assert(rows.map(_.turn_count).sum == total)
    assert(rows.map(_.failure_count).sum == failures)
    assert(rows.forall(_.input_snapshot == "snap-test"))
    assert(rows.map(_.bytes_processed).sum > 0)
    df.unpersist()
  }

  test("snapshot resume: kill after k batches, resume, identical output + complete lineage") {
    import spark.implicits._
    val turns = SynthDataset.turns(spark, 60L).cache()

    val fullDir = tempDir("graft-full").toString
    val resumeDir = tempDir("graft-resume").toString

    // one-shot run
    new SnapshotStore(fullDir, nBuckets = 8).process(spark, turns, "snap-1", bucketsPerBatch = 8)

    // killed run: 1 batch of 3 buckets, then simulated crash
    val store = new SnapshotStore(resumeDir, nBuckets = 8)
    intercept[RuntimeException] {
      store.process(spark, turns, "snap-1", bucketsPerBatch = 3, failAfterBatches = Some(1))
    }
    assert(store.completedBuckets().size == 3)
    // resume
    store.process(spark, turns, "snap-1", bucketsPerBatch = 3)
    assert(store.completedBuckets().size == 8)

    def canon(dir: String) = new SnapshotStore(dir, 8).readExtracted(spark)
      .select($"conv_id", $"turn_idx", $"extracted_text", $"failure")
      .as[(String, Int, String, Option[String])].collect().sorted.toSeq
    assert(canon(resumeDir) == canon(fullDir), "resumed output differs from one-shot output")

    val lineageTotal = store.readLineage(spark).agg(sum($"turn_count")).as[Long].head()
    assert(lineageTotal == turns.count())

    // S11: the manifest persists the schema exactly as a parquet reader
    // sees it, nested span struct and nullability included
    val ddl = store.schemaDdl().getOrElse(fail("schema_ddl missing from manifest"))
    val onDisk = store.readExtracted(spark).schema.toDDL
    assert(ddl == onDisk, s"persisted DDL != on-disk schema:\n$ddl\nvs\n$onDisk")
    assert(ddl.contains("spans ARRAY<STRUCT<"), ddl)
    assert(org.apache.spark.sql.types.StructType.fromDDL(ddl).toDDL == ddl)
    turns.unpersist()
  }

  test("turn-subset re-extraction: '0-2,5' keeps exactly those turn indices") {
    import spark.implicits._
    val turns = SynthDataset.turns(spark, 30L)
    val subset = Pipeline.turnSubset(turns, "0-2,5")
    val got = subset.select($"conv_id", $"turn_idx").as[(String, Int)].collect()
    assert(got.forall(t => Set(0, 1, 2, 5).contains(t._2)))
    val expected = turns.select($"conv_id", $"turn_idx").as[(String, Int)].collect()
      .filter(t => Set(0, 1, 2, 5).contains(t._2))
    assert(got.sorted.toSeq == expected.sorted.toSeq)
    // re-extracting the subset matches the full run restricted to it
    val fullRun = Pipeline.run(spark, turns)
      .filter($"turn_idx".isin(0, 1, 2, 5))
      .select($"conv_id", $"turn_idx", $"extracted_text")
      .as[(String, Int, String)].collect().sorted.toSeq
    val subsetRun = Pipeline.run(spark, subset)
      .select($"conv_id", $"turn_idx", $"extracted_text")
      .as[(String, Int, String)].collect().sorted.toSeq
    assert(subsetRun == fullRun)
  }

  test("turn-subset range grammar: malformed/reversed/empty tokens select nothing, never throw") {
    import spark.implicits._
    val turns = SynthDataset.turns(spark, 30L)
    def idxs(ranges: String): Set[Int] =
      Pipeline.turnSubset(turns, ranges).select($"turn_idx").as[Int].collect().toSet
    // parsePageRanges parity: "a-b" casts to null there and selects nothing
    assert(idxs("a-b") == Set.empty)
    assert(idxs("a-b,1,x,3-2,,2") == Set(1, 2), "good tokens survive bad neighbors")
    assert(idxs("") == Set.empty)
    assert(idxs("5-3") == Set.empty, "reversed range is empty (to-semantics)")
  }

  test("SFT pairs: user->assistant adjacency over extracted text matches the golden recompute") {
    import spark.implicits._
    def sha(s: String): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val nConvs = 40
    val golden = graft.synth.Synth.localCorpus(nConvs)
    val local = golden.groupBy(_.conv_id).toSeq.flatMap { case (_, ts) =>
      val byIdx = ts.sortBy(_.turn_idx)
      byIdx.zip(byIdx.drop(1)).collect {
        case (u, a) if u.role == "user" && a.role == "assistant" && a.turn_idx == u.turn_idx + 1 =>
          (u.conv_id, u.turn_idx) ->
            ((sha(u.expected_text), sha(a.expected_text),
              (u.expected_text.length + a.expected_text.length).toLong))
      }
    }.toMap
    val got = graft.ops.TrainingOps
      .sftPairs(spark, SynthDataset.turns(spark, nConvs.toLong))
      .as[(String, Int, String, String, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got.keySet == local.keySet, "pair key sets differ")
    got.foreach { case (k, v) => assert(v == local(k), s"pair $k") }
    assert(got.nonEmpty, "corpus must yield pairs")
    // tool turns break adjacency: no pair may span a tool turn
    val toolKeys = golden.filter(_.role == "tool").map(t => (t.conv_id, t.turn_idx)).toSet
    got.keys.foreach { case (c, i) =>
      assert(!toolKeys.contains((c, i)) && !toolKeys.contains((c, i + 1)))
    }
  }

  test("context assembly: budgeted preceding-turn window matches the golden recompute") {
    import spark.implicits._
    def sha(s: String): String = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val nConvs = 40
    val budget = graft.ops.TrainingOps.CtxBudgetTokens
    def nTok(s: String): Long = s.split("\\s+").count(_.nonEmpty).toLong
    val golden = graft.synth.Synth.localCorpus(nConvs)
    val local = golden.groupBy(_.conv_id).toSeq.flatMap { case (_, ts) =>
      val byIdx = ts.sortBy(_.turn_idx)
      byIdx.zipWithIndex.collect { case (t, i) if t.role == "assistant" =>
        // maximal suffix of the preceding turns that fits the budget
        var toks = 0L; var a = i
        while (a > 0 && toks + nTok(byIdx(a - 1).expected_text) <= budget) {
          toks += nTok(byIdx(a - 1).expected_text); a -= 1
        }
        (t.conv_id, t.turn_idx) ->
          ((i - a, toks, sha(byIdx.slice(a, i).map(_.expected_text).mkString("\n"))))
      }
    }.toMap
    val got = graft.ops.TrainingOps
      .contextAssembly(spark, SynthDataset.turns(spark, nConvs.toLong))
      .as[(String, Int, Int, Long, String)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5))).toMap
    assert(got.keySet == local.keySet, "assistant-turn key sets differ")
    got.foreach { case (k, v) => assert(v == local(k), s"turn $k") }
    // the corpus must exercise both regimes: full histories and budget cuts
    val preceding = golden.groupBy(_.conv_id).values.flatMap { ts =>
      val byIdx = ts.sortBy(_.turn_idx)
      byIdx.zipWithIndex.collect { case (t, i) if t.role == "assistant" =>
        (t.conv_id, t.turn_idx) -> i
      }
    }.toMap
    assert(got.exists { case (k, v) => v._1 == preceding(k) && v._1 > 0 },
      "expected at least one untruncated nonempty context")
    assert(got.exists { case (k, v) => v._1 < preceding(k) },
      "expected at least one budget-truncated context")
  }

  test("mergeUpsert: insert/update/keep/carry exact; tombstones win over upserts") {
    import spark.implicits._
    def t(c: String, i: Int, txt: String) =
      Turn(c, i, "user", txt, null, new java.sql.Timestamp(0L))
    val base = Seq(t("c1", 0, "a"), t("c1", 1, "b"), t("c2", 0, "x"), t("c3", 0, "z")).toDS()
    val ups = Seq(
      t("c1", 0, "a"), // byte-identical redelivery -> keep
      t("c1", 1, "B"), // content drift -> update
      t("c1", 2, "new"), // no base row -> insert
      t("c3", 0, "zz")).toDS() // changed BUT tombstoned -> must vanish
    val dels = Seq(("c2", 0), ("c3", 0)).toDF("conv_id", "turn_idx")
    val got = Pipeline.mergeUpsert(base, ups, dels)
      .as[(String, Int, String)].collect().toSet
    assert(got == Set(("c1", 0, "keep"), ("c1", 1, "update"), ("c1", 2, "insert")),
      s"got $got")
  }

  test("saltedDimJoin: result equals the plain rollup; every conv present once") {
    import spark.implicits._
    val turns = SynthDataset.turns(spark, 40L)
    val got = Pipeline.saltedDimJoin(turns)
      .as[(String, Long, Long)].collect().toSet
    val plain = turns.toDF().groupBy(col("conv_id"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_turns"))
      .as[(String, Long)].collect().toMap
    def bucket(c: String): Long =
      java.lang.Long.parseLong(SparkSessionFixture.sha256Hex(c).substring(0, 2), 16) % 10
    val expected = plain.map { case (c, n) => (c, bucket(c), n) }.toSet
    assert(got == expected, s"${got.size} vs ${expected.size}")
    assert(got.map(_._1).size == plain.size)
  }

  test("snapshot diff + incremental re-ingest: delta-only extraction equals a full re-run") {
    import spark.implicits._
    val prev = SynthDataset.turns(spark, 60L)
    val prevExtracted = Pipeline.run(spark, prev)
    // next snapshot: one conv deleted, one turn's content drifted, one turn added
    val next = prev
      .filter((t: Turn) => t.conv_id != "conv-000003")
      .map((t: Turn) =>
        if (t.conv_id == "conv-000005" && t.turn_idx == 0)
          t.copy(text = t.text + " drifted tail") else t)
      .union(Seq(Turn("conv-000900", 0, "user",
        "<p>twenty-five-plus characters of brand new body text</p>", null,
        new java.sql.Timestamp(0L))).toDS())
    val changed = Pipeline.changedTurnKeys(prev, next)
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(changed == Set(("conv-000005", 0), ("conv-000900", 0)),
      s"diff must be exactly the drifted + added keys, got $changed")
    val inc = Pipeline.incrementalRun(spark, prev, prevExtracted, next).collect().toSet
    val full = Pipeline.run(spark, next).collect().toSet
    assert(inc == full, "incremental result must be row-for-row equal to the full re-run")
    assert(!inc.exists(_.conv_id == "conv-000003"), "deleted conv must not survive")
  }

  test("time travel: each frozen version re-reads its exact prefix; latest equals the full table") {
    import spark.implicits._
    val turns = SynthDataset.turns(spark, 40L).cache()
    val root = tempDir("graft-tt").toString
    val store = new SnapshotStore(root, nBuckets = 8)
    intercept[RuntimeException] {
      store.process(spark, turns, "snap-1", bucketsPerBatch = 3, failAfterBatches = Some(2))
    }
    store.process(spark, turns, "snap-2", bucketsPerBatch = 3)
    val versions = store.snapshotVersions()
    assert(versions == Seq(1, 2, 3))
    // bucket sets freeze as the documented deterministic prefix schedule
    assert(store.completedBucketsAsOf(1) == Set(0, 1, 2))
    assert(store.completedBucketsAsOf(2) == Set(0, 1, 2, 3, 4, 5))
    assert(store.completedBucketsAsOf(3) == (0 until 8).toSet)
    // as-of content: monotone prefixes, and v3 equals the full read
    def keys(df: org.apache.spark.sql.DataFrame) =
      df.select($"conv_id", $"turn_idx").as[(String, Int)].collect().toSet
    val k1 = keys(store.readExtractedAsOf(spark, 1))
    val k2 = keys(store.readExtractedAsOf(spark, 2))
    val k3 = keys(store.readExtractedAsOf(spark, 3))
    assert(k1.subsetOf(k2) && k2.subsetOf(k3))
    assert(k1.size < k2.size && k2.size < k3.size, "each version must genuinely grow")
    assert(k3 == keys(store.readExtracted(spark)))
    // the historical read prunes partitions at the scan, never row-filters
    val plan = store.readExtractedAsOf(spark, 1).queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      s"as-of read must prune bucket partitions:\n$plan")
    turns.unpersist()
  }

  test("resume over an orphaned version file keeps versions gapless and as-of sets crash-free") {
    val turns = SynthDataset.turns(spark, 40L).cache()
    def asOf(store: SnapshotStore) = store.snapshotVersions().map(v => v -> store.completedBucketsAsOf(v))
    val clean = new SnapshotStore(tempDir("graft-ver-clean").toString, nBuckets = 8)
    clean.process(spark, turns, "snap-1", bucketsPerBatch = 3)
    val root = tempDir("graft-ver-orphan").toString
    val store = new SnapshotStore(root, nBuckets = 8)
    intercept[RuntimeException] {
      store.process(spark, turns, "snap-1", bucketsPerBatch = 3, failAfterBatches = Some(2))
    }
    // a crash between freezing a v-file and moving the pointer leaves an
    // orphan one past the pointer's version (here a stale copy of v2)
    Files.copy(Paths.get(s"$root/_manifest.v2.json"), Paths.get(s"$root/_manifest.v3.json"))
    store.process(spark, turns, "snap-1", bucketsPerBatch = 3)
    assert(store.snapshotVersions() == Seq(1, 2, 3))
    assert(asOf(store) == asOf(clean))
    turns.unpersist()
  }

  test("process refuses a store written under another bucket count, before any write") {
    val turns = SynthDataset.turns(spark, 20L).cache()
    val root = tempDir("graft-nbuckets").toString
    val store = new SnapshotStore(root, nBuckets = 8)
    intercept[RuntimeException] {
      store.process(spark, turns, "snap-1", bucketsPerBatch = 4, failAfterBatches = Some(1))
    }
    def files() = scala.util.Using.resource(Files.walk(Paths.get(root))) { st =>
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.readAllBytes(p).toSeq).toMap
    }
    val before = files()
    // under modulus 16, buckets 0-3 would hold other convs than under 8
    val e = intercept[IllegalArgumentException] {
      new SnapshotStore(root, nBuckets = 16).process(spark, turns, "snap-1", bucketsPerBatch = 4)
    }
    assert(e.getMessage.contains("8 buckets"), e.getMessage)
    assert(files() == before, "a refused process must leave the store untouched")
    assert(store.completedBuckets() == Set(0, 1, 2, 3))
    turns.unpersist()
  }

  test("resume drops stale lineage partitions left by a crash before the manifest update") {
    import spark.implicits._
    val turns = SynthDataset.turns(spark, 40L).cache()
    val root = tempDir("graft-stale").toString
    val store = new SnapshotStore(root, nBuckets = 8)
    intercept[RuntimeException] {
      store.process(spark, turns, "snap-1", bucketsPerBatch = 2, failAfterBatches = Some(2))
    }
    // simulate a crash that happened AFTER a lineage write but BEFORE the
    // manifest update: a lineage partition for a batch id the manifest
    // never registered, with an absurd turn count
    plantLineage(root, batchId = 6, "part-00000.json")
    assert(store.readLineage(spark).filter($"turn_count" === 999999L).count() == 1,
      "the planted stale partition must be readable, or this test shows nothing")
    // resume with a DIFFERENT grouping, so no new batch id overwrites 6
    new SnapshotStore(root, nBuckets = 8).process(spark, turns, "snap-1", bucketsPerBatch = 4)
    val lineage = new SnapshotStore(root, nBuckets = 8).readLineage(spark)
    assert(lineage.filter($"turn_count" === 999999L).count() == 0, "stale lineage survived resume")
    assert(lineage.agg(sum($"turn_count")).as[Long].head() == turns.count())
    turns.unpersist()
  }
  /** One lineage row with an absurd turn count, written as the driver
    * writes lineage: a JSON-lines file under `batch_id=<id>`. */
  private def plantLineage(root: String, batchId: Int, name: String): Unit = {
    val dir = Files.createDirectories(Paths.get(s"$root/lineage/batch_id=$batchId"))
    Files.write(dir.resolve(name),
      """{"partition_id":0,"input_snapshot":"snap-1","turn_count":999999,"failure_count":0,"bytes_processed":0}
        |""".stripMargin.getBytes("UTF-8"))
  }

  test("a lineage temp file left by a crash before its rename is never read") {
    import spark.implicits._
    val turns = SynthDataset.turns(spark, 20L).cache()
    val root = tempDir("graft-lineage-tmp").toString
    val store = new SnapshotStore(root, nBuckets = 8)
    store.process(spark, turns, "snap-1", bucketsPerBatch = 4)
    val registered = store.completedBatchIds().min
    // the writer's temp name, beside the registered batch's renamed file
    plantLineage(root, registered, ".part-00000.json.tmp")
    assert(store.readLineage(spark).agg(sum($"turn_count")).as[Long].head() == turns.count())
    turns.unpersist()
  }

  test("snapshot ids with quotes, backslashes and newlines round-trip through manifest and lineage") {
    import spark.implicits._
    val turns = SynthDataset.turns(spark, 20L).cache()
    val root = tempDir("graft-escape").toString
    val store = new SnapshotStore(root, nBuckets = 8)
    val snapshot = "a\"b\\c\nd"
    store.process(spark, turns, snapshot, bucketsPerBatch = 4)
    assert(store.completedBuckets() == (0 until 8).toSet)
    val manifest = new String(Files.readAllBytes(Paths.get(s"$root/_manifest.json")), "UTF-8")
    assert(spark.read.json(Seq(manifest).toDS()).select($"input_snapshot").as[String].collect()
      .toSeq == Seq(snapshot), s"the manifest must stay one valid JSON line:\n$manifest")
    assert(store.schemaDdl().contains(store.readExtracted(spark).schema.toDDL))
    val lineage = store.readLineage(spark)
    assert(lineage.schema.toDDL == "partition_id INT,input_snapshot STRING,turn_count BIGINT," +
      "failure_count BIGINT,bytes_processed BIGINT,batch_id INT")
    assert(lineage.select($"input_snapshot").distinct().as[String].collect().toSeq == Seq(snapshot))
    assert(lineage.agg(sum($"turn_count")).as[Long].head() == turns.count())
    turns.unpersist()
  }

  test("process leaves the session's partitionOverwriteMode alone and still overwrites per bucket") {
    import spark.implicits._
    val key = "spark.sql.sources.partitionOverwriteMode"
    val turns = SynthDataset.turns(spark, 20L).cache()
    val store = new SnapshotStore(tempDir("graft-conf").toString, nBuckets = 8)
    spark.conf.set(key, "static")
    try {
      store.process(spark, turns, "snap-1", bucketsPerBatch = 4)
      assert(spark.conf.get(key) == "static")
    } finally spark.conf.unset(key)
    // the second batch's write replaced only its own buckets
    val out = store.readExtracted(spark)
    assert(out.select($"bucket").as[Int].collect().map(_ / 4).toSet == Set(0, 1))
    assert(out.count() == turns.count())
    turns.unpersist()
  }

  /** Spark jobs started by `body`, counted under a fresh job group. A
    * sentinel job in another group runs after `body`: listener events
    * arrive in order, so once its end is seen every job of `body` is. */
  private def jobsStartedBy(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    val sc = spark.sparkContext
    val group = s"graft-jobs-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val started = new AtomicInteger
    val sentinelJob = new AtomicInteger(-1)
    val sentinelEnded = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group`    => started.incrementAndGet()
          case `sentinel` => sentinelJob.set(e.jobId)
          case _          =>
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJob.get) sentinelEnded.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(sentinel, "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelEnded.await(60, TimeUnit.SECONDS), "the sentinel job's end never arrived")
      started.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a one-batch process starts no Spark job beyond its data write's") {
    import spark.implicits._
    val turns = SynthDataset.turns(spark, 20L).cache()
    turns.count()
    val store = new SnapshotStore(tempDir("graft-jobs").toString, nBuckets = 8)
    val processJobs = jobsStartedBy(store.process(spark, turns, "snap-1", bucketsPerBatch = 8))
    val writeJobs = jobsStartedBy {
      Pipeline.runWithLineage(spark, turns, "snap-1")._1
        .withColumn("bucket", pmod(xxhash64($"conv_id"), lit(8L)).cast("int"))
        .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket").parquet(tempDir("graft-jobs-write").toString)
    }
    assert(writeJobs > 0)
    assert(processJobs == writeJobs, s"process started $processJobs jobs, its data write alone $writeJobs")
    turns.unpersist()
  }

  test("turn table round-trips through ORC with identical extraction results") {
    // source-format agnosticism: the pipeline is a function of Dataset[Turn],
    // not of the storage format — ORC (columnar, non-parquet) must yield
    // byte-identical extraction
    import spark.implicits._
    val base = tempDir("graft-orc").toString
    val turns = graft.synth.SynthDataset.turns(spark, 30L)
    turns.write.orc(s"$base/turns.orc")
    val viaOrc = graft.pipeline.Pipeline
      .run(spark, spark.read.orc(s"$base/turns.orc").as[graft.model.Turn])
      .select("conv_id", "turn_idx", "extracted_text")
      .collect().map(_.toSeq).toSet
    val direct = graft.pipeline.Pipeline.run(spark, turns)
      .select("conv_id", "turn_idx", "extracted_text")
      .collect().map(_.toSeq).toSet
    assert(viaOrc == direct && viaOrc.nonEmpty)
  }
}
