package graft

import graft.ops.{DedupOps, SimilarityOps, TrainingOps}
import graft.text.TextAlgos
import org.apache.spark.sql.functions.{col, expr}
import org.scalatest.funsuite.AnyFunSuite

/** Exact local-truth checks for the training-set assembly operators and
  * the IVF ANN path. Every expected value is recomputed from scratch on
  * the driver (independent code path: java.security.MessageDigest, plain
  * Scala collections) and compared for full equality — the same
  * adversarial style as the minhash/simhash/brute-ANN tests in OpsSpec.
  */
class TrainingIvfSpec extends AnyFunSuite with SparkSessionFixture.TempDirs {

  private lazy val spark = SparkSessionFixture.spark
  private val dir = "/root/testdata/sf0.001"

  private def sha256Hex(s: String): String = SparkSessionFixture.sha256Hex(s)

  /** The content-hash bucket TrainingOps.trainSplit computes in-plan. */
  private def localBucket(seed: String, id: Long): Long =
    java.lang.Long.parseLong(sha256Hex(s"$seed|$id").substring(0, 8), 16) % 100

  test("bloom decontamination: exact totals equal q56, false positives non-negative, prefilter is a superset") {
    import spark.implicits._
    val audit = TrainingOps.bloomDecontaminate(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    val (nEval, nTrainRows, bitsSet, nPass, nFp, nContam, sharedTotal) = audit
    // the one-sided-error contract: prefilter+verify must equal the exact path
    val exact = TrainingOps.decontaminate(spark, dir)
      .as[(Long, String, Long)].collect()
    assert(nContam == exact.length)
    assert(sharedTotal == exact.map(_._3).sum)
    // independent recompute of the gram sets from the corpus
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    def grams(t: String): Set[Long] =
      TextAlgos.shingleHashesOrdered(TextAlgos.tokenize(t), graft.ops.TextOps.WinnowK).toSet
    val seed = TrainingOps.DefaultSeed
    val eval = docs.filter(d => localBucket(seed, d._1) >= TrainingOps.TrainPct)
    val train = docs.filter(d => localBucket(seed, d._1) < TrainingOps.TrainPct)
    val evalSet = eval.flatMap(d => grams(d._2)).toSet
    val trainSet = train.flatMap(d => grams(d._2)).toSet
    assert(nEval == evalSet.size)
    assert(nTrainRows == train.map(d => grams(d._2).size.toLong).sum)
    // bitmap + prefilter recomputed with the driver-side bloom math
    val words = {
      val b = graft.ops.BloomSketch.BitmapAgg.zero
      for (g <- evalSet; i <- 0 until graft.ops.BloomSketch.Probes)
        graft.ops.BloomSketch.BitmapAgg.reduce(b, graft.ops.BloomSketch.positionScala(g, i))
      b
    }
    assert(bitsSet == graft.ops.BloomSketch.bitsSet(words))
    val pass = trainSet.filter(graft.ops.BloomSketch.mayContainScala(words, _))
    assert(nPass == pass.size)
    assert(nFp == (pass -- evalSet).size)
    assert(nFp >= 0 && (evalSet intersect trainSet).subsetOf(pass),
      "prefilter must be a superset of the true intersection")
  }

  test("z-order: interleave is bijective, column==driver math, shards honor the locality bound") {
    import spark.implicits._
    // bijectivity + parity on a deterministic sample incl. extremes
    def deinterleave(z: Long): (Long, Long) = {
      def squash(v0: Long): Long = {
        var v = v0 & 0x55555555L
        v = (v | (v >> 1)) & 0x33333333L
        v = (v | (v >> 2)) & 0x0F0F0F0FL
        v = (v | (v >> 4)) & 0x00FF00FFL
        (v | (v >> 8)) & 0xFFFFL
      }
      (squash(z), squash(z >> 1))
    }
    val coords = Seq((0L, 0L), (65535L, 65535L), (1L, 0L), (0L, 1L), (12345L, 54321L)) ++
      (0 until 200).map(i => ((graft.synth.Synth.mix(i.toLong) & 0xFFFFL),
        (graft.synth.Synth.mix(i + 7777L) & 0xFFFFL)))
    coords.foreach { case (x, y) =>
      val z = TrainingOps.zValueScala(x, y)
      assert(z >= 0 && z < (1L << 32) && deinterleave(z) == ((x, y)), s"($x,$y)")
    }
    val fromCol = coords.toDF("x", "y")
      .select(col("x"), col("y"), TrainingOps.zValue(col("x"), col("y")).as("z"))
      .as[(Long, Long, Long)].collect()
    fromCol.foreach { case (x, y, z) => assert(z == TrainingOps.zValueScala(x, y)) }
    // shard audit equals a local recompute over the raw events
    val events = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), expr("unix_micros(CAST(ts AS TIMESTAMP))").as("us"))
      .as[(Long, Long)].collect()
    val local = events.map { case (u, us) =>
      val ux = ((u % 65536) + 65536) % 65536
      val tx = (us / 3600000000L) % 65536
      (ux, tx, TrainingOps.zValueScala(ux, tx))
    }
    val span = (1L << 32) / TrainingOps.ZShards
    val localShards = local.groupBy(_._3 / span).map { case (sid, rows) =>
      (sid, rows.length.toLong, rows.map(_._1).distinct.length.toLong,
        rows.map(_._2).distinct.length.toLong, rows.map(_._3).min, rows.map(_._3).max)
    }.toSet
    val got = TrainingOps.zOrderShards(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == localShards)
    // structural locality: one z shard (2^26 span) covers ≤ 2^13 distinct
    // values per dimension
    got.foreach { case (sid, _, nUsers, nHours, _, _) =>
      assert(nUsers <= 8192 && nHours <= 8192, s"shard $sid breaks the locality bound")
    }
  }

  test("trainSplit matches an independent sha256 recompute, 64/16/20 mapping") {
    import spark.implicits._
    val got = TrainingOps.trainSplit(spark, dir)
      .as[(Long, Long, String)].collect()
    assert(got.nonEmpty)
    got.foreach { case (id, bucket, split) =>
      assert(bucket == localBucket(TrainingOps.DefaultSeed, id), s"doc $id bucket")
      val want =
        if (bucket < TrainingOps.TrainPct) "train"
        else if (bucket < TrainingOps.TrainPct + TrainingOps.ValPct) "val"
        else "test"
      assert(split == want, s"doc $id split")
    }
    // every doc appears exactly once (pure projection, no row fan-out)
    assert(got.map(_._1).distinct.length == got.length)
  }

  test("trainSplit is stable under corpus growth: bucket depends only on the id") {
    // the property that makes the hash split scale: assigning a doc never
    // depends on which other docs exist, so growing the corpus never
    // reshuffles existing splits (a random permutation split would)
    import spark.implicits._
    val full = TrainingOps.trainSplit(spark, dir)
      .as[(Long, Long, String)].collect().map(r => r._1 -> r._3).toMap
    val ids = full.keys.toSeq.sorted
    val half = ids.take(ids.length / 2).toSet
    // recompute locally over the half corpus — identical assignments
    half.foreach { id =>
      val b = localBucket(TrainingOps.DefaultSeed, id)
      val want =
        if (b < TrainingOps.TrainPct) "train"
        else if (b < TrainingOps.TrainPct + TrainingOps.ValPct) "val" else "test"
      assert(full(id) == want)
    }
  }

  test("contrastivePairs matches exact local recompute (positives and negatives)") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "label").as[(Long, String)].collect()
    val byLabel: Map[String, Array[Long]] =
      vecs.groupBy(_._2).map { case (l, xs) => l -> xs.map(_._1).sorted }

    val expPos = byLabel.values.filter(_.length >= 2).flatMap { members =>
      members.zipWithIndex.map { case (id, i) =>
        (id, members((i + 1) % members.length), 1)
      }
    }.toSet

    val labels = byLabel.keys.toArray.sorted
    val expNeg =
      if (labels.length < 2) Set.empty[(Long, Long, Int)]
      else labels.zipWithIndex.flatMap { case (l, i) =>
        val t = labels((i + 1) % labels.length)
        val tm = byLabel(t)
        byLabel(l).zipWithIndex.map { case (id, rn0) =>
          (id, tm(rn0 % tm.length), 0)
        }
      }.toSet

    val got = TrainingOps.contrastivePairs(spark, dir)
      .as[(Long, Long, Int)].collect()
    assert(got.length == got.distinct.length, "pair rows must be unique")
    assert(got.toSet == (expPos ++ expNeg),
      s"got ${got.length} pairs, expected ${(expPos ++ expNeg).size}")
    // every anchor of a >=2 class has exactly one positive; every anchor
    // has exactly one negative when >=2 labels exist
    val posAnchors = got.filter(_._3 == 1).map(_._1)
    assert(posAnchors.distinct.length == posAnchors.length)
    val negAnchors = got.filter(_._3 == 0).map(_._1)
    assert(negAnchors.distinct.length == negAnchors.length)
    assert(got.forall { case (a, o, _) => a != o }, "no self-pairs")
  }

  // ---- IVF: exact fixed-point Lloyd recompute ------------------------

  private def localAssign(
      vecs: Array[(Long, Array[Float])],
      cents: Map[Int, Array[Float]]): Map[Long, Int] =
    vecs.map { case (id, v) =>
      val best = cents.toSeq.map { case (c, cv) =>
        (math.floor(TextAlgos.l2(v, cv) * 10000).toLong, c)
      }.min
      id -> best._2
    }.toMap

  private def localCentroids(
      vecs: Array[(Long, Array[Float])], nList: Int, iters: Int): Map[Int, Array[Float]] = {
    var cents: Map[Int, Array[Float]] =
      vecs.filter(_._1 < nList).map { case (id, v) => id.toInt -> v }.toMap
    for (_ <- 0 until iters) {
      val assign = localAssign(vecs, cents)
      cents = vecs.groupBy { case (id, _) => assign(id) }.map { case (c, members) =>
        val dim = members.head._2.length
        val arr = Array.tabulate(dim) { d =>
          val fx = members.map { case (_, v) =>
            math.floor(v(d).toDouble * SimilarityOps.IvfFxScale).toLong
          }
          val s = fx.sum
          val cnt = members.length
          // floor division exactly as the plan computes it (pmod form)
          val m = (s - (((s % cnt) + cnt) % cnt)) / cnt
          (m / SimilarityOps.IvfFxScale.toDouble).toFloat
        }
        c -> arr
      }
    }
    cents
  }

  test("ivfCentroids: bit-exact match with a local fixed-point Lloyd recompute") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val exp = localCentroids(vecs, SimilarityOps.IvfNList, SimilarityOps.IvfIters)
    val got = SimilarityOps.ivfCentroids(spark, dir)
      .as[(Int, Array[Float])].collect().toMap
    assert(got.keySet == exp.keySet, s"cells ${got.keySet} vs ${exp.keySet}")
    got.foreach { case (c, arr) =>
      assert(arr.sameElements(exp(c)), s"centroid $c differs")
    }
    // no cell lost all members on this corpus (documented repair gap)
    assert(got.size == SimilarityOps.IvfNList)
  }

  test("ivfTopK: exact match with local probe + score recompute") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val cents = localCentroids(vecs, SimilarityOps.IvfNList, SimilarityOps.IvfIters)
    val assign = localAssign(vecs, cents)
    val byId = vecs.toMap
    val expected = vecs.filter(_._1 < SimilarityOps.NQueries).flatMap { case (qid, qv) =>
      val probed = cents.toSeq.map { case (c, cv) =>
        (math.floor(TextAlgos.l2(qv, cv) * 10000).toLong, c)
      }.sorted.take(SimilarityOps.IvfNProbe).map(_._2).toSet
      vecs
        .filter { case (id, _) => id != qid && probed.contains(assign(id)) }
        .map { case (id, v) => (id, math.floor(TextAlgos.cosine(qv, v) * 10000).toLong) }
        .sortBy { case (id, c) => (-c, id) }
        .take(SimilarityOps.DefaultK)
        .zipWithIndex
        .map { case ((id, c), r) => (qid, id, r + 1, c) }
    }.toSet
    val got = SimilarityOps.ivfTopK(spark, dir)
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(got == expected, s"got ${got.size} rows, expected ${expected.size}")
    assert(got.nonEmpty, "IVF search must return results for the query set")
  }

  test("annRecall matches an exact local recompute of all three top-k sets") {
    import spark.implicits._
    val k = SimilarityOps.DefaultK
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val queryIds = vecs.map(_._1).filter(_ < SimilarityOps.NQueries).sorted

    def topK(qid: Long, qv: Array[Float], cands: Array[(Long, Array[Float])]): Set[Long] =
      cands
        .filter(_._1 != qid)
        .map { case (id, v) => (id, math.floor(TextAlgos.cosine(qv, v) * 10000).toLong) }
        .sortBy { case (id, c) => (-c, id) }
        .take(k).map(_._1).toSet

    val byId = vecs.toMap
    val exact = queryIds.map(q => q -> topK(q, byId(q), vecs)).toMap

    // LSH (auto-tuned path, Hamming-1 multi-probe): candidates are within
    // bucket-Hamming <= 1 of the query's b-low-bit bucket in ANY of the
    // chosen l tables (fixed stride TuneMaxPlanes)
    val params = SimilarityOps.tuneLshParams(spark, dir)
    val mask = (1 << params.nPlanes) - 1
    val buckets = vecs.map { case (id, v) =>
      id -> (0 until params.nTables).map { t =>
        TextAlgos.hyperplaneBucket(
          v, SimilarityOps.TuneMaxPlanes, t * SimilarityOps.TuneMaxPlanes) & mask
      }.toArray
    }.toMap
    val lsh = queryIds.map { q =>
      q -> topK(q, byId(q), vecs.filter { case (id, _) =>
        buckets(id).indices.exists(t =>
          java.lang.Integer.bitCount(buckets(id)(t) ^ buckets(q)(t)) <= 1)
      })
    }.toMap

    // IVF: candidates live in the query's nProbe nearest cells
    val cents = localCentroids(vecs, SimilarityOps.IvfNList, SimilarityOps.IvfIters)
    val assign = localAssign(vecs, cents)
    val ivf = queryIds.map { q =>
      val probed = cents.toSeq.map { case (c, cv) =>
        (math.floor(TextAlgos.l2(byId(q), cv) * 10000).toLong, c)
      }.sorted.take(SimilarityOps.IvfNProbe).map(_._2).toSet
      q -> topK(q, byId(q), vecs.filter { case (id, _) => probed.contains(assign(id)) })
    }.toMap

    val expected =
      queryIds.map(q => ("lsh", q, (lsh(q) & exact(q)).size.toLong, k)).toSet ++
      queryIds.map(q => ("ivf", q, (ivf(q) & exact(q)).size.toLong, k)).toSet

    val got = SimilarityOps.annRecall(spark, dir)
      .as[(String, Long, Long, Int)].collect().toSet
    assert(got == expected, s"got $got\nexpected $expected")
    // the metric must be meaningful on the synth corpus: both scale paths
    // recover a nonzero share of the exact neighbors, and hits <= k
    assert(got.forall { case (_, _, h, _) => h >= 0 && h <= k })
    // acceptance bar for the auto-tuned multi-probe path (fixed (6,8)
    // measured 0.21; tuned exact-bucket 0.58; tuned Hamming-1 raises it).
    // toSeq before map: summing over the Set would collapse equal hit counts
    val lshRecall = got.toSeq.filter(_._1 == "lsh").map(_._3).sum.toDouble / (queryIds.length * k)
    assert(lshRecall >= 0.8, f"tuned LSH recall@$k = $lshRecall%.2f below the 0.8 acceptance bar")
    assert(got.toSeq.filter(_._1 == "ivf").map(_._3).sum > 0, "IVF recall is zero")
  }

  test("annRanking: DCG/nDCG/MRR match an exact local recompute with the constant table") {
    import spark.implicits._
    val k = SimilarityOps.DefaultK
    val w = SimilarityOps.NdcgWeightsX10000
    val idcg = w.sum
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val queryIds = vecs.map(_._1).filter(_ < SimilarityOps.NQueries).sorted
    val byId = vecs.toMap

    def topKList(qid: Long, cands: Array[(Long, Array[Float])]): Seq[Long] =
      cands
        .filter(_._1 != qid)
        .map { case (id, v) => (id, math.floor(TextAlgos.cosine(byId(qid), v) * 10000).toLong) }
        .sortBy { case (id, c) => (-c, id) }
        .take(k).map(_._1).toSeq

    val exact = queryIds.map(q => q -> topKList(q, vecs).toSet).toMap
    val params = SimilarityOps.tuneLshParams(spark, dir)
    val mask = (1 << params.nPlanes) - 1
    val buckets = vecs.map { case (id, v) =>
      id -> (0 until params.nTables).map { t =>
        TextAlgos.hyperplaneBucket(
          v, SimilarityOps.TuneMaxPlanes, t * SimilarityOps.TuneMaxPlanes) & mask
      }.toArray
    }.toMap
    val lshList = queryIds.map { q =>
      q -> topKList(q, vecs.filter { case (id, _) =>
        buckets(id).indices.exists(t =>
          java.lang.Integer.bitCount(buckets(id)(t) ^ buckets(q)(t)) <= 1)
      })
    }.toMap
    val cents = localCentroids(vecs, SimilarityOps.IvfNList, SimilarityOps.IvfIters)
    val assign = localAssign(vecs, cents)
    val ivfList = queryIds.map { q =>
      val probed = cents.toSeq.map { case (c, cv) =>
        (math.floor(TextAlgos.l2(byId(q), cv) * 10000).toLong, c)
      }.sorted.take(SimilarityOps.IvfNProbe).map(_._2).toSet
      q -> topKList(q, vecs.filter { case (id, _) => probed.contains(assign(id)) })
    }.toMap

    def metrics(ranked: Seq[Long], rel: Set[Long]): (Long, Long, Long) = {
      val dcg = ranked.zipWithIndex.collect { case (id, i) if rel(id) => w(i) }.sum
      val fh = ranked.zipWithIndex.collectFirst { case (id, i) if rel(id) => i + 1 }
      (dcg, dcg * 10000 / idcg, fh.map(10000L / _).getOrElse(0L))
    }
    val expected = queryIds.flatMap { q =>
      Seq(("lsh", q, metrics(lshList(q), exact(q))),
        ("ivf", q, metrics(ivfList(q), exact(q))))
    }.map { case (m, q, (d, n, r)) => (m, q, d, idcg, n, r) }.toSet
    val got = SimilarityOps.annRanking(spark, dir)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected, s"got $got\nexpected $expected")
    // position-awareness must be live: with tuned-LSH recall >= 0.8 most
    // tier-query pairs hit in the top ranks
    assert(got.count(_._6 > 0) > queryIds.length,
      "most tier-query pairs should produce a first hit")
  }

  test("hardNegatives: conditional argmax over probed cells matches local recompute") {
    import spark.implicits._
    val vecs3 = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding", "label").as[(Long, Array[Float], Int)].collect()
    val vecs = vecs3.map { case (id, v, _) => (id, v) }
    val labels = vecs3.map { case (id, _, l) => id -> l }.toMap
    val cents = localCentroids(vecs, SimilarityOps.IvfNList, SimilarityOps.IvfIters)
    val assign = localAssign(vecs, cents)
    val byId = vecs.toMap
    val expected = vecs.map(_._1).filter(_ < SimilarityOps.NQueries).map { q =>
      val probed = cents.toSeq.map { case (c, cv) =>
        (math.floor(TextAlgos.l2(byId(q), cv) * 10000).toLong, c)
      }.sorted.take(SimilarityOps.IvfNProbe).map(_._2).toSet
      val cands = vecs
        .filter { case (id, _) => id != q && probed.contains(assign(id)) }
        .map { case (id, v) =>
          (id, labels(id), math.floor(TextAlgos.cosine(byId(q), v) * 10000).toLong) }
      def best(f: Int => Boolean): Option[(Long, Long)] = {
        val side = cands.filter(c => f(c._2))
        if (side.isEmpty) None
        else Some((side.maxBy(c => (c._3, -c._1))._1, side.map(_._3).max))
      }
      val p = best(_ == labels(q)); val n = best(_ != labels(q))
      (q, labels(q), p.map(_._1), p.map(_._2), n.map(_._1), n.map(_._2),
        for { pp <- p; nn <- n } yield pp._2 - nn._2)
    }.toSet
    val got = SimilarityOps.hardNegatives(spark, dir)
      .as[(Long, Int, Option[Long], Option[Long], Option[Long], Option[Long], Option[Long])]
      .collect().toSet
    assert(got == expected, s"got $got\nexpected $expected")
    assert(got.exists(r => r._3.isDefined && r._5.isDefined),
      "mining must find both a positive and a hard negative for some anchor")
  }

  test("ivfIndexedTopK: persisted-index search equals the in-plan q54 search exactly") {
    import spark.implicits._
    val base = tempDir("graft-ivf-idx-test").toString
    val fromIndex = SimilarityOps.ivfIndexedTopK(spark, dir, base)
      .as[(Long, Long, Int, Long)].collect().toSet
    val inPlan = SimilarityOps.ivfTopK(spark, dir)
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(fromIndex == inPlan, s"index-scan search diverged from q54")
    assert(fromIndex.nonEmpty)
    // the layout is genuinely cell-partitioned on disk
    val cells = new java.io.File(s"$base/index").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).toSet
    assert(cells.size == SimilarityOps.IvfNList, s"index partitions: $cells")
  }

  test("ivfAppendTopK: frozen base-trained centroids, full-corpus search — exact local match") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val base = vecs.filter(_._1 < SimilarityOps.IvfAppendBase)
    assert(base.length < vecs.length, "the append delta must be non-empty")
    val cents = localCentroids(base, SimilarityOps.IvfNList, SimilarityOps.IvfIters)
    val assign = localAssign(vecs, cents) // FROZEN centroids assign everyone
    val byId = vecs.toMap
    val expected = vecs.map(_._1).filter(_ < SimilarityOps.NQueries).flatMap { q =>
      val probed = cents.toSeq.map { case (c, cv) =>
        (math.floor(TextAlgos.l2(byId(q), cv) * 10000).toLong, c)
      }.sorted.take(SimilarityOps.IvfNProbe).map(_._2).toSet
      vecs
        .filter { case (id, _) => id != q && probed.contains(assign(id)) }
        .map { case (id, v) => (id, math.floor(TextAlgos.cosine(byId(q), v) * 10000).toLong) }
        .sortBy { case (id, c) => (-c, id) }
        .take(SimilarityOps.DefaultK)
        .zipWithIndex
        .map { case ((id, c), r) => (q, id, r + 1, c) }
    }.toSet
    val got = SimilarityOps.ivfAppendTopK(spark, dir)
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(got == expected, s"got ${got.size}, expected ${expected.size}")
    assert(got.nonEmpty)
    // appended (post-base) vectors are genuinely searchable
    assert(got.exists(_._2 >= SimilarityOps.IvfAppendBase),
      "some neighbor must come from the appended delta")
  }

  test("ivfCellDrift: frozen-cell base/appended counts match local recompute; drift nonzero") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val base = vecs.filter(_._1 < SimilarityOps.IvfAppendBase)
    val cents = localCentroids(base, SimilarityOps.IvfNList, SimilarityOps.IvfIters)
    val assign = localAssign(vecs, cents)
    val expected = vecs.groupBy(v => assign(v._1)).map { case (cell, ms) =>
      val nb = ms.count(_._1 < SimilarityOps.IvfAppendBase).toLong
      val na = ms.length - nb
      (cell, nb, na, na * 10000L / math.max(nb, 1L))
    }.toSet
    val got = SimilarityOps.ivfCellDrift(spark, dir)
      .as[(Int, Long, Long, Long)].collect().toSet
    assert(got == expected, s"got $got\nexpected $expected")
    assert(got.exists(_._3 > 0), "appended vectors must land in the frozen cells")
  }

  test("ivfAppendRecall: overlap arithmetic exact between the two (self-verified) indexes") {
    import spark.implicits._
    val fresh = SimilarityOps.ivfTopK(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val frozen = SimilarityOps.ivfAppendTopK(spark, dir)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val k = SimilarityOps.DefaultK
    val expected = fresh.keySet.union(frozen.keySet).map { q =>
      val h = (fresh.getOrElse(q, Set.empty) intersect frozen.getOrElse(q, Set.empty)).size.toLong
      (q, h, k, h * 10000L / k)
    }
    val got = SimilarityOps.ivfAppendRecall(spark, dir)
      .as[(Long, Long, Int, Long)].collect().toSet
    assert(got == expected, s"got $got\nexpected $expected")
    // the frozen index keeps most answers on this corpus (staleness cost bounded)
    assert(got.toSeq.map(_._2).sum >= got.size, "frozen index lost almost everything")
  }

  test("cellTopicCards: cell-level TF-IDF scores and ranks match local recompute") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val cents = localCentroids(vecs, SimilarityOps.IvfNList, SimilarityOps.IvfIters)
    val assign = localAssign(vecs, cents)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    def toks(t: String): Array[String] = {
      val s = t.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
      s.split("\\s+", -1).filter(_.nonEmpty)
    }
    val member = docs.flatMap { case (id, t) => assign.get(id).map(c => (c, t)) }
    val sizes = member.groupBy(_._1).map { case (c, rs) => c -> rs.length.toLong }
    val tf = member.flatMap { case (c, t) => toks(t).map(w => (c, w)) }
      .groupBy(identity).map { case (k, rs) => k -> rs.length.toLong }
    val cdf = tf.keys.groupBy(_._2).map { case (w, ks) => w -> ks.size.toLong }
    val nCells = assign.values.toSet.size.toLong
    def bits(x: Long): Long = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val expected = tf.keys.groupBy(_._1).flatMap { case (c, keys) =>
      keys.toSeq
        .map { case (_, w) => (w, tf((c, w)), tf((c, w)) * bits(nCells * 10000L / cdf(w))) }
        .sortBy { case (w, _, s) => (-s, w) }
        .take(SimilarityOps.TopicCardK)
        .zipWithIndex
        .map { case ((w, t, s), i) => (c, sizes(c), w, t, s, i + 1) }
    }.toSet
    val got = SimilarityOps.cellTopicCards(spark, dir)
      .as[(Int, Long, String, Long, Long, Int)].collect().toSet
    assert(got == expected, s"got ${got.size} rows, expected ${expected.size}")
    assert(got.map(_._1).size > 1 || got.nonEmpty)
  }

  test("cellOutliers: decile value-thresholds and verdicts match local recompute") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val cents = localCentroids(vecs, SimilarityOps.IvfNList, SimilarityOps.IvfIters)
    val assign = localAssign(vecs, cents)
    val cc = vecs.map { case (id, v) =>
      id -> math.floor(TextAlgos.cosine(v, cents(assign(id))) * 10000).toLong
    }.toMap
    val p10 = vecs.groupBy { case (id, _) => assign(id) }.map { case (cell, members) =>
      val vals = members.map(m => cc(m._1)).sorted
      val n = vals.length.toLong
      val hist = vals.groupBy(identity).toSeq.sortBy(_._1)
      var cum = 0L; var t = Option.empty[Long]
      hist.foreach { case (v, g) =>
        cum += g.length
        if (t.isEmpty && cum * 10 >= n) t = Some(v)
      }
      cell -> t.get
    }
    val expected = vecs.map { case (id, _) =>
      val cell = assign(id)
      (id, cell, cc(id), p10(cell), cc(id) <= p10(cell))
    }.toSet
    val got = SimilarityOps.cellOutliers(spark, dir)
      .as[(Long, Int, Long, Long, Boolean)].collect().toSet
    assert(got == expected, s"got ${got.size} rows, expected ${expected.size}")
    val out = got.count(_._5)
    assert(out > 0 && out < got.size, s"outlier flag must genuinely split: $out/${got.size}")
  }

  test("LSH tuner: fxPow/fxHit exactness and feasible-first grid choice") {
    assert(SimilarityOps.fxPow(10000L, 5) == 10000L)
    assert(SimilarityOps.fxPow(5000L, 2) == 2500L)
    assert(SimilarityOps.fxPow(5000L, 3) == 1250L)
    assert(SimilarityOps.fxPow(9999L, 1) == 9999L)
    assert(SimilarityOps.fxPow(5000L, 0) == 10000L, "empty fold is the unit")
    // multi-probe hit: q^b + b*q^(b-1)*(1-q), truncating at each step
    assert(SimilarityOps.fxHit(5000L, 1) == 10000L, "1-bit tables probe both buckets")
    assert(SimilarityOps.fxHit(5000L, 2) == 2500L + 2L * 2500L)
    assert(SimilarityOps.fxHit(9000L, 3) == 7290L + 3L * (8100L * 1000L / 10000L))
    val strong = SimilarityOps.chooseLshParams(9000L, 5000L)
    val weak = SimilarityOps.chooseLshParams(5700L, 5000L)
    // both meet the recall target; the strongly-correlated estimate buys
    // it with far fewer expected candidates
    assert(strong.expRecallX10000 >= SimilarityOps.TuneTargetRecallX10000)
    assert(weak.expRecallX10000 >= SimilarityOps.TuneTargetRecallX10000)
    assert(strong.expVolumeX10000 < weak.expVolumeX10000)
    // under multi-probe the redundancy axis is bucket WIDTH first (a
    // Hamming-1 probe set over fewer planes covers more of the sphere),
    // tables second — weak correlation must buy recall on at least one
    assert(weak.nPlanes < strong.nPlanes || weak.nTables > strong.nTables,
      s"weak correlation must buy recall with broader buckets or more tables: $weak vs $strong")
  }

  // ---- corpus-assembly ops: decontaminate / vocab / packing ----------

  test("decontaminate matches local gram-overlap recompute") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val gramSets: Map[Long, Set[Long]] = docs.map { case (id, t) =>
      id -> TextAlgos.shingleHashesOrdered(
        TextAlgos.tokenize(t), graft.ops.TextOps.WinnowK).toSet
    }.toMap
    def bucket(id: Long) = localBucket(TrainingOps.DefaultSeed, id)
    val trainGrams = gramSets.collect {
      case (id, g) if bucket(id) < TrainingOps.TrainPct => g
    }.foldLeft(Set.empty[Long])(_ ++ _)
    val expected = gramSets.collect {
      case (id, g) if bucket(id) >= TrainingOps.TrainPct && (g & trainGrams).nonEmpty =>
        val split =
          if (bucket(id) < TrainingOps.TrainPct + TrainingOps.ValPct) "val" else "test"
        (id, split, (g & trainGrams).size.toLong)
    }.toSet
    val got = TrainingOps.decontaminate(spark, dir)
      .as[(Long, String, Long)].collect().toSet
    assert(got == expected, s"got ${got.size} contaminated docs, expected ${expected.size}")
    assert(got.nonEmpty, "synth corpus must exhibit some train/eval gram overlap")
  }

  test("vocabBuild matches local count + deterministic rank recompute") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("text").as[String].collect()
    val counts = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { t =>
      TextAlgos.tokenize(t).foreach(tok => counts(tok) = counts.getOrElse(tok, 0L) + 1)
    }
    val expected = counts.toSeq
      .sortBy { case (tok, c) => (-c, tok) }
      .take(TrainingOps.DefaultVocabSize)
      .zipWithIndex
      .map { case ((tok, c), i) => (tok, c, i + 1) }
    val got = TrainingOps.vocabBuild(spark, dir)
      .as[(String, Long, Int)].collect().sortBy(_._3)
    assert(got.toSeq == expected,
      s"vocab mismatch: got ${got.length} entries, expected ${expected.length}")
  }

  test("packSequences equals the single-window global cumsum for any range split") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect().sortBy(_._1)
    val re = "[A-Za-z]{1,6}|[0-9]{1,3}|[^A-Za-z0-9\\s]".r
    var cum = 0L
    val B = TrainingOps.DefaultChunkBudget
    val expected = docs.map { case (id, t) =>
      val n = re.findAllIn(if (t == null) "" else t).size.toLong
      val start = cum
      cum += n
      (id, n, start, start / B, if (n == 0) -1L else (cum - 1) / B)
    }.toSet
    val got = TrainingOps.packSequences(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == expected)
    // chunks must tile: every doc's first chunk starts within budget of
    // its start offset and consecutive docs are contiguous
    val byId = got.toSeq.sortBy(_._1)
    byId.sliding(2).foreach {
      case Seq((_, n, s, _, _), (_, _, s2, _, _)) => assert(s2 == s + n)
      case _ =>
    }
  }

  test("writeShards: range-sharded, balanced, internally sorted, content-complete") {
    import spark.implicits._
    val out = tempDir("graft-shards").toString + "/packed"
    val packed = TrainingOps.packSequences(spark, dir)
    TrainingOps.writeShards(packed, out, nShards = 4, orderCol = "doc_id")
    // content equality
    val back = spark.read.parquet(out)
    assert(back.count() == packed.count())
    assert(
      back.select("doc_id", "start_offset").as[(Long, Long)].collect().toSet ==
        packed.select("doc_id", "start_offset").as[(Long, Long)].collect().toSet)
    // shard files hold NON-OVERLAPPING doc_id ranges (range sharding) and
    // are individually sorted; sizes are balanced within 3x of each other
    val files = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length == 4, s"expected 4 shards, got ${files.length}")
    val ranges = files.map { f =>
      val ids = spark.read.parquet(f.getAbsolutePath).select("doc_id").as[Long].collect()
      assert(ids.sameElements(ids.sorted), s"${f.getName} not internally sorted")
      (ids.min, ids.max, ids.length)
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, aMax, _), (bMin, _, _)) =>
        assert(aMax < bMin, "shard key ranges overlap")
      case _ =>
    }
    val sizes = ranges.map(_._3)
    assert(sizes.max <= 3 * math.max(sizes.min, 1), s"shards unbalanced: ${sizes.mkString(",")}")
  }

  test("encodeDocs matches a local vocab + encode recompute; OOV actually occurs") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    val counts = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (_, t) =>
      TextAlgos.tokenize(t).foreach(tok => counts(tok) = counts.getOrElse(tok, 0L) + 1)
    }
    val vocab = counts.toSeq
      .sortBy { case (tok, c) => (-c, tok) }
      .take(TrainingOps.EncodeVocabSize)
      .zipWithIndex.map { case ((tok, _), i) => tok -> (i + 1) }.toMap
    val got = TrainingOps.encodeDocs(spark, dir)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(got.size == docs.length)
    var totalOov = 0L
    docs.foreach { case (id, t) =>
      val ids = t.trim.split("\\s+").toSeq.map(w => vocab.getOrElse(w, 0))
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(ids.mkString(",").getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(got(id) == ((id, ids.size.toLong, ids.count(_ == 0).toLong, sha)), s"doc $id")
      totalOov += ids.count(_ == 0)
    }
    assert(totalOov > 0, "vocab cap must leave real OOV tokens at verify scale")
  }

  test("stratifiedSample keeps exactly the hash-bucket-eligible docs per language") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "lang").as[(Long, String)].collect()
    val pct = TrainingOps.DefaultStrata.toMap
    val expected = docs.filter { case (id, lang) =>
      localBucket("7", id) < pct.getOrElse(lang, 0)
    }.toSet
    val got = TrainingOps.stratifiedSample(spark, dir)
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    assert(got == expected)
    // the sample is a genuine subset with every stratum represented
    assert(got.size < docs.length)
    assert(TrainingOps.DefaultStrata.map(_._1).forall(l => got.exists(_._2 == l)))
  }

  test("mixtureSample: exact fixed-point fraction per source, sha-gated, budget-capped") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "source", "text").as[(Long, String, String)].collect()
    val nTok = docs.map { case (id, src, t) =>
      (id, src, SparkSessionFixture.sparkTokenCount(t)) }
    val totals = nTok.groupBy(_._2).map { case (s, rs) => s -> rs.map(_._3).sum }
    val budget = TrainingOps.DefaultMixBudget
    val frac = totals.map { case (s, tot) =>
      s -> (if (tot == 0) 0L else math.min(10000L, budget * 10000L / tot)) }
    def bucket10k(id: Long): Long =
      java.lang.Long.parseLong(
        sha256Hex(s"${TrainingOps.DefaultSeed}|$id").substring(0, 8), 16) % 10000
    val expected = nTok.filter { case (id, src, _) => bucket10k(id) < frac(src) }
      .map { case (id, src, n) => (id, src, n, frac(src)) }.toSet
    val got = TrainingOps.mixtureSample(spark, dir)
      .as[(Long, String, Long, Long)].collect().toSet
    assert(got == expected)
    // the cap binds at verify scale: a real subset, every source still
    // represented, and no source's kept-token sum wildly over budget
    assert(got.size < docs.length && got.nonEmpty)
    assert(totals.keySet.forall(s => got.exists(_._2 == s)))
    got.groupBy(_._2).foreach { case (s, rows) =>
      val kept = rows.map(_._3).sum
      assert(kept <= 3 * budget,
        s"source $s kept $kept tokens against budget $budget — gate not binding")
    }
  }

  test("prioritySample: exact bottom-k by hash-div-weight; longer docs favored") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)].collect()
    def h(id: Long): Long = java.lang.Long.parseLong(
      sha256Hex(s"${TrainingOps.DefaultSeed}|$id").substring(0, 8), 16)
    val ranked = docs
      .map { case (id, t) => (id, t.trim.split("\\s+").count(_.nonEmpty).toLong) }
      .filter(_._2 > 0)
      .map { case (id, w) => (id, w, h(id) / w) }
      .sortBy(r => (r._3, r._1))
    val want = ranked.take(TrainingOps.PrioritySampleK).toSeq
    val got = TrainingOps.prioritySample(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == want)
    // the weighting must bite: kept docs are longer than the corpus mean
    val meanAll = ranked.map(_._2).sum.toDouble / ranked.length
    val meanKept = got.map(_._2).sum.toDouble / got.length
    assert(meanKept > meanAll,
      s"weighted sample mean $meanKept must exceed corpus mean $meanAll")
  }

  test("datasetCard: every field matches a local recompute") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select("source", "lang", "text").as[(String, String, String)].collect()
    val nDocs = docs.length.toLong
    val total = docs.map(d => SparkSessionFixture.sparkTokenCount(d._3)).sum
    val nDistinct = docs.map(d => sha256Hex(Option(d._3).getOrElse(""))).distinct.length.toLong
    val got = TrainingOps.datasetCard(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long, Long)].head()
    assert(got == ((nDocs, total,
      docs.map(_._1).distinct.length.toLong, docs.map(_._2).distinct.length.toLong,
      nDistinct, (nDocs - nDistinct) * 10000L / nDocs, total * 100L / nDocs)))
  }

  test("quantized persisted index: recall clears the q156 0.8 bar; output shape exact") {
    val dir = "/root/testdata/sf0.001"
    val base = tempDir("graft-ivf-q-spec").toString
    val got = graft.ops.SimilarityOps.ivfQuantizedIndexTopK(spark, dir, base)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length == graft.ops.SimilarityOps.NQueries.toInt)
    // recall_x10000 is exactly n_overlap scaled — the output is internally consistent
    got.foreach { case (_, ov, rec) =>
      assert(rec == ov * 10000L / graft.ops.SimilarityOps.DefaultK)
    }
    // the serving-tier acceptance bar: mean recall vs the FLOAT brute
    // baseline >= 0.8 even with BOTH lossy steps composed (cell pruning
    // x int8 scoring); measured 0.9166 at sf0.001
    val mean = got.map(_._3).sum / got.length
    assert(mean >= 8000L, s"mean recall_x10000 $mean below the 0.8 bar")
    // each query's overlap, recomputed locally: the float router probes
    // IvfNProbe cells by (floor(l2·10⁴), cell); the int8 codes in them
    // rank by signed cos² (vec_id tie-break); the reference is the float
    // brute-force top-k
    import spark.implicits._
    val k = SimilarityOps.DefaultK
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val cents = localCentroids(vecs, SimilarityOps.IvfNList, SimilarityOps.IvfIters)
    val assign = localAssign(vecs, cents)
    val codes = vecs.map { case (id, v) =>
      val amax = math.max(v.map(x => math.abs(x.toDouble)).max, 1e-30)
      id -> v.map(x => math.floor(x.toDouble / amax * 127.0 + 0.5).toLong)
    }.toMap
    def n2(c: Array[Long]): Long = c.map(x => x * x).sum
    def s2(a: Array[Long], b: Array[Long]): Long = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val mag = dot * dot * 10000L / (n2(a) * n2(b))
      if (dot < 0) -mag else mag
    }
    val byId = vecs.toMap
    val expected = vecs.map(_._1).filter(_ < SimilarityOps.NQueries).map { q =>
      val probed = cents.toSeq.map { case (c, cv) =>
        (math.floor(TextAlgos.l2(byId(q), cv) * 10000).toLong, c)
      }.sorted.take(SimilarityOps.IvfNProbe).map(_._2).toSet
      val quant = vecs.map(_._1)
        .filter(id => id != q && probed.contains(assign(id)))
        .sortBy(id => (-s2(codes(q), codes(id)), id)).take(k).toSet
      val float = vecs
        .filter(_._1 != q)
        .sortBy { case (id, v) => (-math.floor(TextAlgos.cosine(byId(q), v) * 10000).toLong, id) }
        .take(k).map(_._1).toSet
      q -> (quant & float).size.toLong
    }.toMap
    assert(got.map(r => r._1 -> r._2).toMap == expected)
  }

  test("semDedup: within-cell domination matches local recompute; pruning genuinely fires") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding").as[(Long, Array[Float])].collect()
    val cents = localCentroids(vecs, SimilarityOps.IvfNList, SimilarityOps.IvfIters)
    val assign = localAssign(vecs, cents)
    val cc = vecs.map { case (id, v) =>
      id -> math.floor(TextAlgos.cosine(v, cents(assign(id))) * 10000).toLong
    }.toMap
    val tau = DedupOps.VerifyEmbDupThresholdX10000.toLong
    val expected = vecs.map { case (id, v) =>
      val mates = vecs.filter { case (oid, ov) =>
        oid != id && assign(oid) == assign(id) &&
          math.floor(TextAlgos.cosine(v, ov) * 10000).toLong >= tau
      }
      val dominated = mates.exists { case (oid, _) =>
        cc(oid) < cc(id) || (cc(oid) == cc(id) && oid < id)
      }
      (id, assign(id), cc(id), mates.length.toLong, !dominated)
    }.toSet
    val got = DedupOps.semDedup(spark, dir)
      .as[(Long, Int, Long, Long, Boolean)].collect().toSet
    assert(got == expected, s"got ${got.size} rows, expected ${expected.size}")
    val pruned = got.count(!_._5)
    assert(pruned > 0 && pruned < got.size,
      s"semantic pruning must genuinely fire at verify scale: $pruned/${got.size}")
    // one-pass keep rule: in every cell with duplicates, at least one
    // member survives (the domination order has a unique minimum)
    got.groupBy(_._2).foreach { case (cell, rows) =>
      if (rows.exists(_._4 > 0)) assert(rows.exists(_._5), s"cell $cell lost every member")
    }
  }

  test("clusterBalancedSample: gate math exact over the (q54-proven) cell assignment") {
    import spark.implicits._
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select("vec_id", "embedding")
    val assigned = SimilarityOps
      .assignCells(vecs, SimilarityOps.ivfCentroidsOf(vecs))
      .as[(Long, Int)].collect()
    val cap = TrainingOps.DefaultCellCap
    val frac = assigned.groupBy(_._2).map { case (c, rs) =>
      c -> math.min(10000L, cap * 10000L / rs.length) }
    def bucket10k(id: Long): Long =
      java.lang.Long.parseLong(
        sha256Hex(s"${TrainingOps.DefaultSeed}|$id").substring(0, 8), 16) % 10000
    val expected = assigned.filter { case (id, c) => bucket10k(id) < frac(c) }
      .map { case (id, c) => (id, c, frac(c)) }.toSet
    val got = TrainingOps.clusterBalancedSample(spark, dir)
      .as[(Long, Int, Long)].collect().toSet
    assert(got == expected)
    assert(got.nonEmpty && got.size < assigned.length)
    // the cap binds: every over-full cell is genuinely downsampled
    got.groupBy(_._2).foreach { case (c, rows) =>
      assert(rows.size <= 3 * cap, s"cell $c kept ${rows.size} against cap $cap")
    }
  }
}
