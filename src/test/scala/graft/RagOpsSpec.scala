package graft

import graft.ops.RagOps
import org.scalatest.funsuite.AnyFunSuite

/** Local truths for the RAG family: reference-config chunking on a long
  * doc, chunk coverage/overlap invariants, and a full Scala brute
  * recompute of retrieval (provenance + threshold).
  */
class RagOpsSpec extends AnyFunSuite with SparkSessionFixture.TempDirs {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def sha256Hex(s: String): String = SparkSessionFixture.sha256Hex(s)

  /** Local twin of the engine's chunking. */
  private def localChunks(text: String, size: Int, overlap: Int): Seq[(Int, Int, Seq[String])] = {
    val words = text.trim.split("\\s+").toSeq
    (0 until words.length by (size - overlap)).zipWithIndex
      .map { case (s, i) => (i, s, words.slice(s, s + size)) }
  }

  /** Local twin of the engine's sha-prefix feature hashing. */
  private def localVec(toks: Seq[String], dims: Int): Array[Long] = {
    val v = new Array[Long](dims)
    toks.foreach { t =>
      v((BigInt(sha256Hex(t).take(8), 16) % dims).toInt) += 1L
    }
    v
  }

  private def localCos2X10000(a: Array[Long], b: Array[Long]): Long = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val na = a.map(x => x * x).sum
    val nb = b.map(x => x * x).sum
    if (na == 0 || nb == 0) 0L else dot * dot * 10000L / (na * nb)
  }

  test("chunkDocs at the reference config (128/16): stride 112, short tail, sha-exact content") {
    val longDoc = (0 until 300).map(i => s"tok$i").mkString(" ")
    val got = RagOps.chunkDocs(Seq((1L, longDoc)).toDF("doc_id", "text"))
      .collect().sortBy(_.getInt(1))
    assert(got.map(_.getInt(2)).toSeq == Seq(0, 112, 224), "starts must step by size-overlap")
    assert(got.map(_.getInt(3)).toSeq == Seq(128, 128, 76), "tail chunk is short, never padded")
    val local = localChunks(longDoc, 128, 16)
    got.zip(local).foreach { case (r, (ci, s, toks)) =>
      assert(r.getInt(1) == ci && r.getInt(2) == s)
      assert(r.getString(4) == sha256Hex(toks.mkString(" ")), s"chunk $ci content drifted")
    }
    // consecutive chunks share exactly `overlap` tokens
    assert(local(0)._3.takeRight(16) == local(1)._3.take(16))
  }

  test("chunk coverage: every token position lands in at least one chunk; short doc = 1 chunk") {
    val docs = Seq(
      (1L, "a b c"),
      (2L, (0 until 40).map("w" + _).mkString(" "))).toDF("doc_id", "text")
    val got = RagOps.chunkDocs(docs, 8, 2).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(got.filter(_._1 == 1L).toSeq == Seq((1L, 0, 0, 3)))
    val covered = got.filter(_._1 == 2L)
      .flatMap(c => c._3 until (c._3 + c._4)).toSet
    assert(covered == (0 until 40).toSet, "chunks must cover every token position")
  }

  test("retrieveChunks matches a full local brute recompute (provenance + threshold)") {
    val dir = tempDir("graft-rag").toString
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (1L, "red green blue yellow purple orange pink brown black white"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "red green blue cyan magenta orange pink silver black white"),
      (4L, "alpha beta gamma nine ten eleven twelve thirteen fourteen fifteen"),
      (5L, "unrelated words entirely disjoint vocabulary items only here now today"))
    corpus.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(s"$dir/documents.parquet")
    val (k, nq, sz, ov, thr) = (2, 2L, 8, 2, 9000L)
    val got = RagOps.retrieveChunks(spark, dir, k, nq, sz, ov, thr).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
        ((r.getLong(3), r.getInt(4), r.getInt(5), r.getLong(6), r.getBoolean(7)))).toMap
    // local brute over the same chunk vectors
    val chunks = corpus.flatMap { case (id, text) =>
      localChunks(text, sz, ov).map { case (ci, s, toks) =>
        (id, ci, s, localVec(toks, RagOps.RagDims))
      }
    }
    val (qs, cs) = chunks.partition(_._1 < nq)
    val expected = qs.flatMap { case (qd, qc, _, qv) =>
      val perDoc = cs.groupBy(_._1).map { case (d, dchunks) =>
        val best = dchunks
          .map(c => (localCos2X10000(qv, c._4), c._2, c._3))
          .maxBy { case (s, ci, _) => (s, -ci) }
        (d, best)
      }.toSeq
      perDoc.sortBy { case (d, (s, _, _)) => (-s, d) }.take(k).zipWithIndex.map {
        case ((d, (s, ci, st)), i) =>
          (qd, qc, i + 1) -> ((d, ci, st, s, s >= thr))
      }
    }.toMap
    assert(got == expected)
    // the planted exact copy is retrieved rank-1 and accepted for doc 0's chunks
    assert(got((0L, 0, 1)) == ((2L, 0, 0, 10000L, true)))
    // cross-vocabulary hits exist but fail the threshold
    assert(got.values.exists(v => !v._5), "threshold must genuinely reject some hits")
  }
}
