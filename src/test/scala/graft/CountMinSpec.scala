package graft

import graft.ops.CountMinSketch
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Local truths for the Count-Min sketch: gram/position parity (column
  * vs driver math), mergeability (half-corpus matrices summed == full
  * matrix, at any parallelism), the one-sided-error contract
  * (est >= exact for EVERY term), and heavy-hitter completeness (the
  * sketch-passing set contains every exactly-heavy term).
  */
class CountMinSpec extends AnyFunSuite with SparkSessionFixture.TempDirs {

  private lazy val spark = SparkSessionFixture.spark

  // zipfy corpus: term t_i appears ~N/i times — a handful of genuinely
  // heavy terms over a long tail
  private val corpus: Seq[String] = {
    val words = (1 to 400).flatMap { i =>
      Seq.fill(2000 / i)(s"t$i")
    } ++ (1 to 5000).map(i => s"u$i") // singleton tail — keeps the
    // heavy threshold (total div 2000) well above the zipf knee
    // deterministic shuffle (splitmix-ish LCG) so heavy terms are
    // interleaved with the tail, not pre-grouped
    val arr = words.toArray
    var s = 0x9e3779b97f4a7c15L
    for (i <- arr.indices.reverse if i > 0) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val j = (((s >>> 33) % (i + 1)) + (i + 1)) % (i + 1)
      val tmp = arr(i); arr(i) = arr(j.toInt); arr(j.toInt) = tmp
    }
    arr.grouped(50).map(_.mkString(" ")).toSeq
  }

  private def docsDf = {
    import spark.implicits._
    corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  test("gram and probe positions: column expressions equal driver math") {
    import spark.implicits._
    val terms = Seq("t1", "t17", "the", "", "héllo", "a b")
    val got = terms.toDF("term")
      .select(col("term"), CountMinSketch.gramCol(col("term")).as("gram"))
      .as[(String, Long)].collect().toMap
    terms.foreach { t =>
      val g = CountMinSketch.gramScala(t)
      assert(got(t) == g, s"term '$t'")
      (0 until CountMinSketch.Depth).foreach { i =>
        val p = CountMinSketch.positionScala(g, i)
        assert(p >= 0 && p < CountMinSketch.Width)
      }
    }
    val posGot = terms.toDF("term")
      .select(col("term"),
        array((0 until CountMinSketch.Depth)
          .map(i => CountMinSketch.position(CountMinSketch.gramCol(col("term")), i)): _*)
          .as("pos"))
      .as[(String, Seq[Long])].collect().toMap
    terms.foreach { t =>
      val g = CountMinSketch.gramScala(t)
      val expected = (0 until CountMinSketch.Depth).map(CountMinSketch.positionScala(g, _))
      assert(posGot(t) == expected, s"term '$t'")
    }
  }

  test("matrix is mergeable: half-corpus matrices summed == full matrix, any parallelism") {
    val (a, b) = corpus.splitAt(corpus.size / 3)
    import spark.implicits._
    def mat(docs: Seq[String], parts: Int): Map[(Int, Long), Long] =
      CountMinSketch.matrix(
        CountMinSketch.corpusTerms(
          docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
            .toDF("doc_id", "text").repartition(parts)))
        .collect().map(r => ((r.getInt(0), r.getLong(1)), r.getLong(2))).toMap
    val full = mat(corpus, 1)
    assert(mat(corpus, 13) == full)
    val merged = (mat(a, 3).toSeq ++ mat(b, 5).toSeq)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    assert(merged == full)
  }

  test("one-sided error: est >= exact for every term; est exceeds exact only by collisions") {
    val terms = CountMinSketch.corpusTerms(docsDf)
    val rows = CountMinSketch.collectMatrix(CountMinSketch.matrix(terms))
    val exact = corpus.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    // row 0 sums to the corpus token count
    assert(rows(0).sum == exact.values.sum)
    exact.foreach { case (t, n) =>
      val g = CountMinSketch.gramScala(t)
      val est = (0 until CountMinSketch.Depth)
        .map(i => rows(i)(CountMinSketch.positionScala(g, i).toInt)).min
      assert(est >= n, s"underestimate for '$t': $est < $n")
    }
  }

  test("heavy hitters: sketch-passing set contains every exactly-heavy term, counts exact") {
    import spark.implicits._
    val dir = tempDir("cms").toString
    docsDf.withColumn("lang", lit("en")).withColumn("source", lit("synth"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CountMinSketch.heavyHitters(spark, dir)
      .as[(String, Long, Long)].collect()
      .map { case (t, e, x) => t -> ((e, x)) }.toMap
    val exact = corpus.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val threshold = math.max(1L, exact.values.sum / CountMinSketch.HeavyDiv)
    // completeness: every exactly-heavy term is present (no false negatives)
    exact.filter(_._2 >= threshold).foreach { case (t, n) =>
      assert(got.contains(t), s"heavy term '$t' ($n >= $threshold) missing")
    }
    // exactness of the audit column + one-sided estimate on every output
    got.foreach { case (t, (e, x)) =>
      assert(x == exact(t), s"exact_count wrong for '$t'")
      assert(e >= x, s"est < exact for '$t'")
    }
    // and the set is genuinely selective (tail terms filtered out)
    assert(got.size < exact.size / 2, s"heavy set not selective: ${got.size} of ${exact.size}")
  }
}
