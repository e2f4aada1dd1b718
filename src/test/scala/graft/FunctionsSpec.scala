package graft

import graft.functions.GraftFunctions
import graft.text.TextAlgos
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native Catalyst expression `graft_simhash64`: bit-identical to the
  * pure-Scala path, null-safe, and actually inside WholeStageCodegen.
  */
class FunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionFixture.spark

  test("graft_simhash64 equals TextAlgos.simhash on documents; null -> null") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val viaExpr = docs.select($"doc_id", expr("graft_simhash64(text)").as("sh"))
      .as[(Long, Long)].collect().toMap
    val viaScala = docs.as[(Long, String)].collect()
      .map { case (id, t) => id -> TextAlgos.simhash(TextAlgos.tokenize(t)) }.toMap
    assert(viaExpr == viaScala)

    val withNull = Seq((1L, "hello world"), (2L, null)).toDF("id", "text")
    val rows = withNull.select(expr("graft_simhash64(text)").as("sh")).collect()
    assert(!rows(0).isNullAt(0) && rows(1).isNullAt(0))
  }

  test("expression participates in whole-stage codegen (no ser/de boundary)") {
    GraftFunctions.register(spark)
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "graft_simhash64(text) AS sh")
      .queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen spans in the short plan form
    assert(plan.contains("*(1) Project"), s"expected codegen'd Project in:\n$plan")
    assert(!plan.contains("SerializeFromObject"), "typed-map boundary crept back in")
  }

  test("graft_cosine_x10000 equals the typed cosine path; null-safe; codegen'd") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val sample = vecs.limit(20).as[(Long, Array[Float])].collect()
    val viaExpr = vecs.as("a").crossJoin(vecs.as("b"))
      .filter($"a.vec_id" < 20 && $"b.vec_id" < 20)
      .select($"a.vec_id".as("ia"), $"b.vec_id".as("ib"),
        expr("graft_cosine_x10000(a.embedding, b.embedding)").as("c"))
      .as[(Long, Long, Long)].collect()
      .map { case (ia, ib, c) => (ia, ib) -> c }.toMap
    val byId = sample.toMap
    viaExpr.foreach { case ((ia, ib), c) =>
      assert(c == math.floor(TextAlgos.cosine(byId(ia), byId(ib)) * 10000).toLong)
    }
    val rows = Seq((Array(1f, 0f), null: Array[Float])).toDF("a", "b")
      .select(expr("graft_cosine_x10000(a, b)")).collect()
    assert(rows(0).isNullAt(0))
    val plan = vecs.as("a").crossJoin(vecs.as("b"))
      .select(expr("graft_cosine_x10000(a.embedding, b.embedding)"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject"))
  }

  test("graft_l2_x10000 equals the typed L2 path; null-safe") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val byId = vecs.limit(20).as[(Long, Array[Float])].collect().toMap
    val viaExpr = vecs.as("a").crossJoin(vecs.as("b"))
      .filter($"a.vec_id" < 20 && $"b.vec_id" < 20)
      .select($"a.vec_id".as("ia"), $"b.vec_id".as("ib"),
        expr("graft_l2_x10000(a.embedding, b.embedding)").as("d"))
      .as[(Long, Long, Long)].collect()
    viaExpr.foreach { case (ia, ib, d) =>
      assert(d == math.floor(TextAlgos.l2(byId(ia), byId(ib)) * 10000).toLong)
    }
    val rows = Seq((Array(1f, 0f), null: Array[Float])).toDF("a", "b")
      .select(expr("graft_l2_x10000(a, b)")).collect()
    assert(rows(0).isNullAt(0))
  }

  test("graft_hyperplane_bucket equals the scala bucketing; codegen'd; null-safe") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val viaExpr = vecs.selectExpr("vec_id", "graft_hyperplane_bucket(embedding, 6) AS b")
      .as[(Long, Int)].collect().toMap
    val viaScala = vecs.as[(Long, Array[Float])].collect()
      .map { case (id, v) => id -> TextAlgos.hyperplaneBucket(v, 6) }.toMap
    assert(viaExpr == viaScala)
    val rows = Seq((1L, null: Array[Float])).toDF("id", "v")
      .selectExpr("graft_hyperplane_bucket(v, 4)").collect()
    assert(rows(0).isNullAt(0))
    val plan = vecs.selectExpr("graft_hyperplane_bucket(embedding, 6)")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject"), "bucketing fell out of codegen")
  }

  test("graft_count_vec equals the SQL sha-fold and a local recompute; null-safe; codegen'd") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val dims = 16
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(50).select($"doc_id", split(trim($"text"), "\\s+").as("toks"))
    // the exact SQL formulation the expression replaced (RagOps round-2 fold)
    val sqlFold =
      s"""aggregate(
         |  transform(toks, t -> pmod(cast(conv(substring(sha2(t, 256), 1, 8), 16, 10) AS bigint), ${dims}L)),
         |  array_repeat(0L, $dims),
         |  (acc, d) -> zip_with(acc, sequence(0L, ${dims - 1}L), (v, i) -> IF(i = d, v + 1L, v)))""".stripMargin
    val viaExpr = docs.selectExpr("doc_id", s"graft_count_vec(toks, $dims) AS v")
      .as[(Long, Array[Long])].collect().toMap
    val viaFold = docs.selectExpr("doc_id", s"$sqlFold AS v")
      .as[(Long, Array[Long])].collect().toMap
    assert(viaExpr.keySet == viaFold.keySet)
    viaExpr.foreach { case (id, v) => assert(v.toSeq == viaFold(id).toSeq, s"doc $id") }
    // independent local recompute (hex-prefix mod, as in the DuckDB oracle)
    val local = docs.as[(Long, Array[String])].collect().map { case (id, toks) =>
      val v = new Array[Long](dims)
      toks.foreach { t =>
        val hex = java.security.MessageDigest.getInstance("SHA-256")
          .digest(t.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
        v((BigInt(hex, 16) % dims).toInt) += 1L
      }
      id -> v
    }.toMap
    viaExpr.foreach { case (id, v) => assert(v.toSeq == local(id).toSeq, s"doc $id local") }
    // null array -> null; null TOKEN skipped (parity with the fold's null dim)
    val edge = Seq(
      (1L, Array("a", null, "a")),
      (2L, null: Array[String])).toDF("id", "toks")
    val rows = edge.selectExpr("id", "graft_count_vec(toks, 4) AS v")
      .orderBy("id").collect()
    assert(rows(0).getSeq[Long](1).sum == 2L, "null token must not count")
    assert(rows(1).isNullAt(1))
    val plan = docs.selectExpr("graft_count_vec(toks, 64)")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject"), "count_vec fell out of codegen")
  }

  test("graft_cos2_x10000 equals the SQL integer-fold and a BigInt recompute; null-safe") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val pairs = Seq.tabulate(200) { i =>
      def v() = Array.fill(16)(rnd.nextInt(9).toLong)
      (i.toLong, v(), if (i % 17 == 0) Array.fill(16)(0L) else v())
    } ++ Seq.tabulate(8) { i =>
      // heavy count masses: dot²·10⁴ and na·nb exceed 2^63, exercising the
      // exact big-integer fallback (the fast path alone would wrap)
      def v() = Array.fill(16)(100000L + rnd.nextInt(200000).toLong)
      (200L + i, v(), v())
    }
    val df = pairs.toDF("id", "a", "b")
    // the exact SQL formulation the expression replaced (RagOps round-2 fold)
    val sqlFold =
      """CASE WHEN aggregate(a, 0L, (acc, x) -> acc + x * x) = 0L
        |       OR aggregate(b, 0L, (acc, x) -> acc + x * x) = 0L THEN 0L
        |  ELSE CAST((pow10k - pmod(pow10k, den)) / den AS bigint) END""".stripMargin
    // the fold reference wraps 2^63 on the heavy rows (ANSI mode errors
    // there, as DuckDB would) — fold parity is asserted on the small-mass
    // rows; the heavy rows are pinned by the BigInt recompute below
    val prepared = df.filter("id < 200").selectExpr("id", "a", "b",
      "aggregate(zip_with(a, b, (x, y) -> x * y), 0L, (acc, x) -> acc + x) AS dot",
      "aggregate(a, 0L, (acc, x) -> acc + x * x) * aggregate(b, 0L, (acc, x) -> acc + x * x) AS den")
      .selectExpr("id", "a", "b", "den", "dot * dot * 10000L AS pow10k")
    val viaFold = prepared.selectExpr("id", s"$sqlFold AS c")
      .as[(Long, Long)].collect().toMap
    val viaExpr = df.selectExpr("id", "graft_cos2_x10000(a, b) AS c")
      .as[(Long, Long)].collect().toMap
    assert(viaFold.forall { case (id, c) => viaExpr(id) == c })
    // independent exact recompute
    pairs.foreach { case (id, a, b) =>
      val dot = a.zip(b).map { case (x, y) => BigInt(x) * y }.sum
      val den = a.map(x => BigInt(x) * x).sum * b.map(x => BigInt(x) * x).sum
      val want = if (den == 0) 0L else (dot * dot * 10000 / den).toLong
      assert(viaExpr(id) == want, s"pair $id")
    }
    val rows = Seq((Array(1L, 2L), null: Array[Long])).toDF("a", "b")
      .selectExpr("graft_cos2_x10000(a, b)").collect()
    assert(rows(0).isNullAt(0))
    val plan = df.selectExpr("graft_cos2_x10000(a, b)")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SerializeFromObject"), "cos2 fell out of codegen")
  }

  test("graft_canon_double: pinned str(float)-format edges; expression matches scala path") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // pinned against DuckDB CAST(double AS VARCHAR) / Python repr(float)
    val pinned = Seq(
      0.0 -> "0.0", 1.0 -> "1.0", -1.0 -> "-1.0", 1.5 -> "1.5",
      100.0 -> "100.0", 0.1 -> "0.1", 12345.6789 -> "12345.6789",
      1e15 -> "1000000000000000.0", 1e16 -> "1e+16", 1.23e16 -> "1.23e+16",
      1e-4 -> "0.0001", 1e-5 -> "1e-05", 0.00012345 -> "0.00012345",
      1.2345678901234568e17 -> "1.2345678901234568e+17",
      2.5 -> "2.5", -42.75 -> "-42.75", 99.95 -> "99.95", 3.0e7 -> "30000000.0",
      Double.MaxValue -> "1.7976931348623157e+308",
      Double.MinPositiveValue -> "5e-324",
      Double.NaN -> "nan",
      Double.PositiveInfinity -> "inf", Double.NegativeInfinity -> "-inf",
      // JDK17 Double.toString emits an extra digit for these; the
      // shortening step must strip it (JDK-4511638 class of values)
      7.573002978091994e16 -> "7.573002978091994e+16")
    pinned.foreach { case (d, want) =>
      assert(TextAlgos.canonDouble(d) == want, s"canonDouble($d)")
    }
    val viaExpr = Seq(12345.6789, 1e16, -0.0)
      .toDF("x").select(expr("graft_canon_double(x)").as("s")).as[String].collect()
    assert(viaExpr.toSeq == Seq("12345.6789", "1e+16", TextAlgos.canonDouble(-0.0)))
  }

  test("GraftExtensions injects the function via spark.sql.extensions") {
    // a new session's function registry starts from the builtins plus
    // the session extensions only: nothing registered on `spark` carries
    // over, so the function can only come from GraftExtensions
    val s2 = spark.newSession()
    val r = s2.sql("SELECT graft_simhash64('a b c a b') AS sh").collect()(0).getLong(0)
    assert(r == TextAlgos.simhash(TextAlgos.tokenize("a b c a b")))
  }
}
