package graft

import graft.ops.SchemaOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class SchemaSpec extends AnyFunSuite {

  private lazy val spark = SparkSessionFixture.spark

  test("mergeBatches unions drifted batches by name with null fill") {
    import spark.implicits._
    val a = Seq(("c1", 10)).toDF("conv_id", "n_materials")
    val b = Seq(("c2", 3)).toDF("conv_id", "n_steps")
    val m = SchemaOps.mergeBatches(Seq(a, b))
    assert(m.columns.toSeq == Seq("conv_id", "n_materials", "n_steps"))
    val rows = m.orderBy("conv_id")
      .as[(String, Option[Int], Option[Int])].collect().toSeq
    assert(rows == Seq(("c1", Some(10), None), ("c2", None, Some(3))))
  }

  test("foldSchemas merges nested structs, widens numerics, rejects conflicts") {
    val s1 = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("meta", StructType(Seq(
        StructField("a", IntegerType),
        StructField("b", StringType))), nullable = false),
      StructField("xs", ArrayType(IntegerType))))
    val s2 = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("meta", StructType(Seq(
        StructField("a", DoubleType),
        StructField("c", StringType)))),
      StructField("extra", StringType)))
    val m = SchemaOps.foldSchemas(Seq(s1, s2))
    assert(m("id").dataType == LongType)
    val meta = m("meta").dataType.asInstanceOf[StructType]
    assert(meta("a").dataType == DoubleType)
    assert(meta.fieldNames.toSeq == Seq("a", "b", "c"))
    assert(meta("b").nullable && meta("c").nullable)
    assert(m("xs").nullable && m("extra").nullable)
    val bad = StructType(Seq(StructField("id", StringType)))
    val e = intercept[IllegalArgumentException](SchemaOps.foldSchemas(Seq(s1, bad)))
    assert(e.getMessage.contains(".id"))
  }

  test("drifted-batch ingest: every conv present once, drift columns null-filled per batch") {
    import spark.implicits._
    val recs = graft.ops.ShredOps.structuredRecords(spark, 120)
    val local = recs.collect()
    val merged = SchemaOps.schemaEvolutionQuery(recs.toDF())
      .as[(String, String, Option[Int], Option[Int])].collect()
      .map { case (c, p, nm, ns) => c -> ((p, nm, ns)) }.toMap
    assert(merged.size == local.length)
    local.foreach { r =>
      val (p, nm, ns) = merged(r.conv_id)
      assert(p == r.batch_details.product_name)
      if (r.conv_id < "conv-000100") {
        assert(nm.contains(r.material_usage_rows.size) && ns.isEmpty, r.conv_id)
      } else {
        assert(nm.isEmpty && ns.contains(r.steps.size), r.conv_id)
      }
    }
  }

  test("classifyJson: first-match dispatch, ambiguous order, malformed -> unknown") {
    import spark.implicits._
    val rows = Seq(
      (0L, """{"material_name":"mat-1","actual_quantity":120,"checked_by":"r1"}"""),
      (1L, """{"step_no":4,"description":"mix"}"""),
      (2L, """{"time_point":"t3","temperature_c":25}"""),
      (3L, """{"material_name":"mat-9","step_no":7}"""), // ambiguous: first match wins
      (4L, """{"vendor":"v-1"}"""), // valid but unknown shape
      (5L, """{"material_name": busted"""), // malformed JSON
      (6L, """not json at all"""))
      .toDF("rec_id", "payload")
    val got = SchemaOps.classifyJson(rows, "payload")
      .select("rec_id", "schema_name", "key_field")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), Option(r.getString(2))))).toMap
    assert(got(0L) == (("material_usage", Some("mat-1"))))
    assert(got(1L) == (("step", Some("mix"))))
    assert(got(2L) == (("temperature", Some("t3"))))
    assert(got(3L) == (("material_usage", Some("mat-9"))), "ambiguous record must take the FIRST matching candidate")
    assert(got(4L) == (("unknown", None)))
    assert(got(5L) == (("unknown", None)))
    assert(got(6L) == (("unknown", None)))
  }
}
