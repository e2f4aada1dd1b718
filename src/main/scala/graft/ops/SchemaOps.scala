package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema evolution across drifted ingest batches — the engine-side
  * analogue of the reference's runtime schema maintenance: per-document
  * column-set union (ref: agents/sql_agent/json_to_db.py:49-68
  * gather_schema over every document), where a batch's missing columns
  * are null-filled by name.
  *
  * All operations are plan-time only (projections + unionByName) — no
  * shuffle, no data rewrite.
  */
object SchemaOps {

  /** Merge drifted batches by column NAME, null-filling the columns a
    * batch lacks (U1/A9). Column order follows first appearance across
    * the batch sequence (the reference unions column sets in document
    * order).
    */
  def mergeBatches(batches: Seq[DataFrame]): DataFrame = {
    require(batches.nonEmpty, "mergeBatches: no batches")
    batches.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** Recursive StructType union (A9): field-name keyed; nested structs
    * and array elements merged recursively; identical types kept;
    * numeric widenings (int→long, int/long/float→double) applied; any
    * other conflict fails loudly with the offending path. A field
    * missing from one schema becomes nullable.
    */
  def foldSchemas(schemas: Seq[StructType]): StructType = {
    require(schemas.nonEmpty, "foldSchemas: no schemas")
    schemas.reduce((a, b) => mergeStruct(a, b, ""))
  }

  private def mergeStruct(a: StructType, b: StructType, path: String): StructType = {
    val bByName = b.fields.map(f => f.name -> f).toMap
    val aNames = a.fieldNames.toSet
    val merged = a.fields.map { fa =>
      bByName.get(fa.name) match {
        case Some(fb) =>
          StructField(
            fa.name,
            mergeType(fa.dataType, fb.dataType, s"$path.${fa.name}"),
            fa.nullable || fb.nullable)
        case None => fa.copy(nullable = true)
      }
    }
    val appended = b.fields.filterNot(f => aNames.contains(f.name)).map(_.copy(nullable = true))
    StructType(merged ++ appended)
  }

  private def mergeType(a: DataType, b: DataType, path: String): DataType = (a, b) match {
    case (x, y) if x == y => x
    case (sa: StructType, sb: StructType) => mergeStruct(sa, sb, path)
    case (ArrayType(ea, na), ArrayType(eb, nb)) =>
      ArrayType(mergeType(ea, eb, s"$path[]"), na || nb)
    case (IntegerType, LongType) | (LongType, IntegerType) => LongType
    case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
    case (IntegerType, DoubleType) | (DoubleType, IntegerType) => DoubleType
    case (LongType, DoubleType) | (DoubleType, LongType) => DoubleType
    case (IntegerType, FloatType) | (FloatType, IntegerType) => DoubleType
    case (LongType, FloatType) | (FloatType, LongType) => DoubleType
    case _ =>
      throw new IllegalArgumentException(
        s"foldSchemas: incompatible types at '$path': " +
          s"${a.catalogString} vs ${b.catalogString}")
  }

  /** Driver-contract demonstration (q43): two deterministic drifted
    * batches from the structured records — each carries a column the
    * other lacks — merged by name with null fill. The driver-facing
    * variant sentinels the null-filled cells to -1 (nullable ints decay
    * to NaN floats in the oracle harness's dataframe compare); the raw
    * null-fill semantics are pinned by SchemaSpec.
    */
  def schemaEvolutionQueryChecked(records: DataFrame): DataFrame =
    schemaEvolutionQuery(records)
      .withColumn("n_materials", coalesce(col("n_materials"), lit(-1)))
      .withColumn("n_steps", coalesce(col("n_steps"), lit(-1)))

  def schemaEvolutionQuery(records: DataFrame): DataFrame = {
    val a = records.filter(col("conv_id") < "conv-000100")
      .select(
        col("conv_id"),
        col("batch_details.product_name").as("product_name"),
        size(col("material_usage_rows")).as("n_materials"))
    val b = records.filter(col("conv_id") >= "conv-000100")
      .select(
        col("conv_id"),
        col("batch_details.product_name").as("product_name"),
        size(col("steps")).as("n_steps"))
    mergeBatches(Seq(a, b))
  }

  /** A schema-dispatch candidate: (schema_name, schema, required field,
    * display key field). A record matches the candidate when the required
    * field parses non-null under the candidate schema.
    */
  type DispatchCandidate = (String, StructType, String, String)

  /** The engine's default dispatch set — the three child-record shapes
    * the shredder produces, in deterministic try order (the reference
    * tries its known Pydantic schemas in a fixed order and takes the
    * first that parses, db_init_llm.py:100-129).
    */
  val DispatchCandidates: Seq[DispatchCandidate] = Seq(
    ("material_usage",
      StructType(Seq(
        StructField("material_name", StringType),
        StructField("actual_quantity", LongType),
        StructField("checked_by", StringType))),
      "material_name", "material_name"),
    ("step",
      StructType(Seq(
        StructField("step_no", IntegerType),
        StructField("description", StringType))),
      "step_no", "description"),
    ("temperature",
      StructType(Seq(
        StructField("time_point", StringType),
        StructField("temperature_c", IntegerType))),
      "time_point", "time_point"))

  /** Schema identification / try-parse dispatch (ref: agents/sql_agent/
    * db_init_llm.py:100-129: each incoming JSON is classified by
    * attempting every known schema; first success wins): adds
    * `schema_name` (first candidate whose required field parses
    * non-null, else 'unknown' — malformed JSON parses to a null struct
    * and lands there too) and `key_field` (the matched candidate's
    * display field, as string).
    *
    * Pure per-row projection — `from_json` + conditionals, zero shuffle
    * at any scale (PlanShapeSpec pins the no-Exchange shape).
    */
  def classifyJson(
      df: DataFrame, jsonCol: String,
      candidates: Seq[DispatchCandidate] = DispatchCandidates): DataFrame = {
    require(candidates.nonEmpty, "classifyJson: no candidates")
    val parsed = candidates.map { case (n, sc, req, key) =>
      (n, from_json(col(jsonCol), sc), req, key)
    }
    val name = parsed.foldRight(lit("unknown")) { case ((n, p, req, _), acc) =>
      when(p.getField(req).isNotNull, lit(n)).otherwise(acc)
    }
    val keyField = parsed.foldRight(lit(null).cast("string")) { case ((_, p, req, key), acc) =>
      when(p.getField(req).isNotNull, p.getField(key).cast("string")).otherwise(acc)
    }
    df.withColumn("schema_name", name).withColumn("key_field", keyField)
  }
}
