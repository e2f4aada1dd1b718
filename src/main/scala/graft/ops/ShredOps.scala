package graft.ops

import graft.model._
import graft.synth.Synth
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Nested-record shredding, registry, rules and delete — the relational
  * sink side of the engine (ref: agents/sql_agent/json_to_db.py:49-83
  * recursive gather_schema -> one table per nested path with
  * `{parent}_{key}` naming; agents/sql_agent/utils.py:74-119 shredded
  * inserts; agents/delete_document.py:6-51 cascading delete;
  * agents/workflow_agent/workflows.json rule evaluation).
  *
  * Keys: every row carries `conv_id` (the reference tags every child row
  * with doc_id) and parent-child linkage uses deterministic sha256 path
  * keys, NOT monotonically_increasing_id / lastrowid — reproducible across
  * reruns and partitionings (SURVEY.md J3).
  */
object ShredOps {

  /** Deterministic structured records derived from the synthetic corpus —
    * the analogue of the golden extracted JSONs (FIXTURES.md §3). Some
    * material rows are deliberately out of range.
    */
  def structuredRecords(spark: SparkSession, nConvs: Long): Dataset[StructuredRecord] = {
    import spark.implicits._
    spark.range(nConvs).map { c =>
      val nRows = 2 + Synth.draw(c, -2, 0x200, 4)
      val rows = (0 until nRows).map { i =>
        val std = 100.0 + Synth.draw(c, i, 0x201, 400)
        val lo = std * 0.95
        val hi = std * 1.05
        // ~25% of rows out of range (error-injected golden variants)
        val actual =
          if (Synth.draw(c, i, 0x202, 4) == 0) hi + 1.0 + Synth.draw(c, i, 0x203, 50)
          else lo + (hi - lo) * (Synth.draw(c, i, 0x204, 100) / 100.0)
        MaterialUsageRow(
          material_name = s"mat-${Synth.draw(c, i, 0x205, 12)}",
          standard_quantity = std,
          allowed_range_min = lo,
          allowed_range_max = hi,
          actual_quantity = math.round(actual * 100.0) / 100.0,
          performed_by = RelationalOps.reviewerNames(Synth.draw(c, i, 0x206, 16)),
          checked_by = RelationalOps.reviewerNames(Synth.draw(c, i, 0x207, 16)))
      }
      val steps = (0 until 1 + Synth.draw(c, -2, 0x210, 3)).map { s =>
        ProcedureStep(
          step_no = s + 1,
          description = s"step-$s",
          temperature_records = (0 until 2 + Synth.draw(c, s, 0x211, 3)).map { t =>
            TemperatureRecord(s"t$t", 20.0 + Synth.draw(c, s * 31 + t, 0x212, 15))
          })
      }
      StructuredRecord(
        conv_id = f"conv-$c%06d",
        batch_details = BatchDetails(
          product_name = s"product-${Synth.draw(c, -2, 0x220, 8)}",
          batch_no = f"B$c%05d",
          batch_started_on = new java.sql.Timestamp(1735689600000L + c * 86400000L),
          batch_completed_on = new java.sql.Timestamp(1735689600000L + c * 86400000L + 3600000L * (4 + Synth.draw(c, -2, 0x221, 20)))),
        material_usage_rows = rows,
        steps = steps,
        equipment_no = (0 until 1 + Synth.draw(c, -2, 0x222, 3)).map(i => s"EQ-${Synth.draw(c, i, 0x223, 30)}"))
    }
  }

  /** Shred: `main_table_material_usage_rows` child (one row per element,
    * tagged with conv_id + a deterministic row key), with the P1 derived
    * validation column (ref: src/validation/material_usage.py:1-10).
    */
  def shredMaterialUsage(records: DataFrame): DataFrame =
    records
      .select(col("conv_id"), posexplode(col("material_usage_rows")).as(Seq("pos", "row")))
      .select(
        col("conv_id"),
        sha2(concat_ws("|", col("conv_id"), lit("material_usage_rows"), col("pos")), 256).as("row_key"),
        col("pos"),
        col("row.material_name").as("material_name"),
        col("row.standard_quantity").as("standard_quantity"),
        col("row.allowed_range_min").as("allowed_range_min"),
        col("row.allowed_range_max").as("allowed_range_max"),
        col("row.actual_quantity").as("actual_quantity"),
        col("row.performed_by").as("performed_by"),
        col("row.checked_by").as("checked_by"))
      .withColumn(
        "quantity_within_range",
        col("actual_quantity").between(col("allowed_range_min"), col("allowed_range_max")))

  /** Shred the 3-deep nesting: steps[] -> temperature_records[] becomes
    * `main_table_steps_temperature_records` with parent path keys.
    */
  def shredTemperatureRecords(records: DataFrame): DataFrame =
    records
      .select(col("conv_id"), posexplode(col("steps")).as(Seq("step_pos", "step")))
      .select(
        col("conv_id"),
        sha2(concat_ws("|", col("conv_id"), lit("steps"), col("step_pos")), 256).as("step_key"),
        col("step.step_no").as("step_no"),
        posexplode(col("step.temperature_records")).as(Seq("rec_pos", "rec")))
      .select(
        col("conv_id"), col("step_key"), col("step_no"),
        col("rec_pos"),
        col("rec.time_point").as("time_point"),
        col("rec.temperature_c").as("temperature_c"))

  /** Flatten array<string> to CSV (ref: db_init_llm.py:297-299 joins
    * equipment_no lists with commas for the SQL sink).
    */
  def flattenEquipment(records: DataFrame): DataFrame =
    records.select(
      col("conv_id"),
      array_join(col("equipment_no"), ",").as("equipment_csv"),
      size(col("equipment_no")).as("n_equipment"))

  /** J2: conversation registry with deterministic dense ids
    * (reproducible, unlike lastrowid / monotonically_increasing_id;
    * ref: json_to_db.py:36-47).
    *
    * Scale-safe two-phase assignment of the GLOBAL rank by conv_id
    * (`RelationalOps.twoPhaseGlobal`): a single global-order row_number
    * would funnel all keys through ONE partition, so instead keys are
    * range-partitioned, each partition numbers its own keys, and a
    * driver-computed prefix sum over the per-partition counts supplies
    * the offsets. `reg_id = offset(part) + local_rn` equals row_number
    * over the global conv_id order for ANY choice of range boundaries, so
    * the output is deterministic even though repartitionByRange samples
    * boundaries.
    */
  def registry(records: DataFrame): DataFrame =
    RelationalOps.twoPhaseGlobal(records.select(col("conv_id")).distinct(),
        Seq(col("conv_id")), lit(1L), row_number(), "reg_id")
      .select(col("conv_id"), col("reg_id"))

  /** T5/P1-negation: rule evaluation — the persisted example workflow
    * ("actual quantities within allowed range",
    * ref: agents/workflow_agent/workflows.json:1-8). Violations roll up
    * per conversation; "notify" = rows in this alerts table.
    */
  def ruleViolations(records: DataFrame): DataFrame =
    shredMaterialUsage(records)
      .filter(!col("quantity_within_range"))
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_violations"),
        max(col("actual_quantity") - col("allowed_range_max")).as("worst_overage"))

  /** J7: cascading delete of a conversation across all child tables. */
  def deleteConv(child: DataFrame, convIds: DataFrame): DataFrame =
    child.join(convIds, Seq("conv_id"), "left_anti")

  /** Generic recursive shredder — the schema-driven generalization of the
    * fixed-path shreds above, mirroring the reference's `gather_schema`
    * walk (ref: agents/sql_agent/json_to_db.py:49-83):
    *
    *  - struct field `k` → child table `{parent}_{k}`, parent keeps a
    *    deterministic `{k}_key` pointer (the reference's `{key}_id`
    *    back-pointer, json_to_db.py:57-59 — but sha256 path keys instead
    *    of lastrowid, reproducible across reruns/partitionings);
    *  - array<struct> field `k` → child table `{parent}_{k}`, one row per
    *    element with (parent_key, pos, row_key);
    *  - array<scalar> → CSV string in the parent (db_init_llm.py:297-299);
    *  - scalars stay in place; every row of every table carries `conv_id`
    *    (the reference tags every child row with doc_id).
    *
    * All shredding is projections + explode — narrow, shuffle-free, one
    * pass over the input per table.
    */
  def shredAll(records: DataFrame, rootName: String = "main_table"): Seq[(String, DataFrame)] = {
    import org.apache.spark.sql.types._
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, DataFrame)]
    val seenTables = scala.collection.mutable.Set.empty[String]
    // key columns the walk itself materializes — a payload field reusing
    // one would produce ambiguous/duplicate columns in the child select
    val reserved = Set("conv_id", "row_key", "parent_key", "pos")

    def checkChild(schema: StructType, table: String): Unit = {
      val clash = schema.fields.map(_.name).filter(reserved.contains)
      if (clash.nonEmpty)
        throw new IllegalArgumentException(
          s"shredAll: child table '$table' payload reuses reserved column(s) " +
            clash.mkString("[", ", ", "]") + "; rename the source field(s)")
    }

    def checkTable(name: String): Unit = {
      // `{parent}_{field}` naming can collide (field 'a' with child 'b_c'
      // vs field 'a_b' with child 'c') — fail fast rather than silently
      // emitting two tables with one name
      if (!seenTables.add(name))
        throw new IllegalArgumentException(
          s"shredAll: two nested paths map to the same table name '$name'; " +
            "rename one of the source fields")
    }

    // df carries conv_id + row_key + payload fields
    def walk(df: DataFrame, name: String): Unit = {
      checkTable(name)
      val payload = df.schema.fields.filterNot(f => f.name == "conv_id" || f.name == "row_key")
      var parent = df
      payload.foreach { f =>
        f.dataType match {
          case st: StructType =>
            checkChild(st, s"${name}_${f.name}")
            val childKey = sha2(concat_ws("|", col("row_key"), lit(f.name)), 256)
            val child = df.select(
              col("conv_id"), childKey.as("row_key"), col(f.name + ".*"))
            walk(child, s"${name}_${f.name}")
            parent = parent.withColumn(s"${f.name}_key", childKey).drop(f.name)
          case ArrayType(st: StructType, _) =>
            checkChild(st, s"${name}_${f.name}")
            val child = df
              .select(
                col("conv_id"), col("row_key").as("parent_key"),
                posexplode(col(f.name)).as(Seq("pos", "elem")))
              .select(
                col("conv_id"),
                sha2(concat_ws("|", col("parent_key"), lit(f.name), col("pos")), 256).as("row_key"),
                col("parent_key"), col("pos"), col("elem.*"))
            walk(child, s"${name}_${f.name}")
            parent = parent.drop(f.name)
          case ArrayType(_, _) =>
            parent = parent.withColumn(
              f.name, array_join(col(f.name).cast("array<string>"), ","))
          case _ => ()
        }
      }
      out += ((name, parent))
    }

    // Root key covers the FULL row content, not just conv_id: duplicate
    // deliveries of distinct records for one conv get distinct key
    // chains, while byte-identical duplicate rows intentionally collide
    // (the reference's INSERT OR IGNORE / MERGE idempotency,
    // json_to_db.py:38).
    val payloadCols = records.columns.filterNot(_ == "conv_id").map(col).toSeq
    walk(
      records.withColumn(
        "row_key",
        sha2(concat_ws("|", col("conv_id"), lit(rootName),
          sha2(to_json(struct(payloadCols: _*)), 256)), 256)),
      rootName)
    out.toSeq
  }

  /** Shape summary of a full shred — one row per produced table. The
    * input is cached for the duration: each table's count would otherwise
    * re-derive its full explode chain from the source.
    */
  def shredAllSummary(records: DataFrame, rootName: String = "main_table"): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    val cached = records.cache()
    try shredAll(cached, rootName)
      .map { case (t, df) => (t, df.count(), df.schema.fields.length) }
      .toDF("table_name", "n_rows", "n_cols")
      .coalesce(1).orderBy(col("table_name"))
      .localCheckpoint() // materialize before unpersisting the input
    finally cached.unpersist()
  }
}
