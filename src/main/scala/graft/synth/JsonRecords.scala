package graft.synth

import DocDraw.draw
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deterministic mixed-shape JSON payloads for the schema-identification
  * operator (the reference classifies each incoming JSON by try-parsing
  * every known Pydantic schema in order, ref: agents/sql_agent/
  * db_init_llm.py:100-129) — same planted-input pattern as
  * `synth.WebDocs`: each payload is a pure function of `rec_id`, so
  * `graft.Verify` can materialize a byte-identical copy for the DuckDB
  * oracle.
  *
  * Planted families:
  *  - material usage rows   (ids ≡ 0, 3 mod 5)
  *  - procedure steps       (ids ≡ 1 mod 5)
  *  - temperature records   (ids ≡ 2 mod 5)
  *  - ids ≡ 4 mod 5: the hostile tail — AMBIGUOUS records carrying the
  *    required fields of two schemas (first-match order must decide),
  *    valid-but-unknown shapes, and MALFORMED JSON (truncated value) —
  *    all shapes a real ingest feed carries.
  *
  * All numeric literals are integers: the operator under test is shape
  * dispatch, and integer JSON round-trips identically through Spark's
  * Jackson parse and DuckDB's JSON reader (no float-format parity risk).
  */
object JsonRecords {

  /** Pure payload builder — single source of truth for the Spark table,
    * the materialized oracle table, and test-side recomputation.
    */
  def json(id: Long): String = (id % 5) match {
    case 0 | 3 =>
      s"""{"material_name":"mat-${draw(id, 1, 12)}","actual_quantity":${100 + draw(id, 2, 400)},"checked_by":"rev-${draw(id, 3, 16)}"}"""
    case 1 =>
      s"""{"step_no":${1 + draw(id, 4, 9)},"description":"step-${draw(id, 5, 6)}"}"""
    case 2 =>
      s"""{"time_point":"t${draw(id, 6, 8)}","temperature_c":${20 + draw(id, 7, 15)}}"""
    case _ =>
      if (id % 4 == 0)
        // ambiguous: matches material AND step required fields
        s"""{"material_name":"mat-${draw(id, 8, 12)}","step_no":${1 + draw(id, 9, 9)}}"""
      else if (id % 2 == 0)
        s"""{"vendor":"v-${draw(id, 10, 5)}","po_number":${1000 + draw(id, 11, 9000)}}"""
      else
        s"""{"material_name": truncated-not-json"""
  }

  /** Distributed table: (rec_id, payload), one row per id in [0, n). */
  def docs(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(n).map(id => (id, json(id))).toDF("rec_id", "payload")
  }
}
