package graft

import graft.ops.{GraphOps, ShredOps, WireSinks}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Local truths for the wire-format sinks: DDL shape, statement escaping,
  * read-back counts, and byte-determinism across partitionings (sinks
  * have no DuckDB oracle per the repo invariant — they get read-back
  * tests plus PlanShapeSpec narrowness asserts).
  */
class WireSinksSpec extends AnyFunSuite with SparkSessionFixture.TempDirs {
  private lazy val spark = SparkSessionFixture.spark
  import spark.implicits._

  private def readStmts(dir: String): Seq[String] =
    spark.read.text(dir).as[String].collect().toSeq

  test("createTableSql: SQLite affinity per field, deterministic order") {
    val df = Seq((1L, "x", 1.5, true)).toDF("id", "name", "score", "ok")
    assert(WireSinks.createTableSql("t", df.schema) ==
      "CREATE TABLE IF NOT EXISTS t (id INTEGER, name TEXT, score REAL, ok INTEGER);")
  }

  test("createTableSql: row_key becomes the PRIMARY KEY (replay idempotency anchor)") {
    val df = Seq(("k1", "x")).toDF("row_key", "name")
    assert(WireSinks.createTableSql("t", df.schema) ==
      "CREATE TABLE IF NOT EXISTS t (row_key TEXT, name TEXT, PRIMARY KEY (row_key));")
  }

  test("sql dump: one idempotent INSERT per row; quoting, NULL, doubles canonical") {
    val df = Seq(
      (1L, Some("it's"), Some(2.5), Some(true)),
      (2L, None: Option[String], None: Option[Double], None: Option[Boolean])
    ).toDF("id", "name", "score", "ok")
    val out = tempDir("graft-sqldump").toString
    WireSinks.writeSqlDump(Seq(("t", df)), out)
    val ddl = java.nio.file.Files.readString(java.nio.file.Paths.get(out, "t", "ddl.sql")).trim
    assert(ddl.startsWith("CREATE TABLE IF NOT EXISTS t ("))
    val stmts = readStmts(s"$out/t/rows").sorted
    assert(stmts.size == 2)
    assert(stmts(0) ==
      "INSERT OR IGNORE INTO t (id, name, score, ok) VALUES (1, 'it''s', 2.5, 1);")
    assert(stmts(1) ==
      "INSERT OR IGNORE INTO t (id, name, score, ok) VALUES (2, NULL, NULL, NULL);")
  }

  test("sql dump of the full shred family: counts match, bytes partition-invariant") {
    val recs = ShredOps.structuredRecords(spark, 30).toDF()
    val tables = ShredOps.shredAll(recs)
    val out = tempDir("graft-sqldump2").toString
    WireSinks.writeSqlDump(tables, out)
    tables.foreach { case (name, df) =>
      val stmts = readStmts(s"$out/$name/rows")
      assert(stmts.size == df.count(), s"table $name")
      assert(stmts.forall(_.startsWith(s"INSERT OR IGNORE INTO $name (")), name)
    }
    // partition-invariance: same statement SET from a repartitioned input
    val mat = tables.collect { case ("main_table_material_usage_rows", df) => df }.head
    val a = WireSinks.insertStatements("m", mat).as[String].collect().sorted.toSeq
    val b = WireSinks.insertStatements("m", mat.repartition(7)).as[String].collect().sorted.toSeq
    assert(a == b, "statement bytes must not depend on partitioning")
  }

  test("cypher dump: node MERGEs keyed on signature, edge MERGEs match endpoints") {
    val recs = ShredOps.structuredRecords(spark, 20).toDF()
    val (vertices, edges, props) = GraphOps.graphWithProps(recs)
    val out = tempDir("graft-cypher").toString
    WireSinks.writeCypherDump(recs, out)
    val nodes = readStmts(s"$out/nodes")
    val es = readStmts(s"$out/edges")
    assert(nodes.size == vertices.count())
    assert(es.size == edges.count())
    assert(nodes.forall(s => s.startsWith("MERGE (n:") &&
      s.contains("{signature: '") && s.contains("ON CREATE SET ")))
    assert(es.forall(s => s.startsWith("MATCH (a {signature: '") &&
      s.contains("MERGE (a)-[:HAS]->(b);")))
    // a material node statement carries its scalar props in sorted-key order
    val mat = nodes.filter(_.startsWith("MERGE (n:main_table_material_usage_rows"))
    assert(mat.nonEmpty)
    val keys = "n\\.(\\w+) = ".r.findAllMatchIn(mat.head).map(_.group(1)).toSeq
    assert(keys == keys.sorted, s"prop keys must be sorted: $keys")
    assert(keys.contains("actual_quantity") && keys.contains("material_name"))
  }

  test("cypher literal escaping: quotes and backslashes survive") {
    val df = Seq(("sig1", "L", Map("k" -> raw"a'b\c"))).toDF("signature", "label", "props")
    val got = WireSinks.cypherNodeStatements(df).as[String].head()
    assert(got.contains(raw"n.k = 'a\'b\\c'"), got)
  }

  test("embedded newlines keep statements one physical line in both dialects") {
    val sqlDf = Seq((1L, "line1\nline2\rtail")).toDF("id", "name")
    val stmt = WireSinks.insertStatements("t", sqlDf).as[String].head()
    assert(!stmt.contains("\n") && !stmt.contains("\r"), stmt)
    assert(stmt.contains("'line1' || char(10) || 'line2' || char(13) || 'tail'"), stmt)
    val cyDf = Seq(("s1", "L", Map("k" -> "a\nb"))).toDF("signature", "label", "props")
    val cy = WireSinks.cypherNodeStatements(cyDf).as[String].head()
    assert(!cy.contains("\n"), cy)
    assert(cy.contains(raw"n.k = 'a\nb'"), cy)
  }
}
