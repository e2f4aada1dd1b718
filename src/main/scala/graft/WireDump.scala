package graft

import org.apache.spark.SparkConf
import java.nio.file.{Files, Paths}

/** Wire-format dump main: writes the shredded relational family as a
  * SQLite-loadable SQL dump and the property graph as a Cypher dump
  * (see [[graft.ops.WireSinks]]), plus a `manifest.json` of expected
  * per-table row counts so an external loader can assert the load.
  *
  * Usage: runMain graft.WireDump <outDir> [nConvs]
  * Proof harness: tools/wire_load_check.py loads the SQL dump into a
  * REAL sqlite3, replays it (idempotency via the row_key primary key),
  * and compares counts against the manifest.
  */
object WireDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("/tmp/graft_wire")
    val nConvs = args.lift(1).map(_.toLong).getOrElse(SparkEntry.VerifyRecords)
    val spark = Session.start(new SparkConf(), "graft-wire-dump",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)

    // persist the shared inputs: the shred family feeds both the SQL
    // dump and the graph build, and the graph frames feed both the
    // Cypher dump and the manifest counts — without the persists every
    // count()/write re-runs the whole shred+dedup build
    val records = ops.ShredOps.structuredRecords(spark, nConvs).toDF()
    val tables = ops.ShredOps.shredAll(records).map { case (n, df) =>
      (n, df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    }
    ops.WireSinks.writeSqlDump(tables, s"$outDir/sql")
    val (vertices, edges, props) = ops.GraphOps.graphWithProps(records)
    // vertices is consumed by exactly one action (the count) — only the
    // twice-consumed edges (dump + count) and props earn a persist
    val Seq(eP, pP) = Seq(edges, props)
      .map(_.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    ops.WireSinks.writeCypherDump(eP, pP, s"$outDir/cypher")
    val counts =
      tables.map { case (name, df) => s""""$name": ${df.count()}""" } ++
        Seq(s""""_cypher_nodes": ${vertices.count()}""",
          s""""_cypher_edges": ${eP.count()}""")
    Files.writeString(
      Paths.get(outDir, "manifest.json"),
      counts.mkString("{", ", ", "}"))
    spark.stop()
  }
}
