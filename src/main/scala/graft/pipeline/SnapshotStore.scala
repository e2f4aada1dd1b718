package graft.pipeline

import graft.model.{LineageRow, Turn}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StructType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.charset.StandardCharsets
import scala.jdk.CollectionConverters._

/** Checkpoint/resume over deterministic conv_id buckets — the Iceberg
  * snapshot emulation (SURVEY.md §4.2; no Iceberg jar in this sandbox, so
  * snapshot semantics are Parquet partition dirs + an atomically-renamed
  * JSON manifest behind this class; a real Iceberg catalog slots in behind
  * the same interface).
  *
  * Idempotency model mirrors the reference's at-least-once + idempotent
  * re-ingest (`INSERT OR IGNORE` / MERGE, ref: agents/sql_agent/
  * json_to_db.py:38, agents/knowledge_graph_agent/utils.py:175): output is
  * written per `bucket = pmod(xxhash64(conv_id), nBuckets)` with dynamic
  * partition overwrite, so re-processing a bucket is a byte-identical
  * overwrite, and the manifest only registers a bucket after its data is
  * durably written (temp+rename = atomic on POSIX; SURVEY.md §7.5 risk 7).
  */
final class SnapshotStore(root: String, nBuckets: Int) {

  private val dataDir = s"$root/data"
  private val lineageDir = s"$root/lineage"
  private val manifestPath = Paths.get(s"$root/_manifest.json")

  private def manifestField(field: String): Set[Int] =
    if (!Files.exists(manifestPath)) Set.empty
    else {
      val s = new String(Files.readAllBytes(manifestPath), StandardCharsets.UTF_8)
      // manifest format: {"n_buckets":N,"completed":[i,...],"batches":[i,...]}
      val m = (""""""" + field + """"\s*:\s*\[([^\]]*)\]""").r
      m.findFirstMatchIn(s) match {
        case Some(g) if g.group(1).trim.nonEmpty =>
          g.group(1).split(',').map(_.trim.toInt).toSet
        case _ => Set.empty
      }
    }

  def completedBuckets(): Set[Int] = manifestField("completed")

  /** S11: the persisted StructType DDL of the written data (the
    * reference persists its generated schema, ref: agents/sql_agent/
    * schema_helper.py:59-66) — lets a reader reconstruct the table
    * schema without scanning parquet footers, and makes schema DRIFT
    * between runs observable (compare before overwrite).
    */
  def schemaDdl(): Option[String] =
    if (!Files.exists(manifestPath)) None
    else {
      val s = new String(Files.readAllBytes(manifestPath), StandardCharsets.UTF_8)
      """"schema_ddl"\s*:\s*"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(s)
        .map(g => SnapshotStore.jsonUnescape(g.group(1)))
        .filter(_.nonEmpty)
    }

  /** Lineage partition ids (one per completed batch) registered in the
    * manifest — a lineage partition NOT in this set is a stale partial
    * from a crashed run and is removed on the next `process`.
    *
    * Migration: a manifest written before the "batches" field existed
    * must register every on-disk lineage partition, NOT none — otherwise
    * resuming an old store would delete the lineage of already-completed
    * batches as "stale".
    */
  def completedBatchIds(): Set[Int] =
    if (!Files.exists(manifestPath)) Set.empty
    else {
      val s = new String(Files.readAllBytes(manifestPath), StandardCharsets.UTF_8)
      if (s.contains("\"batches\"")) manifestField("batches")
      else existingBatchIds()
    }

  /** Lineage batch_id=* partitions currently on disk. */
  private def existingBatchIds(): Set[Int] = {
    val dir = Paths.get(lineageDir)
    if (!Files.exists(dir)) Set.empty
    else {
      val stream = Files.list(dir)
      try stream.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toInt)
        .toSet
      finally stream.close()
    }
  }

  /** Immutable per-commit manifest copies (`_manifest.v<N>.json`, N
    * gapless from 1) — the Iceberg snapshot-log emulation behind the
    * time-travel readers below. `_manifest.json` stays the current
    * pointer and holds the last committed version; each commit ALSO
    * freezes its state under the next version number, so any historical
    * completed-bucket set can be re-read.
    */
  def snapshotVersions(): Seq[Int] = 1 to lastVersion()

  /** The version counter from the pointer manifest; 0 when there is no
    * manifest. A v-file past it is an orphan of a crash before the
    * pointer moved: it is never listed, and the next commit overwrites it.
    */
  private def lastVersion(): Int =
    if (!Files.exists(manifestPath)) 0
    else {
      val s = new String(Files.readAllBytes(manifestPath), StandardCharsets.UTF_8)
      """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(s).map(_.group(1).toInt).getOrElse(0)
    }

  /** The completed-bucket set frozen at snapshot `version`. */
  def completedBucketsAsOf(version: Int): Set[Int] = {
    val p = Paths.get(s"$root/_manifest.v$version.json")
    if (version < 1 || version > lastVersion() || !Files.exists(p)) return Set.empty
    val str = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val re = ("\"completed\":\\[([0-9,]*)\\]").r
    re.findFirstMatchIn(str)
      .map(_.group(1).split(",").filter(_.nonEmpty).map(_.toInt).toSet)
      .getOrElse(Set.empty)
  }

  /** Time-travel read: the extracted table AS OF snapshot `version` —
    * the data dir is partitioned by bucket and buckets are append-only
    * (a bucket's content never changes after it registers), so the
    * historical read is a PARTITION-PRUNED scan of the frozen bucket
    * set, never a copy.
    */
  def readExtractedAsOf(spark: SparkSession, version: Int): DataFrame = {
    val buckets = completedBucketsAsOf(version).toSeq.sorted
    readExtracted(spark)
      .filter(org.apache.spark.sql.functions.col("bucket")
        .isin(buckets.map(Integer.valueOf): _*))
  }

  private def writeManifest(
      completed: Set[Int], batchIds: Set[Int], inputSnapshot: String, ddl: String): Unit = {
    Files.createDirectories(Paths.get(root))
    import SnapshotStore.jsonString
    val version = lastVersion() + 1
    val json =
      s"""{"version":$version,"input_snapshot":${jsonString(inputSnapshot)},"n_buckets":$nBuckets,"schema_ddl":${jsonString(ddl)},"completed":[${completed.toSeq.sorted.mkString(",")}],"batches":[${batchIds.toSeq.sorted.mkString(",")}]}"""
    // the frozen snapshot copy gets the SAME temp+atomic-rename
    // discipline as the current pointer: a crash can never leave a
    // truncated version file, and a complete v-file from a crash before
    // the pointer move is re-allocated (overwritten) by the re-run commit
    val vTmp = Paths.get(s"$root/_manifest.v$version.json.tmp")
    Files.write(vTmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(vTmp, Paths.get(s"$root/_manifest.v$version.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val tmp = Paths.get(s"$root/_manifest.json.tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Delete lineage partitions whose batch never registered in the
    * manifest: a crash between the lineage write and the manifest update
    * leaves a partial `batch_id=X` dir, and a resume with a DIFFERENT
    * `bucketsPerBatch` may regroup the pending buckets so no new batch
    * overwrites X — the stale partial would then double-count its
    * buckets' lineage.
    */
  private def dropStaleLineage(registered: Set[Int]): Unit = {
    val stale = existingBatchIds() -- registered
    stale.foreach { id =>
      val p = Paths.get(s"$lineageDir/batch_id=$id")
      val files = Files.walk(p)
      try files.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .iterator().asScala.foreach(Files.delete)
      finally files.close()
    }
  }

  /** Process all pending buckets in batches of `bucketsPerBatch`; each batch
    * is extraction + durable write + manifest update. `failAfterBatches`
    * simulates a mid-job kill (for the resume test). Returns the number of
    * batches executed in THIS call.
    */
  def process(
      spark: SparkSession,
      turns: Dataset[Turn],
      inputSnapshot: String,
      bucketsPerBatch: Int = 4,
      failAfterBatches: Option[Int] = None
  ): Int = {
    import spark.implicits._
    var completed = completedBuckets()
    var batchIds = completedBatchIds()
    dropStaleLineage(batchIds)
    val pending = (0 until nBuckets).filterNot(completed.contains)
    var batches = 0
    pending.grouped(bucketsPerBatch).foreach { batch =>
      failAfterBatches.foreach { k =>
        if (batches >= k) throw new RuntimeException(s"simulated kill after $k batches")
      }
      val slice = turns
        .withColumn("bucket", pmod(xxhash64($"conv_id"), lit(nBuckets.toLong)).cast("int"))
        .filter($"bucket".isin(batch: _*))
        .drop("bucket")
        .as[Turn]
      val (extracted, lineage) =
        Pipeline.runWithLineage(spark, slice, inputSnapshot)
      val withBucket = extracted
        .withColumn("bucket", pmod(xxhash64($"conv_id"), lit(nBuckets.toLong)).cast("int"))
      // dynamic overwrite per write, never on the shared session: only
      // this batch's bucket partitions are replaced
      withBucket
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(dataDir)
      // the schema AS STORED, derived from the plan: a parquet read-back
      // would cost a directory listing and a footer job per batch
      val ddl = SnapshotStore.asStored(withBucket.schema).toDDL
      val rows = lineage()
      if (rows.nonEmpty) writeLineage(batch.min, rows)
      completed = completed ++ batch
      batchIds = batchIds + batch.min
      writeManifest(completed, batchIds, inputSnapshot, ddl)
      batches += 1
    }
    batches
  }

  /** The batch's lineage rows, already on the driver, as one JSON-lines
    * file `batch_id=<id>/part-00000.json`, written without a Spark job. A
    * crash between this write and the manifest update re-runs the batch,
    * which REPLACES the file instead of appending a duplicate. The temp
    * name starts with `.`, so Spark's file listing never reads a temp
    * file a crash left behind.
    */
  private def writeLineage(batchId: Int, rows: Seq[LineageRow]): Unit = {
    import SnapshotStore.jsonString
    val dir = Files.createDirectories(Paths.get(s"$lineageDir/batch_id=$batchId"))
    val lines = rows.map(r =>
      s"""{"partition_id":${r.partition_id},"input_snapshot":${jsonString(r.input_snapshot)},"turn_count":${r.turn_count},"failure_count":${r.failure_count},"bytes_processed":${r.bytes_processed}}""")
    val tmp = dir.resolve(".part-00000.json.tmp")
    Files.write(tmp, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve("part-00000.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def readExtracted(spark: SparkSession): DataFrame = spark.read.parquet(dataDir)
  def readLineage(spark: SparkSession): DataFrame =
    spark.read.schema(SnapshotStore.LineageSchema).json(lineageDir)
}

object SnapshotStore {

  /** `t` as Spark's parquet writer stores it: every field, array element
    * and map value nullable, at every depth. */
  private def asStored(t: StructType): StructType = {
    def nullable(d: DataType): DataType = d match {
      case s: StructType => asStored(s)
      case a: ArrayType  => ArrayType(nullable(a.elementType), containsNull = true)
      case m: MapType    => MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
      case other         => other
    }
    StructType(t.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
  }

  /** The lineage table's columns: the `LineageRow` fields, then the
    * `batch_id` partition column. */
  private val LineageSchema: StructType =
    asStored(Encoders.product[LineageRow].schema.add("batch_id", IntegerType))

  /** `s` as a quoted JSON string: `"`, `\` and control characters escaped. */
  private def jsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'          => b ++= "\\\""
      case '\\'         => b ++= "\\\\"
      case c if c < ' ' => b ++= "\\u%04x".format(c.toInt)
      case c            => b += c
    }
    (b += '"').toString
  }

  /** Inverse of [[jsonString]] on the text between the quotes. */
  private def jsonUnescape(s: String): String =
    """\\(?:u([0-9a-fA-F]{4})|(.))""".r.replaceAllIn(s, m =>
      scala.util.matching.Regex.quoteReplacement(
        Option(m.group(1)).fold(m.group(2))(h => Integer.parseInt(h, 16).toChar.toString)))
}
