package graft.pipeline

import graft.model.Turn
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
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
        .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
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
    val ddlJson = ddl.replace("\\", "\\\\").replace("\"", "\\\"")
    val version = lastVersion() + 1
    val json =
      s"""{"version":$version,"input_snapshot":"$inputSnapshot","n_buckets":$nBuckets,"schema_ddl":"$ddlJson","completed":[${completed.toSeq.sorted.mkString(",")}],"batches":[${batchIds.toSeq.sorted.mkString(",")}]}"""
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
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
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
      withBucket
        .write.mode(SaveMode.Overwrite)
        .partitionBy("bucket")
        .parquet(dataDir)
      // persist the schema AS STORED (footer-only read): parquet read-back
      // normalizes nested nullability, so the written plan's schema would
      // not round-trip for a reader
      val ddl = spark.read.parquet(dataDir).schema.toDDL
      // lineage is keyed by batch and written with dynamic partition
      // overwrite (same idempotency model as the data): a crash between
      // this write and the manifest update re-runs the batch, which
      // REPLACES its lineage partition instead of appending a duplicate
      val rows = lineage()
      if (rows.nonEmpty)
        spark.createDataset(rows)
          .withColumn("batch_id", lit(batch.min))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("batch_id")
          .parquet(lineageDir)
      completed = completed ++ batch
      batchIds = batchIds + batch.min
      writeManifest(completed, batchIds, inputSnapshot, ddl)
      batches += 1
    }
    batches
  }

  def readExtracted(spark: SparkSession): DataFrame = spark.read.parquet(dataDir)
  def readLineage(spark: SparkSession): DataFrame = spark.read.parquet(lineageDir)
}
