package graft.pipeline

import graft.model.{LineageRow, Turn}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, MapType, StructType}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
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
  import SnapshotStore.{Json, Manifest, atomicWrite}

  private val dataDir = s"$root/data"
  private val lineageDir = s"$root/lineage"
  private val manifestPath = Paths.get(s"$root/_manifest.json")

  /** The bucket a turn's conversation belongs to. */
  private def bucket = pmod(xxhash64(col("conv_id")), lit(nBuckets.toLong)).cast("int")

  def completedBuckets(): Set[Int] = readManifest().fold(Set.empty[Int])(_.completed.toSet)

  /** S11: the persisted StructType DDL of the written data (the
    * reference persists its generated schema, ref: agents/sql_agent/
    * schema_helper.py:59-66) — lets a reader reconstruct the table
    * schema without scanning parquet footers, and makes schema DRIFT
    * between runs observable (compare before overwrite).
    */
  def schemaDdl(): Option[String] = readManifest().map(_.schema_ddl).filter(_.nonEmpty)

  /** Lineage partition ids (one per completed batch) registered in the
    * manifest — a lineage partition NOT in this set is a stale partial
    * from a crashed run and is removed on the next `process`.
    */
  def completedBatchIds(): Set[Int] = readManifest().fold(Set.empty[Int])(_.batches.toSet)

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
  private def lastVersion(): Int = readManifest().fold(0)(_.version)

  private def versionPath(version: Int) = Paths.get(s"$root/_manifest.v$version.json")

  /** The completed-bucket set frozen at snapshot `version`. */
  def completedBucketsAsOf(version: Int): Set[Int] =
    if (version < 1 || version > lastVersion()) Set.empty
    else readManifest(versionPath(version)).fold(Set.empty[Int])(_.completed.toSet)

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

  private def readManifest(path: Path = manifestPath): Option[Manifest] =
    if (!Files.exists(path)) None
    else Some(Json.readValue(path.toFile, classOf[Manifest]))

  /** Commit `m`: freeze it as `_manifest.v<version>.json`, then move the
    * pointer. The frozen copy gets the SAME temp+atomic-rename discipline
    * as the pointer: a crash can never leave a truncated version file,
    * and a complete v-file from a crash before the pointer move is
    * re-allocated (overwritten) by the re-run commit.
    */
  private def writeManifest(m: Manifest): Unit = {
    Files.createDirectories(Paths.get(root))
    val bytes = Json.writeValueAsBytes(m)
    atomicWrite(versionPath(m.version), bytes)
    atomicWrite(manifestPath, bytes)
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
    var manifest = readManifest().getOrElse(Manifest(0, inputSnapshot, nBuckets, "", Nil, Nil))
    // resuming under another modulus would count the wrong convs as done
    require(manifest.n_buckets == nBuckets,
      s"$root was written with ${manifest.n_buckets} buckets, not $nBuckets")
    dropStaleLineage(manifest.batches.toSet)
    val pending = (0 until nBuckets).filterNot(manifest.completed.contains)
    var batches = 0
    pending.grouped(bucketsPerBatch).foreach { batch =>
      failAfterBatches.foreach { k =>
        if (batches >= k) throw new RuntimeException(s"simulated kill after $k batches")
      }
      val slice = turns.filter(bucket.isin(batch: _*))
      val (extracted, lineage) =
        Pipeline.runWithLineage(spark, slice, inputSnapshot)
      val withBucket = extracted.withColumn("bucket", bucket)
      // dynamic overwrite per write, never on the shared session: only
      // this batch's bucket partitions are replaced
      withBucket
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("bucket")
        .parquet(dataDir)
      val rows = lineage()
      if (rows.nonEmpty) writeLineage(batch.min, rows)
      manifest = manifest.copy(
        version = manifest.version + 1,
        input_snapshot = inputSnapshot,
        // the schema AS STORED, derived from the plan: a parquet read-back
        // would cost a directory listing and a footer job per batch
        schema_ddl = SnapshotStore.asStored(withBucket.schema).toDDL,
        completed = (manifest.completed ++ batch).sorted,
        batches = (manifest.batches :+ batch.min).sorted)
      writeManifest(manifest)
      batches += 1
    }
    batches
  }

  /** The batch's lineage rows, already on the driver, as one JSON-lines
    * file `batch_id=<id>/part-00000.json`, written without a Spark job. A
    * crash between this write and the manifest update re-runs the batch,
    * which REPLACES the file instead of appending a duplicate.
    */
  private def writeLineage(batchId: Int, rows: Seq[LineageRow]): Unit = {
    val dir = Files.createDirectories(Paths.get(s"$lineageDir/batch_id=$batchId"))
    atomicWrite(dir.resolve("part-00000.json"),
      rows.map(r => Json.writeValueAsString(r) + "\n").mkString.getBytes(StandardCharsets.UTF_8))
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

  /** The manifest record; `_manifest.json` and every `_manifest.v<N>.json`
    * hold one as a JSON object. */
  private final case class Manifest(
      version: Int,
      input_snapshot: String,
      n_buckets: Int,
      schema_ddl: String,
      completed: Seq[Int],
      batches: Seq[Int])

  /** The one JSON reader and writer for manifests and lineage lines. */
  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Write `bytes` to `target` via a temp file renamed atomically over
    * it. The temp name starts with `.`, so Spark's file listing never
    * reads a temp file a crash left behind.
    */
  private def atomicWrite(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.resolveSibling(s".${target.getFileName}.tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }
}
