package graft.pipeline

import graft.extract.Extract
import graft.model.{ExtractedTurn, LineageRow, Turn}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator

/** The extraction pipeline (SURVEY.md §7.1):
  *
  * turns → salted repartition (skew-aware) → sortWithinPartitions
  * (conv_id, turn_idx) → ONE fused `mapPartitions(Extract.turn)` stage →
  * Dataset[ExtractedTurn].
  *
  * Salting: every conversation is cut into chunks of T consecutive turn
  * indices, `salt = turn_idx div T`, and the repartition keys on
  * (conv_id, salt). A conversation of fewer than T turns (numbered from 0)
  * is one key and stays co-located; a long one (the Zipf tail) spreads
  * over ceil(n/T) keys of at most T turns each, so no hot key grows with
  * the conversation. The salt reads only the row itself: no count, no
  * broadcast, no join, one shuffle. Extraction is per-turn pure, so
  * splitting a conversation across a salt boundary is safe; all
  * *ordering-sensitive* derivation happens inside a single turn
  * (SURVEY.md §7.5 risk 3). AQE skew handling covers joins but NOT
  * mapPartitions skew — hence manual salting (SURVEY.md §4.2).
  *
  * Per-partition lineage (north rule): one LineageRow per input partition
  * (partition id, input snapshot, turn count, extraction-failure count,
  * bytes processed) collected via an accumulator during the output action.
  */
object Pipeline {

  val DefaultSaltBuckets = 16
  val DefaultLongConvThreshold = 256L

  /** The salt [[salted]] keys on and [[skewReport]] counts: the index of
    * a turn's T-turn chunk within its conversation. */
  private def chunkSalt(longConvThreshold: Long) = expr(s"turn_idx div $longConvThreshold")

  /** Chunk salt + repartition + stable in-partition order. */
  def salted(
      spark: SparkSession,
      turns: Dataset[Turn],
      longConvThreshold: Long = DefaultLongConvThreshold,
      numPartitions: Option[Int] = None
  ): Dataset[Turn] = {
    import spark.implicits._
    val chunked = turns.withColumn("salt", chunkSalt(longConvThreshold))
    val repart = numPartitions match {
      case Some(n) => chunked.repartition(n, $"conv_id", $"salt")
      case None    => chunked.repartition($"conv_id", $"salt")
    }
    repart.sortWithinPartitions($"conv_id", $"turn_idx").drop("salt").as[Turn]
  }

  /** Skew report: the conversation-length histogram [[salted]] acts on,
    * as a driver query — per conversation its turn count, byte weight,
    * whether it crosses the long-conversation threshold, and the number
    * of salt keys the salted repartition actually spreads it over
    * (`|{turn_idx div T}|`, 1 for a conversation of fewer than T turns
    * numbered from 0). The top-k by turn count IS the skew: on a
    * Zipf-shaped corpus these are the keys that would pin single tasks
    * without salting.
    *
    * Scale shape: one map-side-combining agg on conv_id (count/sum plus a
    * partial-distinct for the salt cardinality — ceil(n/T) values per
    * key); the top-k compiles to a TakeOrderedAndProject
    * (plan-asserted), so no global sort materializes.
    */
  def skewReport(
      turns: Dataset[Turn],
      longConvThreshold: Long = DefaultLongConvThreshold,
      topK: Int = 50): org.apache.spark.sql.DataFrame =
    turns.toDF()
      .groupBy(col("conv_id"))
      .agg(
        count(lit(1)).as("n_turns"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        countDistinct(chunkSalt(longConvThreshold)).as("n_salt_buckets"))
      .withColumn("is_long", (col("n_turns") >= longConvThreshold).cast("int"))
      .orderBy(col("n_turns").desc, col("conv_id").asc)
      .limit(topK)
      .select(col("conv_id"), col("n_turns"), col("n_chars"),
        col("is_long"), col("n_salt_buckets"))

  /** q183: skew-salted shuffle JOIN — the manual-salting technique on
    * the join itself (the [[salted]] repartition covers the extraction
    * stage; this is the big-x-big join case): the turn table joins a
    * per-conversation dimension that at 10^12-turn scale is NOT
    * broadcastable, so without salting every turn of a Zipf-hot
    * conversation lands on ONE reduce task. The dimension replicates
    * once per salt value (dim x S stays dim-scale) and the join keys on
    * (conv_id, salt) = pmod(turn_idx, S), spreading each hot key over S
    * tasks. `hint("merge")` pins the shuffle join so the tiny verify dim
    * cannot broadcast and mask the demonstrated shape; the salt in the
    * join key is plan-asserted, and the result provably equals the
    * unsalted join (oracle = the plain join).
    */
  def saltedDimJoin(
      turns: Dataset[Turn],
      saltBuckets: Int = DefaultSaltBuckets): org.apache.spark.sql.DataFrame = {
    val dim = turns.toDF().select(col("conv_id")).distinct()
      .withColumn("conv_bucket",
        conv(substring(sha2(col("conv_id"), 256), 1, 2), 16, 10).cast("long") % 10)
    val dimSalted = dim.withColumn("salt",
      explode(typedLit((0 until saltBuckets).toList)))
    turns.toDF()
      .withColumn("salt", pmod(col("turn_idx"), lit(saltBuckets)))
      .join(dimSalted.hint("merge"), Seq("conv_id", "salt"))
      .groupBy(col("conv_id"), col("conv_bucket"))
      .agg(count(lit(1)).as("n_turns"))
  }

  /** Fused single-stage extraction over an already-partitioned input. */
  def extractStage(spark: SparkSession, turns: Dataset[Turn]): Dataset[ExtractedTurn] = {
    import spark.implicits._
    turns.mapPartitions(_.map(Extract.turn))
  }

  /** P3/F3: re-extract only a turn subset described by a "1-3,5"-style
    * range string (the reference's page-subset re-processing,
    * ref: app.py:98-109) — the parsed range set is tiny and broadcast
    * into the filter, so the scan prunes before the salt shuffle.
    */
  def turnSubset(turns: Dataset[Turn], ranges: String): Dataset[Turn] = {
    // same grammar/semantics as RelationalOps.parsePageRanges: empty
    // tokens ("1,,3") are skipped, reversed tokens ("5-3") select nothing,
    // and NON-NUMERIC tokens ("a-b") select nothing — parsePageRanges'
    // cast-to-null does the same, and the extraction path's convention is
    // swallow-and-continue, never throw (ref app.py:98-109 is unguarded;
    // this is the one place we deviate, deliberately)
    val wanted = ranges.split(',').map(_.trim).filter(_.nonEmpty).flatMap { tok =>
      val parts = tok.split('-')
      (parts.head.trim.toIntOption, parts.last.trim.toIntOption) match {
        case (Some(lo), Some(hi)) => lo to hi
        case _                    => Nil
      }
    }.toSet
    val spark = turns.sparkSession
    import spark.implicits._
    turns.filter($"turn_idx".isin(wanted.toSeq: _*))
  }

  /** T6 completion — snapshot diff: the (conv_id, turn_idx) keys of
    * `next` whose content is NEW or CHANGED relative to `prev` (the
    * last-snapshot-wins re-ingest set). Content identity is the sha256 of
    * the JSON-serialized payload fields (to_json omits null fields, so a
    * null-vs-value move between columns never collides the way a
    * separator concat would).
    *
    * Scale shape: both sides reduce to (conv_id, turn_idx, 32-byte sha)
    * BEFORE the anti join — the join shuffles keys+hashes only, never
    * turn text; unchanged buckets' payloads are read once (for hashing)
    * and dropped at the scan-adjacent projection. At Iceberg scale the
    * prev side's hashes would come from a persisted column, making the
    * diff a pure metadata-scale join.
    */
  def changedTurnKeys(prev: Dataset[Turn], next: Dataset[Turn]): org.apache.spark.sql.DataFrame =
    contentKeyed(next, "content_sha")
      .join(contentKeyed(prev, "content_sha"), Seq("conv_id", "turn_idx", "content_sha"), "left_anti")
      .select(col("conv_id"), col("turn_idx"))

  /** (conv_id, turn_idx, sha256 of the turn's JSON-serialized payload
    * fields as `shaCol`) — the content identity [[changedTurnKeys]] and
    * [[mergeUpsert]] compare. */
  private def contentKeyed(d: Dataset[Turn], shaCol: String): org.apache.spark.sql.DataFrame =
    d.toDF().select(
      col("conv_id"), col("turn_idx"),
      sha2(to_json(struct(col("role"), col("text"), col("tool"), col("ts"))), 256).as(shaCol))

  /** MERGE-INTO semantics over turn snapshots (the lakehouse upsert the
    * S1/S13 snapshot store implies but q71's diff only observes): apply
    * an explicit change-set — upsert rows matched on (conv_id, turn_idx)
    * plus a tombstone key-set — to a base snapshot and emit every
    * surviving key tagged with what happened to it: `insert` (no base
    * row), `update` (matched, content sha differs), `keep` (matched,
    * byte-identical — the idempotent-redelivery case), `carry` (base row
    * untouched by the change-set). Tombstones WIN over upserts (applied
    * last), the precedence Delta/Iceberg MERGE gives WHEN MATCHED DELETE.
    *
    * Scale shape: both inputs reduce to (conv_id, turn_idx, 32-byte sha)
    * before joining (the changedTurnKeys discipline — text never crosses
    * an exchange); the full-outer match and the tombstone anti-filter
    * are (conv_id, turn_idx)-keyed equi-joins sharing one partitioning.
    */
  def mergeUpsert(
      base: Dataset[Turn],
      upserts: Dataset[Turn],
      deleteKeys: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    contentKeyed(base, "base_sha")
      .join(contentKeyed(upserts, "upsert_sha"), Seq("conv_id", "turn_idx"), "full_outer")
      .join(deleteKeys.select(col("conv_id"), col("turn_idx")),
        Seq("conv_id", "turn_idx"), "left_anti")
      .select(col("conv_id"), col("turn_idx"),
        when(col("base_sha").isNull, lit("insert"))
          .when(col("upsert_sha").isNull, lit("carry"))
          .when(col("upsert_sha") =!= col("base_sha"), lit("update"))
          .otherwise(lit("keep")).as("action"))

  /** Incremental re-ingest between input snapshots: re-extract ONLY the
    * changed/new turns of `next`, reuse `prevExtracted` rows for
    * unchanged turns, drop rows whose key left the input (deletes). The
    * result is row-for-row equal to a full `run` over `next` — pinned by
    * PipelineSpec — at the cost of extracting just the delta.
    */
  def incrementalRun(
      spark: SparkSession,
      prevTurns: Dataset[Turn],
      prevExtracted: Dataset[ExtractedTurn],
      nextTurns: Dataset[Turn]
  ): Dataset[ExtractedTurn] = {
    import spark.implicits._
    val changed = changedTurnKeys(prevTurns, nextTurns)
    val fresh = run(spark,
      nextTurns.toDF().join(changed, Seq("conv_id", "turn_idx"), "left_semi").as[Turn])
    val nextKeys = nextTurns.toDF().select(col("conv_id"), col("turn_idx"))
    val kept = prevExtracted.toDF()
      .join(changed, Seq("conv_id", "turn_idx"), "left_anti") // changed: re-extracted below
      .join(nextKeys, Seq("conv_id", "turn_idx"), "left_semi") // deleted: gone from next
      .as[ExtractedTurn]
    kept.unionByName(fresh)
  }

  /** Full pipeline: salt → sort → extract. */
  def run(
      spark: SparkSession,
      turns: Dataset[Turn],
      longConvThreshold: Long = DefaultLongConvThreshold
  ): Dataset[ExtractedTurn] =
    extractStage(spark, salted(spark, turns, longConvThreshold))

  /** Pipeline with lineage side-output: [[run]] plus a per-partition tap
    * over its output. The returned thunk yields the LineageRows observed
    * by completed tasks — call it AFTER an action on the returned Dataset.
    * Each partition's row is emitted when its iterator is exhausted, so
    * EMPTY partitions get a zero-count row too ("one LineageRow per input
    * partition"). Accumulators are at-least-once under task retry;
    * `lineage()` dedups by partition id (last write wins), which is exact
    * because the metric values per partition are deterministic.
    */
  def runWithLineage(
      spark: SparkSession,
      turns: Dataset[Turn],
      inputSnapshot: String,
      longConvThreshold: Long = DefaultLongConvThreshold
  ): (Dataset[ExtractedTurn], () => Seq[LineageRow]) = {
    import spark.implicits._
    val acc: CollectionAccumulator[LineageRow] =
      spark.sparkContext.collectionAccumulator[LineageRow](s"lineage-$inputSnapshot")
    // the tap's MapPartitions sits directly on the extraction's, so
    // EliminateSerialization leaves no encoder round trip between them
    val out = run(spark, turns, longConvThreshold).mapPartitions { it =>
      var turnCount = 0L
      var failureCount = 0L
      var bytes = 0L
      it.map { e =>
        turnCount += 1
        if (e.failure.isDefined) failureCount += 1
        bytes += e.n_chars_in.toLong
        e
      } ++ {
        acc.add(LineageRow(TaskContext.getPartitionId(), inputSnapshot, turnCount, failureCount, bytes))
        Iterator.empty
      }
    }
    val lineage = () => {
      import scala.jdk.CollectionConverters._
      acc.value.asScala.toSeq
        .groupBy(_.partition_id).map(_._2.last).toSeq
        .sortBy(_.partition_id)
    }
    (out, lineage)
  }
}
