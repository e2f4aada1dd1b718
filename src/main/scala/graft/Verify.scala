package graft
import org.apache.spark.SparkConf
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, posexplode, xxhash64}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Queries whose input is the deterministic synthetic corpus (extraction,
  * shredding, registry, rules) have no sf-dir table DuckDB could read, so
  * this main ALSO materializes those inputs — the golden turn table (raw
  * payload + by-construction expected extraction) and the nested
  * structured records — to `<outDir>/_synth/`, and rewrites the
  * `__SYNTH__` placeholder in `SparkEntry.oracleSql` to that absolute
  * path before dumping oracle_sql.json. The expectations come from the
  * generator (Synth embeds the expected main content when it builds each
  * payload), NOT from running the extractor, so the DuckDB compare is an
  * independent check of the Spark pipeline output.
  */
object Verify {

  /** Every table an oracle reads as `__SYNTH__/<name>.parquet`, in write
    * order. The synthetic inputs come first; the last six are sf-dir
    * intermediates (minhash pairs, band keys, simhash values, ordered
    * winnow grams, IVF centroids) whose inner hash or training has no
    * DuckDB equivalent, so their oracles verify the DOWNSTREAM algorithm
    * over these materialized values; the hash production itself is
    * covered by local-truth ScalaTests (OpsSpec/TextAlgosSpec/FunctionsSpec).
    */
  val synthTables: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "golden_turns" -> ((s, _) => synth.SynthDataset.golden(s, SparkEntry.VerifyConvs).toDF()),
    "records" -> ((s, _) => ops.ShredOps.structuredRecords(s, SparkEntry.VerifyRecords).toDF()),
    "web_docs" -> ((s, _) => synth.WebDocs.docs(s, SparkEntry.VerifyWebDocs)),
    // the generator's by-construction span layout, exploded
    "golden_spans" -> ((s, _) =>
      synth.SynthDataset.golden(s, SparkEntry.VerifyConvs).toDF()
        .select(col("conv_id"), col("turn_idx"), posexplode(col("expected_spans")))
        .select(col("conv_id"), col("turn_idx"),
          col("pos").cast("int").as("span_idx"),
          col("col").getField("kind").as("span_kind"),
          col("col").getField("start").as("span_start"),
          col("col").getField("end").as("span_end"))),
    "retry_turns" -> ((s, _) => synth.RetryCorpus.turns(s, SparkEntry.VerifyRetryConvs).toDF()),
    "domain_docs" -> ((s, _) => synth.DomainDocs.docs(s, SparkEntry.VerifyDomainDocs)),
    "golden_cells" -> ((s, _) => synth.TableDocs.goldenCells(s, SparkEntry.VerifyTableDocs)),
    "golden_links" -> ((s, _) => synth.TableDocs.goldenLinks(s, SparkEntry.VerifyTableDocs)),
    "golden_sections" -> ((s, _) => synth.OutlineDocs.goldenSections(s, SparkEntry.VerifyOutlineDocs)),
    "md_golden_cells" -> ((s, _) => synth.MdTableDocs.goldenCells(s, SparkEntry.VerifyMdTableDocs)),
    "golden_md_links" -> ((s, _) => synth.OutlineDocs.goldenMdLinks(s, SparkEntry.VerifyOutlineDocs)),
    "golden_section_bodies" -> ((s, _) => synth.OutlineDocs.goldenBodies(s, SparkEntry.VerifyOutlineDocs)),
    "golden_grid_cells" -> ((s, _) => synth.PdfGridDocs.goldenCells(s, SparkEntry.VerifyPdfGridDocs)),
    "golden_jitter_cells" -> ((s, _) => synth.PdfGridDocs.goldenJitterCells(s, SparkEntry.VerifyPdfGridDocs)),
    "noisy_docs" -> ((s, _) => synth.NoisyDocs.docs(s, SparkEntry.VerifyNoisyDocs)),
    "nfc_docs" -> ((s, _) => synth.NfcDocs.docs(s, SparkEntry.VerifyNfcDocs)),
    "hyphen_docs" -> ((s, _) => synth.HyphenDocs.docs(s, SparkEntry.VerifyNfcDocs)),
    "norm_pair_docs" -> ((s, _) => synth.NormPairDocs.docs(s, SparkEntry.VerifyNfcDocs)),
    "pdf_golden" -> ((s, _) => synth.PdfDocs.golden(s, SparkEntry.VerifyPdfDocs)),
    "pdf_golden_runs" -> ((s, _) => synth.PdfDocs.goldenRuns(s, SparkEntry.VerifyPdfDocs)),
    // the store's conv->bucket assignment: xxhash64 has no DuckDB
    // equivalent, so the map materializes and the oracle verifies the
    // DOWNSTREAM snapshot algebra (the q18/q22/q36 pattern)
    "conv_buckets" -> ((s, _) =>
      synth.SynthDataset.turns(s, SparkEntry.VerifyConvs)
        .select(col("conv_id")).distinct()
        .select(col("conv_id"),
          pmod(xxhash64(col("conv_id")), lit(SparkEntry.TtBuckets.toLong)).cast("int").as("bucket"))),
    "json_records" -> ((s, _) => synth.JsonRecords.docs(s, SparkEntry.VerifyJsonRecords)),
    "minhash_pairs" -> ((s, d) => ops.DedupOps.minhashPairs(s, d)),
    // per-doc MinHash band keys: the q23 oracle must apply the SAME
    // band-agreement predicate as the engine's candidate generation —
    // an exact all-(lang,bucket)-pairs oracle would list pairs the
    // (one-sided-probabilistic) prefilter is allowed to miss
    "bands" -> ((s, d) => {
      import s.implicits._
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, t) =>
          val sh = text.TextAlgos.shingleHashes(
            text.TextAlgos.tokenize(t), ops.DedupOps.ShingleW)
          if (sh.isEmpty) Iterator.empty
          else text.TextAlgos.bandKeys(
            text.TextAlgos.minhash(sh, ops.DedupOps.MinhashK), ops.DedupOps.LshBands)
            .iterator.map(bk => (id, bk))
        }
        .toDF("doc_id", "band_key")
    }),
    "simhash" -> ((s, d) => ops.TextOps.simhashDf(s, d)),
    "grams" -> ((s, d) => {
      import s.implicits._
      s.read.parquet(s"$d/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, t) =>
          (id, text.TextAlgos.shingleHashesOrdered(
            text.TextAlgos.tokenize(t), ops.TextOps.WinnowK))
        }
        .toDF("doc_id", "grams")
    }),
    // IVF coarse centroids for the q54 oracle: exact fixed-point Lloyd
    // training is bit-deterministic at any parallelism, so this
    // materialization equals the centroids q54 recomputes in-query;
    // DuckDB independently recomputes assignment + probe + search.
    "centroids" -> ((s, d) => ops.SimilarityOps.ivfCentroids(s, d)),
    // frozen BASE-subset centroids for the q187 append-path oracle
    "centroids_base" -> ((s, d) =>
      ops.SimilarityOps.ivfCentroidsOf(
        s.read.parquet(s"$d/embeddings.parquet")
          .select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") < ops.SimilarityOps.IvfAppendBase)))
  )

  /** The specs whose oracle reads `__SYNTH__/<table>.parquet`. */
  private def readers(table: String): Seq[String] = SparkEntry.specs.collect {
    case QuerySpec(name, _, QuerySpec.Oracle(sql)) if sql.contains(s"__SYNTH__/$table.parquet") => name
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local
    // iteration only — the driver always runs the full surface)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    val unknown = only.getOrElse(Set.empty).filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[verify] unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val spark = Session.start(new SparkConf(), "graft-verify",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    val synthDir = Paths.get(outDir).toAbsolutePath.normalize.toString + "/_synth"
    // One try per synth table so a single failed write is attributed to
    // the queries it feeds, instead of surfacing later as an opaque
    // missing-file error in the DuckDB compare.
    synthTables.foreach { case (name, build) =>
      try build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$synthDir/$name.parquet")
      catch { case e: Throwable =>
        System.err.println(
          s"[verify] synth $name failed (affects ${readers(name).mkString(", ")}): ${e.getMessage}")
      }
    }
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__SYNTH__", synthDir))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
