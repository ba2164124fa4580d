package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** One operation's outcome. `buildS` is the time inside the operation's
  * own function, `planS` the time to plan the forcing action and
  * `execS` the time of that action; `ok` is the output check. */
final case class OpResult(buildS: Double, planS: Double, execS: Double,
    ok: Boolean, forceKind: String, output: String)

/** A fixed list of operations, run one at a time by the closed-loop
  * runner. */
trait Workload {
  def name: String
  /** Operations of one pass, in canonical order (may repeat). */
  def passOps: Seq[String]
  /** The order one pass issues its operations in. Query workloads
    * shuffle it with the seed, so that an ambient burst spreads over
    * many operations instead of hitting repetitions of one. */
  def passOrder(rnd: Random): Seq[String] = rnd.shuffle(passOps)
  /** Typical time of one warm pass on 4 cores; a run measures
    * ceil(seconds / nominalPassS) whole passes, a count that does not
    * depend on how fast this particular run is. */
  def nominalPassS: Double
  /** Makes this workload's inputs on a fresh session; timed as set-up. */
  def prepare(spark: SparkSession): Unit
  def run(spark: SparkSession, op: String): OpResult
  /** Extra report fields (JSON values) after the run. */
  def report: Seq[(String, String)] = Nil
}

/** A workload of registered queries at one input directory. The output
  * check compares each query's row count and checksum with the
  * reference recorded from a known-good build (`reference.tsv`); an
  * operation with no reference fails unless the run is recording. */
final class QueryWorkload(val name: String, val passOps: Seq[String], val nominalPassS: Double,
    dataDir: String, reference: Map[String, String], recording: Boolean) extends Workload {

  private val fns = passOps.map(q => q -> graft.SparkEntry.queries(q)).toMap
  val recorded = scala.collection.mutable.LinkedHashMap[String, Set[String]]()

  def prepare(spark: SparkSession): Unit =
    graft.Tables.names.foreach(t => graft.Tables.load(spark, dataDir, t).count())

  def run(spark: SparkSession, op: String): OpResult = {
    val t0 = System.nanoTime()
    val df = fns(op)(spark, dataDir)
    val t1 = System.nanoTime()
    val exec = Session.prepare(df)
    val t2 = System.nanoTime()
    val out = exec()
    val t3 = System.nanoTime()
    spark.catalog.clearCache()
    val shown = out.show
    if (recording) recorded(op) = recorded.getOrElse(op, Set.empty) + shown
    OpResult((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
      recording || reference.get(op).contains(shown), out.kind, shown)
  }
}

object Workloads {
  /** Classifier, funnel, BPE and dedup queries: `graft.plans` kernels,
    * DedupEnrich, QualityModel's Adagrad job cadence and shuffle. */
  val TextCuration: Seq[String] = Seq(
    "pl16_curation_funnel", "pl21_classifier_gate", "pl23_gated_funnel",
    "pl18_bpe_merges", "d3_minhash_lsh", "d4_simhash", "d14_substring_rewrite",
    "pl6_repetition_stats")

  /** The typed MediaPipeline passes, touched by no other workload. */
  val MediaCuration: Seq[String] = Seq(
    "m1_media_manifest", "m2_media_features", "m3_phash_neardup", "m4_frame_sample",
    "m5_frame_neardup", "m6_media_decontam", "m7_frame_decontam",
    "m8_media_dedup_groups", "m9_media_funnel")

  /** Short queries, two from each group other than the text (Dedup,
    * Pipeline) and media families, plus the streaming-backed st1, st2,
    * t5 and s11; mostly the cheapest of each group, so that fixed cost
    * (planning, job cadence) is what this workload measures. */
  val QueryMix: Seq[String] = Seq(
    "s6_filter_topk", "r7_rrf_fusion", // Relational
    "t7_chunk_documents", "t2_quality_score", // TextAnalysis
    "v6_random_projection", "e3_token_efficiency", // Similarity
    "r1_exact_lane", "r2_bm25", // Retrieval
    "g2_causality_trace", "g3_connected_components", // GraphOps
    "l10_ttl_sweep", "l5_trajectory_audit", // Lifecycle
    "x5_date_absolutize", "a10_ebbinghaus", // Scoring
    "t1_asof_pointintime", "t6_reflection_cadence", // Temporal
    "st1_hourly_counts", "st2_sliding_rates", "t5_sync_loop", // EventWindows
    "f3_trust_rerank", "x16_deal_reputation", // Trust
    "s11_watermark_upsert", "f1_filter_matrix") // Governance

  /** Query workloads: operations and nominal pass time (s). */
  val QueryLists: Map[String, (Seq[String], Double)] = Map(
    "text_curation" -> (TextCuration, 27.0),
    "media_curation" -> (MediaCuration, 12.0),
    "query_mix" -> (QueryMix, 10.0))

  val Names: Seq[String] = Seq("text_curation", "media_curation", "query_mix", "agent_memory")

  def readReference(file: Path): Map[String, String] =
    if (!Files.exists(file)) Map.empty
    else Files.readAllLines(file).asScala.filter(_.nonEmpty).map { l =>
      val Array(op, rest) = l.split("\t", 2)
      op -> rest
    }.toMap
}
