package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.{Mnemo, QualityModel}
import graft.functions.{BpeOps, DedupEnrich, GopherRules, MinHash, TextOps}
import graft.multimodal.MediaPipeline

/** Layer probes, timed from outside through the public functions of
  * `graft.*`. The phase table splits pl16, pl21, pl23, pl18, m5 and m9
  * into named phases; a traced run reports the phases that carry a
  * per-layer metric name, the kernel throughputs and the store/index
  * probe. */
object Layers {

  /** One timed phase. `metric` names the per-layer metric it feeds. */
  final case class Phase(table: String, label: String, metric: Option[String], run: () => Unit)

  private def forced(df: => DataFrame): () => Unit = () => { Session.force(df); () }

  private def full(spark: SparkSession, dir: String, q: String): Seq[Phase] = {
    val fn = graft.SparkEntry.queries(q)
    Seq(
      Phase(q, s"$q full (checksum)", None, forced(fn(spark, dir))),
      Phase(q, s"$q build + planning only", None,
        () => { Session.prepare(fn(spark, dir)); () }))
  }

  /** Phases in dependency order: the QualityModel store is fitted
    * before it is scored. */
  def phases(spark: SparkSession, dir: String, workDir: String): Seq[Phase] = {
    val model = s"$workDir/quality-model"
    def docs = graft.Tables.documents(spark, dir)
    def media = MediaPipeline.syntheticMedia(spark, dir)
    lazy val banded = {
      val b = DedupEnrich.withBandKeys(DedupEnrich.withFpAndShingles(docs, "text"), "sh").cache()
      b.count()
      b
    }
    var vocab: Seq[(String, Long)] = Nil
    full(spark, dir, "pl16_curation_funnel") ++ Seq(
      Phase("pl16_curation_funnel", "kernels: fp + shingles + band keys (cache)", None,
        () => { banded; () }),
      Phase("pl16_curation_funnel", "guard: candidate pairs + verify + components", None, () => {
        val keys = banded.select(col("doc_id").as("id"), explode(col("bands")).as("key"))
        val (sat, pairs) = DedupEnrich.guardedCandidatePairs(keys, 3L)
        val ver = pairs
          .join(banded.select(col("doc_id").as("a"), col("sh").as("sha")), Seq("a"))
          .join(banded.select(col("doc_id").as("b"), col("sh").as("shb")), Seq("b"))
          .filter(TextOps.jaccard(col("sha"), col("shb")) >= 0.3).select("a", "b")
        val comp = DedupEnrich.minLabelComponents(ver, graft.queries.IterSizing.iterParts(spark))
        sat.unionAll(comp.select(col("node").as("id"))).count()
        ()
      })) ++
      full(spark, dir, "pl21_classifier_gate") ++ Seq(
        Phase("pl21_classifier_gate", "QualityModel.fit: staging + Adagrad epochs + commit",
          Some("api.quality.fit_s"), () => { QualityModel.fit(spark, dir, model); () }),
        Phase("pl21_classifier_gate", "QualityModel.score (checksum)", Some("api.quality.score_s"),
          forced(QualityModel.score(spark, dir, model))),
        Phase("pl21_classifier_gate", "QualityModel.gateReport (checksum)", None,
          forced(QualityModel.gateReport(spark, dir, model)))) ++
      full(spark, dir, "pl23_gated_funnel") ++ Seq(
        Phase("pl23_gated_funnel", "QualityModel.gatedStaging (checksum)",
          Some("api.quality.gated_staging_s"), forced(QualityModel.gatedStaging(spark, dir, model))),
        Phase("pl23_gated_funnel", "QualityModel.gatedReport (checksum)", None,
          forced(QualityModel.gatedReport(spark, dir, model)))) ++
      full(spark, dir, "pl18_bpe_merges") ++ Seq(
        Phase("pl18_bpe_merges", "vocab: corpus word counts (collect)",
          Some("functions.bpe_vocab_s"), () => {
          vocab = docs.select(explode(TextOps.tokens(col("text"))).as("word"))
            .groupBy("word").agg(count(lit(1)).as("freq")).orderBy("word")
            .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
        }),
        Phase("pl18_bpe_merges", "BpeOps.fitBpeLocal", Some("functions.bpe_fit_s"),
          () => { BpeOps.fitBpeLocal(vocab); () })) ++
      full(spark, dir, "m5_frame_neardup") ++ Seq(
        Phase("m5_frame_neardup", "MediaPipeline.syntheticMedia (checksum)",
          Some("multimodal.synthetic_s"), forced(media.toDF())),
        Phase("m5_frame_neardup", "MediaPipeline.sampleFrames (checksum)",
          Some("multimodal.sample_frames_s"), forced(MediaPipeline.sampleFrames(media).toDF())),
        Phase("m5_frame_neardup", "MediaPipeline.frameHashes (checksum)",
          Some("multimodal.frame_hashes_s"), forced(MediaPipeline.frameHashes(media).toDF()))) ++
      full(spark, dir, "m9_media_funnel") ++ Seq(
        Phase("m9_media_funnel", "MediaPipeline.perceptualHash (checksum)",
          Some("multimodal.perceptual_hash_s"), forced(MediaPipeline.perceptualHash(media).toDF())),
        Phase("m9_media_funnel", "MediaPipeline.admissionPass (checksum)",
          Some("multimodal.admission_s"), forced(MediaPipeline.admissionPass(media).toDF())),
        Phase("m9_media_funnel", "MediaPipeline.extractFeatures (checksum)",
          Some("multimodal.extract_features_s"), forced(MediaPipeline.extractFeatures(media).toDF()))) ++
      Seq(Phase("cadence", "trivial two-stage job over a generated range",
        Some("spark.cadence_floor_s"), () => {
          spark.range(0, 50000, 1, spark.sparkContext.defaultParallelism)
            .groupBy((col("id") % 273).as("k")).agg(sum(col("id"))).collect()
          ()
        }))
  }

  /** Runs `ps` in order through `f`, clearing the session's cache
    * where the table changes (phases of one table share cached frames). */
  def foreachPhase(spark: SparkSession, ps: Seq[Phase])(f: Phase => Unit): Unit = {
    var table = ""
    ps.foreach { p =>
      if (p.table != table) { spark.catalog.clearCache(); table = p.table }
      f(p)
    }
    spark.catalog.clearCache()
  }

  /** Replicas of the documents the kernel probes run over. */
  val KernelReplicas = 20

  /** Public column builders that lower to a `graft.plans` expression,
    * each as a projection over a cached frame of tokenized documents
    * (`text`, `toks`, `sh`). Outputs are hashable so the forcing
    * checksum evaluates every kernel. */
  val Kernels: Seq[(String, DataFrame => DataFrame)] = Seq(
    "DedupEnrich.shingleSetFromToks" -> (_.select(DedupEnrich.shingleSetFromToks(col("toks")))),
    "DedupEnrich.windowHashesFromToks" -> (_.select(DedupEnrich.windowHashesFromToks(col("toks")))),
    "DedupEnrich.windowOccurrencesFromToks" ->
      (_.select(DedupEnrich.windowOccurrencesFromToks(col("toks")))),
    "DedupEnrich.withBandKeys" -> (df => DedupEnrich.withBandKeys(df.select("sh"), "sh").select("bands")),
    "MinHash.simhash16" -> (_.select(MinHash.simhash16(col("toks")))),
    "TextOps.hashedNgrams" -> (_.select(TextOps.hashedNgrams(col("toks"), 3))),
    "TextOps.charTrigramCounts" -> (_.select(map_keys(TextOps.charTrigramCounts(col("text"))))),
    "GopherRules.withStats" -> (df => GopherRules.withStats(df.select("text", "toks"))
      .select("n_words", "mean_word_len", "alpha_frac", "kept")),
    "Mnemo.hashEmbedding" -> (_.select(Mnemo.hashEmbedding(col("text")))))

  /** Rows per second of each kernel: median of `reps` timed forcings. */
  def kernelRates(spark: SparkSession, dir: String, reps: Int): Seq[(String, Double)] = {
    val base = graft.Tables.documents(spark, dir).select("text")
      .crossJoin(spark.range(KernelReplicas).select(col("id").as("rep")))
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("sh", DedupEnrich.shingleSetFromToks(col("toks")))
      .cache()
    val n = base.count().toDouble
    val rates = Kernels.map { case (k, f) =>
      val ts = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        val out = Session.force(f(base))
        require(out.kind == "checksum", s"kernel probe $k fell back to a count")
        (System.nanoTime() - t0) / 1e9
      }
      s"plans.$k.rows_per_s" -> n / Stats.median(ts)
    }
    base.unpersist(true)
    rates
  }
}
