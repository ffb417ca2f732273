package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.llm.{Dedup, Decontaminate, Packing, Sampling, TextAnalysis}
import graft.queries.LlmQueries

/** Traced-run probes of the batch LLM-prep path: the construction and
  * planning of the three capstone queries, and each llm stage of the
  * fuzzy + spans chain on its own over a checkpointed copy of its input.
  * They run once, after the measured window, so they add nothing to the
  * end-to-end numbers. */
object PrepareProbes {
  val capstones = Seq(
    "exact" -> "llm_e2e_prepare",
    "fuzzy" -> "llm_e2e_prepare_fuzzy",
    "spans" -> "llm_e2e_prepare_spans")
  val stages = Seq("signals", "exact_dedup", "minhash_pairs", "clusters",
    "spans", "decontaminate", "mix", "pack")

  /** `SparkEntry.queries(name)` then the executed plan, per capstone,
    * each over a fresh input path so no construction memo serves it. */
  def construction(ctx: Ctx): Unit = capstones.foreach { case (_, q) =>
    val dir = ctx.freshData()
    val df = ctx.trace(s"queries.construct:$q")(
      SparkEntry.queries(q)(ctx.spark, dir))
    ctx.trace(s"queries.plan:$q")(df.queryExecution.executedPlan)
    ctx.clearCaches()
  }

  def llmStages(ctx: Ctx): Unit = {
    val t = ctx.trace
    val dir = ctx.freshData()
    def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)
    val corpus = pin(LlmQueries.docsWithMixedDups(ctx.spark, dir))
    val sig = t("llm.signals")(pin(TextAnalysis.qualitySignals(corpus)
      .withColumn("lang", TextAnalysis.langId(col("text")))
      .withColumn("fingerprint", TextAnalysis.fingerprint(col("text")))
      .where(col("verdict") === "keep")))
    val deduped = t("llm.exact_dedup")(pin(sig.groupBy("fingerprint")
      .agg(min("doc_id").as("doc_id"),
        min_by(col("text"), col("doc_id")).as("text"),
        min_by(col("lang"), col("doc_id")).as("lang"))
      .drop("fingerprint")))
    val pairs = t("llm.minhash_pairs")(
      pin(Dedup.minhashLshPairsMd5(deduped, threshold = 0.5)))
    val clusters = t("llm.clusters")(pin(Dedup.dedupClusters(pairs)))
    val survivors = pin(deduped.join(clusters
      .where(col("id") =!= col("cluster_rep"))
      .select(col("id").as("doc_id")), Seq("doc_id"), "left_anti"))
    val cut = t("llm.spans")(pin(Dedup.cutSpans(survivors,
      Dedup.duplicateSpans(survivors), keep = Seq("lang"))
      .withColumnRenamed("text_cut", "text")))
    val bench = ctx.spark.read.parquet(s"$dir/documents.parquet")
      .where(col("doc_id") % 13 === 0).select("doc_id", "text")
    val clean = t("llm.decontaminate")(pin(Decontaminate.clean(cut, bench)))
    val mixed = t("llm.mix")(pin(Sampling.sampleMix(clean, "lang",
      Map("en" -> 0.5, "de" -> 1.0, "fr" -> 0.25), defaultRate = 0.1)))
    t("llm.pack")(ctx.noop(Packing.packSequences(mixed, ctxLen = 64,
      nShards = 8)))
    ctx.clearCaches()
  }

  /** Layer metrics of the probes (they ran under repetition "probe"). */
  def layers(ctx: Ctx): Map[String, Double] = {
    val probe = Set("probe")
    val byName = ctx.trace.selfBy(_.name, probe)
    val byLayer = ctx.trace.selfBy(_.layer, probe)
    val jobs = ctx.trace.jobsBy(_.name, probe)
    val out = mutable.LinkedHashMap[String, Double]()
    capstones.foreach { case (short, q) =>
      out(s"queries.construct_s.$short") =
        byName.getOrElse(s"queries.construct:$q", 0.0)
      out(s"queries.construct_jobs.$short") =
        jobs.getOrElse(s"queries.construct:$q", 0L).toDouble
      out(s"queries.plan_s.$short") = byName.getOrElse(s"queries.plan:$q", 0.0)
    }
    out("queries.construct_s") = byLayer.getOrElse("queries.construct", 0.0)
    out("queries.plan_s") = byLayer.getOrElse("queries.plan", 0.0)
    stages.foreach(s => out(s"llm.${s}_s") = byLayer.getOrElse(s"llm.$s", 0.0))
    out.toMap
  }
}
