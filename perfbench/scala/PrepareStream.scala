package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.TextAnalysis
import graft.queries.LlmQueries
import graft.streaming.{StreamingFuzzyDedup, StreamingNearDup,
  StreamingTokenBudget}

/** The three streaming twins driven through their public
  * `processBatch` over the same corpora and `pmod(doc_id, 3)`
  * micro-batches as their registered `*_stream` queries. Each batch's
  * output is written before the next batch runs; each pass gives every
  * twin a fresh store. The twins run in a fixed order: the first twin
  * of a pass runs measurably slower than the others, and a seeded order
  * would move that cost between twins from run to run. */
final class PrepareStream(ctx: Ctx) extends Workload {
  import Ctx.{dirStats, median, secondsOf}
  private val twins = Seq("neardup", "fuzzy", "token_budget")
  private var docsPerPass = 0.0
  private var rowsPerPass = 0.0
  /** twin → per-pass store (bytes, files), by pass */
  private val stores = mutable.Map[(String, Int), (Long, Long)]()
  private var lastOut: Map[String, Seq[String]] = Map.empty
  private var lastDir = ""

  private def corpus(twin: String, dir: String): DataFrame = twin match {
    case "token_budget" =>
      ctx.spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"),
          TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    case _ => LlmQueries.docsWithNearDups(ctx.spark, dir)
  }

  private def batchFn(twin: String, store: String)
      : (DataFrame, Long) => DataFrame = twin match {
    case "neardup" =>
      val t = StreamingNearDup(store, threshold = 0.5)
      (b, _) => t.processBatch(b)
    case "fuzzy" =>
      val t = StreamingFuzzyDedup(store, threshold = 0.5)
      (b, id) => t.processBatch(b, id)
    case "token_budget" =>
      val t = StreamingTokenBudget(store, "lang",
        Map("en" -> 5000L, "de" -> 2000L, "fr" -> 2000L), defaultBudget = 1000L)
      (b, id) => t.processBatch(b, id)
  }

  /** One pass over the twins; returns per-twin batch seconds and output
    * directories. */
  private def pass(k: Int, dir: String)
      : Map[String, (Seq[Double], Seq[String])] =
    twins.map { twin =>
      val store = ctx.freshDir("store")
      val out = ctx.freshDir("stream-out")
      val fn = batchFn(twin, store)
      val d = corpus(twin, dir)
      val res = (0 until 3).map { c =>
        val path = s"$out/b$c"
        secondsOf(ctx.trace(s"streaming.batch:$twin") {
          fn(d.where(pmod(col("doc_id"), lit(3L)) === c), c.toLong)
            .write.parquet(path)
        })._2 -> path
      }
      stores((twin, k)) = dirStats(store)
      twin -> (res.map(_._1), res.map(_._2))
    }.toMap

  override def setup(): Unit = {
    val d = ctx.args.data
    docsPerPass = 2.0 * LlmQueries.docsWithNearDups(ctx.spark, d).count() +
      ctx.spark.read.parquet(s"$d/documents.parquet").count()
  }

  override def warmup(): Unit = pass(-1, ctx.freshData())

  override def rep(k: Int): Rep = {
    val (dir, stageS) = secondsOf(ctx.freshData())
    val (res, wall) = secondsOf(pass(k, dir))
    lastOut = res.map { case (t, (_, p)) => t -> p }
    lastDir = dir
    if (rowsPerPass == 0) rowsPerPass = lastOut.values.flatten
      .map(p => ctx.spark.read.parquet(p).count()).sum.toDouble
    Rep(wall, docsPerPass, rowsPerPass,
      twins.map(t => stores((t, k))._1).sum.toDouble,
      res.toSeq.flatMap { case (t, (s, _)) => s.map(t -> _) }, stageS)
  }

  /** Oracle-check the last pass: near-dup pairs and token-budget
    * admissions against their DuckDB oracles; the fuzzy survivors
    * against the greedy multi-batch reference over the checked pairs
    * (drop what matches an earlier kept doc, then keep the lowest id of
    * each in-batch cluster). */
  override def finish(): Unit = if (lastOut.nonEmpty) {
    val s = ctx.spark
    def all(t: String) = lastOut(t).map(s.read.parquet).reduce(_ unionByName _)
    ctx.writeChecked("llm_neardup_stream", all("neardup"))
    ctx.writeChecked("llm_token_budget_stream", all("token_budget"))
    val pairs = all("neardup").select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = LlmQueries.docsWithNearDups(s, lastDir).select("doc_id")
      .collect().map(_.getLong(0)).toSeq.sorted
    val expect = greedy((0 until 3).map(c => ids.filter(_ % 3 == c)), pairs)
    val got = all("fuzzy").select("doc_id").collect().map(_.getLong(0)).toSet
    val gotChecked = if (ctx.args.corrupt) got - got.head else got
    ctx.gate("stream.fuzzy_greedy_reference", gotChecked == expect,
      s"${gotChecked.size} survivors vs ${expect.size} expected; " +
        s"first differences ${(gotChecked diff expect).take(3)} / " +
        s"${(expect diff gotChecked).take(3)}")
  }

  private def greedy(batches: Seq[Seq[Long]],
      pairs: Set[(Long, Long)]): Set[Long] = {
    val adj = mutable.Map[Long, mutable.Set[Long]]()
    pairs.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, mutable.Set()) += b
      adj.getOrElseUpdate(b, mutable.Set()) += a
    }
    def nbrs(x: Long) = adj.getOrElse(x, mutable.Set.empty[Long])
    val kept = mutable.Set[Long]()
    batches.foreach { b =>
      val surv = b.filterNot(d => nbrs(d).exists(kept)).toSet
      // connected components of the survivors; keep each one's lowest id
      val seen = mutable.Set[Long]()
      surv.toSeq.sorted.foreach { d =>
        if (!seen(d)) {
          kept += d
          val stack = mutable.Stack(d)
          seen += d
          while (stack.nonEmpty) {
            val x = stack.pop()
            nbrs(x).filter(y => surv(y) && !seen(y)).foreach { y =>
              seen += y; stack.push(y)
            }
          }
        }
      }
    }
    kept.toSet
  }

  override def probes(): Unit = {
    PrepareProbes.construction(ctx)
    PrepareProbes.llmStages(ctx)
  }

  /** Batch times here are the tracer's self times of the traced
    * passes' `streaming.batch` spans, per pass in batch order. */
  override def layers(traced: Set[String]): Map[String, Double] =
    PrepareProbes.layers(ctx) ++ {
      val ks = traced.map(_.drop(1).toInt)
      val jobs = ctx.trace.jobsBy(_.name, traced)
      twins.flatMap { t =>
        val secs = ctx.trace.spans
          .filter(s => traced(s.rep) && s.name == s"streaming.batch:$t")
          .groupBy(_.rep).values.toSeq
          .map(_.sortBy(_.id).map(ctx.trace.selfSeconds).toSeq)
        val st = ks.toSeq.flatMap(k => stores.get((t, k)))
        Seq(
          s"streaming.batch_s.$t" -> median(secs.flatten),
          s"streaming.batch_jobs.$t" ->
            jobs.getOrElse(s"streaming.batch:$t", 0L) /
              math.max(1.0, secs.flatten.size),
          s"streaming.store_bytes.$t" -> median(st.map(_._1.toDouble)),
          s"streaming.store_files.$t" -> median(st.map(_._2.toDouble)),
          s"streaming.last_over_first.$t" ->
            median(secs.map(s => s.last / s.head)))
      }
    }
}
