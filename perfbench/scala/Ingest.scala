package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.normalize.{Normalizer, NormalizerSpec}
import graft.ops.Stages
import graft.pipeline.{Pipeline, PipelineConfig, ProtoCodec, ProtoRecord,
  WireSite}
import graft.runner.{QuerySink, SegmentQuery, SegmentRunner}
import graft.sink.{RotatingSegmentSink, RotationPolicy}
import graft.sources.{BinaryQueue, BinaryQueueSource}

/** Kafka-style catch-up consumption, the paper's own path: a seeded
  * backlog of Confluent-framed protobuf messages in an 8-partition
  * `graft-binqueue` log is drained by `Pipeline.run()` through munge →
  * columnar decode (dead letters routed) → normalize (with the list path
  * `stores.id`) → raw + normalized rotated segments → a per-segment
  * GROUP BY export. One pass = stage a fresh log, drain it, close. */
final class Ingest(ctx: Ctx) extends Workload {
  import Ctx.{dirStats, secondsOf}
  private def spark: SparkSession = ctx.spark
  private val partitions = 8
  private val triggers = 2
  private val frames = ctx.args.frames
  private val ts0 = 1700000000000L

  private var backlog: Array[Array[Byte]] = _
  private var malformed = 0L
  private var normExpected = 0L
  private val progress = mutable.Map[Int, Seq[StreamingQueryProgress]]()
  private val counters = mutable.Map[Int, Map[String, Double]]()

  val spec = NormalizerSpec(
    Seq("id", "site.id", "site.kind", "score", "stores.id"),
    Seq("id", "site", "kind", "score", "store"))
  val runner = SegmentRunner(Seq(SegmentQuery(
    "SELECT store, count(*) AS n FROM msgs_norm GROUP BY store",
    Some(QuerySink("${segment}_agg")))))
  val rotation = RotationPolicy(thresholdMB = 1, durationSec = 3600,
    clamp = false)

  override def setup(): Unit = {
    val r = ctx.rng
    val kinds = Array("web", "app", "ctv", "dooh")
    val prefix = Array[Byte](0, 0, 0, 0, 1, 2) // Confluent magic + schema id
    backlog = Array.tabulate(frames) { i =>
      if (r.nextDouble() < 0.01) {
        // field 2 (site) announces 64 bytes and carries fewer: truncated
        malformed += 1
        prefix ++ Array[Byte](0x12, 0x40) ++
          Array.fill(r.nextInt(40))(r.nextInt(256).toByte)
      } else {
        val nStores = r.nextInt(3)
        normExpected += math.max(1, nStores)
        prefix ++ ProtoCodec.encode(ProtoRecord(
          id = i + 1L,
          site = WireSite(s"site${r.nextInt(500)}", kinds(r.nextInt(4))),
          score = r.nextDouble() * 100,
          flag = r.nextBoolean(),
          ts = r.nextInt(100000) - 50000L,
          tags = Seq.fill(r.nextInt(3))(r.nextInt(1000).toLong),
          attrs = Map(s"a${r.nextInt(8)}" -> r.nextInt(100).toLong),
          stores = Seq.fill(nStores)(
            WireSite(s"store${r.nextInt(64)}", kinds(r.nextInt(4))))))
      }
    }
  }

  private def stage(dir: String, n: Int): Unit =
    (0 until partitions).foreach { p =>
      BinaryQueue.append(dir, p, (p until n by partitions)
        .map(i => backlog(i) -> (ts0 + i)))
    }

  /** Stage a fresh log of the first `n` frames, drain it through
    * the pipeline and close it. Returns the pipeline, drain seconds,
    * staging seconds, the progress of the triggers that read data and
    * the segment directory. */
  private def drain(n: Int): (Pipeline, Double, Double,
      Seq[StreamingQueryProgress], String) = {
    val q = ctx.freshDir("queue")
    val out = ctx.freshDir("segments")
    val (_, stageS) = secondsOf(stage(q, n))
    val ((pipe, prog), wall) = secondsOf {
      val pipe = Pipeline(spark, PipelineConfig(
        source = BinaryQueueSource(q,
          maxOffsetsPerTrigger = Some(n.toLong / triggers)),
        outputDir = out,
        munger = Some(Stages.confluentStrip),
        decode = ProtoCodec.decodeColumnar,
        deadLetterTable = Some("msgs_dead"),
        normalizer = Some(spec),
        rotation = rotation,
        runner = Some(runner),
        checkpointDir = Some(ctx.freshDir("checkpoint"))))
      val sq = ctx.trace("pipeline.drain") {
        val sq = pipe.run()
        ctx.trace.alias(sq.runId.toString)
        sq.processAllAvailable()
        sq
      }
      val prog = sq.recentProgress.toSeq.filter(_.numInputRows > 0)
      ctx.trace("sink.close")(pipe.close())
      (pipe, prog)
    }
    (pipe, wall, stageS, prog, out)
  }

  /** A quarter of the backlog: the cold cost of the first drain is
    * mostly fixed (JIT, codegen, the first streaming query), and a pass
    * after it runs as fast as one after a full-size warm-up. */
  override def warmup(): Unit = drain(frames / 4)

  override def rep(k: Int): Rep = {
    val (pipe, wall, stageS, prog, out) = drain(frames)
    val m = pipe.metrics
    val good = frames - malformed
    // correctness gates: conservation, dead letters = planted malformed
    // frames, normalized rows = Σ max(1, |stores|), per-segment export
    // sums = normalized rows
    val planted = if (ctx.args.corrupt) malformed + 1 else malformed
    val exports = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.endsWith("_agg"))
      .map(_.getPath).toSeq
    val exported =
      if (exports.isEmpty) 0L
      else spark.read.parquet(exports: _*).agg(sum("n")).head().getLong(0)
    ctx.gate(s"ingest.r$k.conservation", m.conservationHolds,
      s"consumed ${m.messagesConsumed.get} != processed " +
        s"${m.recordsProcessed.get} + dead ${m.decodeErrors.get} + " +
        s"skips ${m.catchUpSkips.get}")
    ctx.gate(s"ingest.r$k.consumed", m.messagesConsumed.get == frames,
      s"consumed ${m.messagesConsumed.get} of $frames frames")
    ctx.gate(s"ingest.r$k.dead_letters", m.decodeErrors.get == planted,
      s"dead ${m.decodeErrors.get} != planted malformed $planted")
    ctx.gate(s"ingest.r$k.good", m.recordsProcessed.get == good,
      s"processed ${m.recordsProcessed.get} != good $good")
    ctx.gate(s"ingest.r$k.norm_rows", m.normRecordsInserted.get ==
      normExpected, s"norm ${m.normRecordsInserted.get} != " +
        s"Σ max(1,|stores|) $normExpected")
    ctx.gate(s"ingest.r$k.segment_exports", exported == normExpected,
      s"per-segment export sum $exported != norm rows $normExpected")
    ctx.gate(s"ingest.r$k.no_error", m.error.isEmpty,
      s"pipeline error ${m.error}")
    val segBytes = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("seg_") &&
        !f.getName.endsWith("_agg"))
      .map(f => dirStats(f.getPath)._1).sum
    val trig = prog.map(p =>
      "trigger" -> p.durationMs.get("triggerExecution").toDouble / 1e3)
    progress(k) = prog
    counters(k) = Map(
      "rows_read" -> prog.map(_.numInputRows.toDouble).sum,
      "decode_errors" -> m.decodeErrors.get.toDouble,
      "bytes_in" -> m.bytesProcessed.get.toDouble,
      "sink_rows" -> (m.recordsInserted.get + m.normRecordsInserted.get +
        m.decodeErrors.get).toDouble,
      "segments" -> m.filesClosed.get.toDouble,
      "segment_bytes" -> segBytes.toDouble,
      "fanout" -> m.normRecordsInserted.get.toDouble /
        math.max(1L, m.recordsProcessed.get),
      "errors" -> m.error.size.toDouble)
    Rep(wall, items = m.recordsProcessed.get.toDouble,
      rows = (m.recordsInserted.get + m.normRecordsInserted.get).toDouble,
      bytes = segBytes.toDouble / frames * good, ops = trig, stageS = stageS)
  }

  private val probe = mutable.Map[String, Double]()
  /** The probes run over the first quarter of the backlog, which keeps
    * a traced run well inside its time limit. */
  private val probeFrames = frames / 4

  /** Each layer on its own over a materialized copy of its input, so
    * its self time has no other layer's work in it. Then a drain of
    * the same frames at local[N] and at local[1] for the parallel
    * efficiency; this stops the session, so it runs last. */
  override def probes(): Unit = {
    val session = spark
    import session.implicits._
    val t = ctx.trace
    val framesDf = backlog.toSeq.take(probeFrames).zipWithIndex
      .map { case (b, i) => (b, new java.sql.Timestamp(ts0 + i)) }
      .toDF("value", "timestamp").repartition(ctx.args.cpus).persist()
    framesDf.count()
    val decoded = t("pipeline.decode") {
      val d = ProtoCodec.decodeColumnar(
        Stages.munge(Stages.confluentStrip)(framesDf)).persist()
      d.count(); d
    }
    val (good, _) = Stages.routeErrors(decoded)
    val norm = t("normalize") {
      val n = Normalizer.normalize(good, spec).persist()
      n.count(); n
    }
    val sink = new RotatingSegmentSink(spark, ctx.freshDir("probe"),
      policy = rotation)
    t("sink.append") {
      sink.append("msgs_norm", norm)
      sink.append("msgs", good)
    }
    val info = t("sink.rotate")(sink.rotate())
    val errs = t("runner")(runner.run(spark,
      Map("msgs_norm" -> s"${info.path}/msgs_norm"), Some(info.path)))
    probe("runner.errors") = errs.size.toDouble
    ctx.clearCaches()

    // parallel efficiency: records/s at N cores ÷ (N × records/s at 1),
    // each a drain of a fresh log of the probe size, untraced
    t.stop()
    val (pN, wallN, _, _, _) = drain(probeFrames)
    spark.stop()
    // a work directory of its own: the new Ctx numbers its fresh
    // directories from 1 again, and a reused queue or checkpoint would
    // be appended to and resumed instead of drained afresh
    val args1 = ctx.args.copy(work = s"${ctx.args.work}/one")
    val one = Main.session(1, args1.work)
    val w1 = new Ingest(new Ctx(one, args1,
      new Tracer(one.sparkContext, Map.empty)))
    w1.backlog = backlog
    w1.drain(frames / 20) // warm: the new session's first query
    val (p1, wall1, _, _, _) = w1.drain(probeFrames)
    for ((p, arm) <- Seq(pN -> "n_cores", p1 -> "one_core"))
      ctx.gate(s"ingest.$arm.consumed",
        p.metrics.messagesConsumed.get == probeFrames,
        s"$arm drain consumed ${p.metrics.messagesConsumed.get} of " +
          s"$probeFrames frames")
    probe("spark.parallel_efficiency") =
      (pN.metrics.recordsProcessed.get / wallN) /
        (ctx.args.cpus * p1.metrics.recordsProcessed.get / wall1)
    one.stop()
  }

  override def layers(traced: Set[String]): Map[String, Double] = {
    val ks = traced.map(_.drop(1).toInt).toSeq.filter(progress.contains)
    val n = math.max(1, ks.size).toDouble
    def dur(key: String): Double = ks.map(k => progress(k).map(p =>
      Option(p.durationMs.get(key)).fold(0.0)(_.toDouble)).sum).sum / n
    def cnt(key: String): Double = ks.map(k => counters(k)(key)).sum / n
    val self = ctx.trace.selfBy(_.layer, Set("probe"))
    val drainJobs = ctx.trace.jobsBy(_.layer, traced)
      .getOrElse("pipeline.drain", 0L) / n
    val trig = ks.map(k => progress(k).size).sum / n
    Map(
      "sources.rows_read" -> cnt("rows_read"),
      "sources.latest_offset_ms" -> dur("latestOffset"),
      "pipeline.triggers" -> trig,
      "pipeline.add_batch_ms" -> dur("addBatch"),
      "pipeline.query_planning_ms" -> dur("queryPlanning"),
      "pipeline.wal_commit_ms" -> dur("walCommit"),
      "pipeline.jobs_per_trigger" -> drainJobs / math.max(trig, 1.0),
      "pipeline.decode_s" -> self.getOrElse("pipeline.decode", 0.0),
      "pipeline.decode_errors" -> cnt("decode_errors"),
      "pipeline.bytes_in" -> cnt("bytes_in"),
      "normalize.s" -> self.getOrElse("normalize", 0.0),
      "normalize.fanout" -> cnt("fanout"),
      "sink.append_s" -> self.getOrElse("sink.append", 0.0),
      "sink.rows_written" -> cnt("sink_rows"),
      "sink.bytes_written" -> cnt("segment_bytes"),
      "sink.segments_closed" -> cnt("segments"),
      "sink.rotate_s" -> self.getOrElse("sink.rotate", 0.0),
      "runner.s" -> self.getOrElse("runner", 0.0),
      "runner.errors" -> (probe.getOrElse("runner.errors", 0.0) +
        cnt("errors")),
      "spark.parallel_efficiency" ->
        probe.getOrElse("spark.parallel_efficiency", 0.0))
  }
}
