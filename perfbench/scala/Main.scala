package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Command line of the measuring JVM (see perfbench/run.py, which
  * builds it, generates the tables and checks the outputs). */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, data: String, work: String, cpus: Int, out: String,
    frames: Int, plant: Map[String, Double], corrupt: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("data"), kv("work"), kv("cpus").toInt,
      kv("out"), kv("frames").toInt,
      kv.get("plant").filter(_.nonEmpty).toSeq
        .flatMap(_.split(",")).map { p =>
          val Array(n, s) = p.split("="); n -> s.toDouble
        }.toMap,
      kv.get("corrupt").contains("1"))
  }
}

/** One measured pass of a workload.
  * @param wall   seconds of the pass (what the user waits for)
  * @param items  work items of the pass (records or docs)
  * @param rows   rows the pass writes (sink rows or output rows)
  * @param bytes  bytes the pass leaves on disk
  * @param ops    kind and latency of each operation (trigger, twin batch)
  * @param stageS seconds spent staging fresh inputs (set-up, untimed) */
final case class Rep(wall: Double, items: Double, rows: Double,
    bytes: Double, ops: Seq[(String, Double)], stageS: Double)

/** What every workload shares: the session, the tracer, fresh input
  * paths and the correctness bookkeeping. */
final class Ctx(val spark: SparkSession, val args: Args, val trace: Tracer) {
  val rng = new scala.util.Random(args.seed)
  val checkDir = s"${args.work}/check"
  /** query name → oracle SQL for the outputs written under checkDir */
  val oracles = mutable.LinkedHashMap[String, String]()
  val gates = mutable.ArrayBuffer[(String, Boolean, String)]()
  private var fresh = 0

  /** The generated tables under a path no earlier repetition used
    * (hard links, so no copy): memos keyed on the input path or on a
    * canonical plan over it cannot serve a later repetition. */
  def freshData(): String = {
    fresh += 1
    val d = Paths.get(s"${args.work}/fresh/d$fresh")
    Files.createDirectories(d)
    new File(args.data).listFiles().filter(_.isFile).foreach { f =>
      Files.createLink(d.resolve(f.getName), f.toPath)
    }
    d.toString
  }

  def freshDir(kind: String): String = {
    fresh += 1
    s"${args.work}/$kind/x$fresh"
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Write the output of the query `name` for its DuckDB oracle. */
  def writeChecked(name: String, df: DataFrame): Unit = {
    val out = if (args.corrupt) df.limit(0) else df
    out.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/$name")
    oracles(name) = graft.SparkEntry.oracleSql(name)
  }

  def gate(name: String, ok: Boolean, detail: => String): Unit = {
    gates += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] gate $name FAILED: $detail")
  }

  def clearCaches(): Unit = spark.sharedState.cacheManager.clearCache()
}

object Ctx {
  /** (bytes, files) of the regular files under `path`, "." and "_"
    * bookkeeping files excluded. */
  def dirStats(path: String): (Long, Long) = {
    val p = Paths.get(path)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) && {
          val n = f.getFileName.toString
          !n.startsWith(".") && !n.startsWith("_")
        }).toSeq
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally s.close()
    }
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secondsOf[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

trait Workload {
  /** One-off staging; charged to set-up. */
  def setup(): Unit = ()
  /** A full pass excluded from the metrics; charged to set-up. */
  def warmup(): Unit
  def rep(k: Int): Rep
  /** Correctness gates over the finished window. */
  def finish(): Unit = ()
  /** Traced run only: layer probes after the measured window. */
  def probes(): Unit = ()
  /** Traced run only: this workload's layer metrics, per traced pass. */
  def layers(traced: Set[String]): Map[String, Double]
}

object Main {
  import Ctx.{median, secondsOf}

  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the tables are single parquet files of a few MB: small splits
      // spread each scan over the executor threads (as graft.Bench does)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val t0 = System.currentTimeMillis()
    val spark = session(a.cpus, a.work)
    val sessionEnd = System.currentTimeMillis()
    val tracer = new Tracer(spark.sparkContext, a.plant)
    val ctx = new Ctx(spark, a, tracer)
    val w: Workload = a.workload match {
      case "ingest" => new Ingest(ctx)
      case "prepare_stream" => new PrepareStream(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    new File(ctx.checkDir).mkdirs()
    val (_, inputsS) = secondsOf(w.setup())
    val (_, warmupS) = secondsOf(w.warmup())
    ctx.clearCaches()
    val setupEnd = System.currentTimeMillis()

    // The measured window: closed loop, one pass after another. In a
    // traced run every second pass is traced, starting with the first,
    // so the untraced passes between them give the tracing overhead on
    // the same JVM.
    val reps = mutable.ArrayBuffer[(Rep, Boolean, String)]()
    var errors = 0
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var k = 0
    while (System.nanoTime() < deadline || k < (if (a.trace) 2 else 1)) {
      val traced = a.trace && k % 2 == 0
      tracer.rep = s"r$k"
      if (traced) tracer.start()
      try reps += ((w.rep(k), traced, tracer.rep))
      catch { case t: Throwable =>
        errors += 1
        System.err.println(s"[perfbench] pass $k threw: $t")
        t.printStackTrace()
      } finally {
        tracer.stop()
        ctx.clearCaches()
      }
      k += 1
    }
    val windowS = (System.currentTimeMillis() - setupEnd) / 1000.0
    w.finish()

    val good = reps.map(_._1).toSeq
    val e2e = mutable.LinkedHashMap[String, Double]()
    val layers = mutable.LinkedHashMap[String, Double]()
    if (good.nonEmpty && !a.trace) {
      e2e("items_per_s") = median(good.map(r => r.items / r.wall))
      e2e("rows_per_s") = median(good.map(r => r.rows / r.wall))
      // median latency per kind of operation; over several kinds (the
      // three twins) their geometric mean, so that no kind's share of
      // the samples decides which mode the median lands in
      val kinds = good.flatMap(_.ops).groupBy(_._1).values
        .map(o => median(o.map(_._2)))
      e2e("op_median_s") = math.exp(kinds.map(math.log).sum / kinds.size)
      e2e("bytes_per_item") = median(good.map(r => r.bytes / r.items))
    }
    var probesS = 0.0
    if (a.trace && good.nonEmpty) {
      val tracedNames = reps.collect { case (_, true, n) => n }.toSet
      val tracedReps = reps.collect { case (r, true, _) => r }.toSeq
      val untraced = reps.collect { case (r, false, _) => r.wall }.toSeq
      val nT = math.max(1, tracedReps.size).toDouble
      tracer.start()
      tracer.rep = "probe"
      probesS = secondsOf(w.probes())._2
      tracer.stop()
      layers ++= w.layers(tracedNames)
      // Spark execution counters of the traced passes, per pass
      val gs = tracer.groupStats
      val all = new GroupStats
      tracer.spans.filter(s => tracedNames(s.rep)).foreach(s =>
        gs.get(s.id).foreach(all.add))
      val wallT = tracedReps.map(_.wall).sum
      layers("spark.jobs") = all.jobs / nT
      layers("spark.stages") = all.stages / nT
      layers("spark.tasks") = all.tasks / nT
      layers("spark.exec_s") = all.jobNs / 1e9 / nT
      layers("spark.executor_run_s") = all.runMs / 1e3 / nT
      layers("spark.executor_cpu_s") = all.cpuNs / 1e9 / nT
      layers("spark.gc_s") = all.gcMs / 1e3 / nT
      layers("spark.cpu_busy_ratio") = all.cpuNs / 1e9 / (wallT * a.cpus)
      layers("spark.shuffle_write_bytes") = all.shuffleWrite / nT
      layers("spark.shuffle_read_bytes") = all.shuffleRead / nT
      layers("spark.spill_bytes") = all.spill / nT
      layers("spark.peak_exec_mem_bytes") = all.peakMem.toDouble
      layers("spark.task_failures") = all.taskFailures / nT
      layers("jvm.heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans
        .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
        .map(_.getPeakUsage.getUsed).sum / 1048576.0
      if (untraced.nonEmpty)
        layers("trace.overhead_ratio") =
          median(tracedReps.map(_.wall)) / median(untraced)
      tracer.writeJsonl(s"${a.work}/spans.jsonl")
    }

    val json = new StringBuilder("{")
    def num(d: Double): String =
      if (d.isNaN || d.isInfinite) "null" else d.toString
    def obj(m: collection.Map[String, Double]): String =
      m.map { case (k, v) => s"\"$k\":${num(v)}" }.mkString("{", ",", "}")
    def str(s: String): String =
      "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => " "; case c => c.toString
      } + "\""
    // attempted: operations (triggers, twin batches) and correctness
    // checks; failed: passes that threw and checks that failed
    val attempted = good.map(_.ops.size).sum + errors + ctx.gates.size
    json ++= s""""jvm_start_ms":${ManagementFactory.getRuntimeMXBean.getStartTime},"""
    json ++= s""""main_start_ms":$t0,"setup_end_ms":$setupEnd,"""
    json ++= s""""session_ms":$sessionEnd,"inputs_s":${num(inputsS)},"""
    json ++= s""""warmup_s":${num(warmupS)},"probes_s":${num(probesS)},"""
    json ++= s""""window_s":${num(windowS)},"""
    json ++= s""""stage_s":${num(median(good.map(_.stageS)))},"""
    json ++= s""""pass_s":${num(median(good.map(_.wall)))},"""
    json ++= s""""ops":${good.map(r => r.ops.map { case (k, v) => s"[${str(k)},${num(v)}]" }.mkString("[", ",", "]")).mkString("[", ",", "]")},"""
    json ++= s""""passes":${good.size},"traced_passes":${reps.count(_._2)},"""
    json ++= s""""attempted":${math.max(1, attempted)},"""
    json ++= s""""failed":${errors + ctx.gates.count(!_._2)},"""
    json ++= s""""e2e":${obj(e2e)},"layers":${obj(layers)},"""
    json ++= s""""gates":${ctx.gates.map(g => s"[${str(g._1)},${g._2},${str(g._3)}]").mkString("[", ",", "]")},"""
    json ++= s""""check_dir":${str(ctx.checkDir)},"""
    json ++= s""""oracles":${ctx.oracles.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")}"""
    json ++= "}"
    Files.writeString(Paths.get(a.out), json.toString)
    SparkSession.getActiveSession.foreach(_.stop())
    spark.stop()
  }
}
