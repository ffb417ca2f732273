package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded span: a call from the benchmark into a layer. */
final case class Span(id: Int, name: String, parent: Int, rep: String,
    start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
  /** "queries.construct:llm_e2e_prepare" → "queries.construct" */
  def layer: String = name.takeWhile(_ != ':')
}

/** Spark work attributed to one job group (= one span). */
final class GroupStats {
  var jobs, stages, tasks, taskFailures = 0L
  var jobNs, runMs, cpuNs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, peakMem = 0L
  def add(o: GroupStats): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskFailures += o.taskFailures; jobNs += o.jobNs; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
    peakMem = math.max(peakMem, o.peakMem)
  }
}

/** Aggregates task metrics per Spark job group. The tracer gives every
  * span its own group, so a job is charged to the span that launched
  * it exactly, not by time window. Jobs run under a group the tracer
  * did not set (a streaming query sets its run id) are charged through
  * [[Tracer.alias]]. */
final class GroupListener extends SparkListener {
  val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Long)]()

  private def stats(g: String): GroupStats =
    groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    jobGroup.put(e.jobId, (g, System.nanoTime()))
    e.stageIds.foreach(s => stageGroup.put(s, g))
    val s = stats(g)
    s.synchronized { s.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { case (g, t0) =>
      val s = stats(g)
      s.synchronized { s.jobNs += System.nanoTime() - t0 }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = stats(stageGroup.getOrDefault(e.stageInfo.stageId, "none"))
    s.synchronized { s.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val s = stats(stageGroup.getOrDefault(e.stageId, "none"))
    val m = e.taskMetrics
    s.synchronized {
      s.tasks += 1
      if (!e.taskInfo.successful) s.taskFailures += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakMem = math.max(s.peakMem, m.peakExecutionMemory)
      }
    }
  }
}

/** Spans around the benchmark's calls into each layer. With tracing
  * off a span only runs its body; with tracing on it records name,
  * start, end, parent and repetition id in memory and sets the Spark
  * job group so [[GroupListener]] can charge jobs to it.
  *
  * `plant` maps a span name to seconds of delay added inside that span
  * whether tracing is on or off; it exists for the benchmark's
  * self-test and is empty in normal runs. */
final class Tracer(sc: SparkContext, plant: Map[String, Double]) {
  val spans = ArrayBuffer[Span]()
  val listener = new GroupListener
  private var stack = List.empty[Span]
  private val aliases = new ConcurrentHashMap[String, Int]()
  var on = false
  var rep = ""

  def start(): Unit = if (!on) { on = true; sc.addSparkListener(listener) }
  def stop(): Unit = if (on) {
    on = false
    org.apache.spark.PerfbenchBridge.drainListeners(sc)
    sc.removeSparkListener(listener)
  }

  def apply[T](name: String)(body: => T): T = {
    val delay = plant.getOrElse(name, 0.0)
    if (!on) { if (delay > 0) Thread.sleep((delay * 1000).toLong); body }
    else {
      val s = Span(spans.size, name, stack.headOption.fold(-1)(_.id), rep,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setJobGroup(s"pb${s.id}", name, interruptOnCancel = false)
      try {
        if (delay > 0) Thread.sleep((delay * 1000).toLong)
        body
      } finally {
        s.end = System.nanoTime()
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(s"pb${p.id}", p.name,
            interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }
  }

  /** Charge jobs of an external job group to the innermost open span. */
  def alias(group: String): Unit =
    stack.headOption.foreach(s => aliases.put(group, s.id))

  /** Duration minus the time its child spans cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Spark work per span id (own group plus aliased groups). */
  def groupStats: Map[Int, GroupStats] = {
    val out = scala.collection.mutable.Map[Int, GroupStats]()
    listener.groups.asScala.foreach { case (g, st) =>
      val id =
        if (g.startsWith("pb")) scala.util.Try(g.drop(2).toInt).toOption
        else Option(aliases.get(g)).map(_.intValue)
      id.foreach(i => out.getOrElseUpdate(i, new GroupStats).add(st))
    }
    out.toMap
  }

  /** Sum of self seconds per layer (or per full name) over the spans of
    * the given repetitions. */
  def selfBy(key: Span => String, reps: Set[String]): Map[String, Double] =
    spans.filter(s => reps(s.rep)).groupBy(key)
      .map { case (k, ss) => k -> ss.map(selfSeconds).sum }

  def jobsBy(key: Span => String, reps: Set[String]): Map[String, Long] = {
    val gs = groupStats
    spans.filter(s => reps(s.rep)).groupBy(key).map { case (k, ss) =>
      k -> ss.flatMap(s => gs.get(s.id)).map(_.jobs).sum
    }
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""rep":"${s.rep}","start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}
