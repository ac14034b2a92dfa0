package graft.perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the benchmark's calls into the engine, plus a
  * SparkListener that charges every job, stage and task to the span
  * that was innermost when it was submitted. Spans and counters stay in
  * memory; [[Tracer.layerTable]] folds them into per-layer metrics when
  * the run ends. With `on = false` a span is a plain call: no listener,
  * no local property, no bookkeeping. */
object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, runId: Int,
      startMs: Long, startNs: Long) {
    var endMs: Long = -1L
    var endNs: Long = -1L
    def wallS: Double = (endNs - startNs) / 1e9
  }

  /** Counters charged to one span. */
  final class Cost {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }

  /** The per-layer names, in report order. */
  val Layers: Seq[String] = Seq(
    "ingest", "profile", "align.truncate", "align.pad", "align.slide",
    "align.dtw", "embed.pca", "embed.ae", "embed.umap", "cluster.kmeans",
    "cluster.kshape", "cluster.dbscan", "trace", "ext.minhash", "ext.ivf",
    "ext.semdedup")
  val LayerFields: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "driver_s" -> "s", "jobs" -> "count",
    "stages" -> "count", "tasks" -> "count", "cpu_s" -> "s",
    "shuffle_mb" -> "MB")
}

final class Tracer(sc: SparkContext, val on: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var runId = 0

  // listener-side state, touched only on the listener bus thread until
  // [[drain]] has returned
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val costs = mutable.HashMap.empty[Int, Cost]
  @volatile private var markerSeen = -1
  // time the tracing itself took: span bookkeeping on the client thread,
  // callbacks on the listener bus thread
  private var spanNs = 0L
  @volatile private var busNs = 0L
  def selfSeconds: Double = (spanNs + busNs) / 1e9

  private def spanOf(props: java.util.Properties, timeMs: Long): Int = {
    val p = if (props == null) null else props.getProperty(SpanProp)
    if (p != null) p.toInt
    else {
      // a job launched from a thread that did not inherit the property
      // (a pooled Future) belongs to the innermost span open at its
      // submission time: the client is a single closed loop
      val open = spans.synchronized(spans.filter(s =>
        s.startMs <= timeMs && (s.endMs < 0 || timeMs <= s.endMs)))
      if (open.isEmpty) -1 else open.maxBy(_.startNs).id
    }
  }
  private def cost(span: Int): Cost = costs.getOrElseUpdate(span, new Cost)
  private def timedBus(body: => Unit): Unit = {
    val t0 = System.nanoTime(); body; busNs += System.nanoTime() - t0
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timedBus {
      val marker = Option(e.properties).map(_.getProperty("perfbench.marker")).orNull
      if (marker != null) markerSeen = marker.toInt
      else {
        val s = spanOf(e.properties, e.time)
        cost(s).jobs += 1
        e.stageInfos.foreach(si => stageSpan.getOrElseUpdate(si.stageId, s))
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timedBus {
      val si = e.stageInfo
      val s = stageSpan.getOrElse(si.stageId,
        spanOf(e.properties, si.submissionTime.getOrElse(System.currentTimeMillis())))
      stageSpan(si.stageId) = s
      cost(s).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedBus {
      val c = cost(stageSpan.getOrElse(e.stageId, -1))
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      }
      val ti = e.taskInfo
      c.taskIntervals += ((ti.launchTime, ti.finishTime))
    }
  }
  if (on) sc.addSparkListener(listener)

  def newRun(): Int = { runId += 1; runId }

  /** Runs `body` inside a span called `name`. */
  def span[T](name: String)(body: => T): T = {
    if (!on) return body
    val t0 = System.nanoTime()
    val parent = stack.headOption
    val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), runId,
      System.currentTimeMillis(), System.nanoTime())
    spans.synchronized(spans += s)
    stack = s :: stack
    sc.setLocalProperty(SpanProp, s.id.toString)
    spanNs += System.nanoTime() - t0
    try body
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
      spanNs += System.nanoTime() - s.endNs
    }
  }

  /** Waits until the listener has seen every event posted so far: a
    * marker job is posted after them and the bus delivers in order. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = if (on) {
    val tag = runId * 1000 + spans.size
    sc.setLocalProperty("perfbench.marker", tag.toString)
    try spark.range(1).count()
    finally sc.setLocalProperty("perfbench.marker", null)
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (markerSeen != tag && System.nanoTime() < deadline) Thread.sleep(5)
    require(markerSeen == tag, "trace: listener did not drain within 30 s")
  }

  def spillBytes: Long =
    costs.iterator.filter { case (id, _) => id >= 0 }.map(_._2.spillBytes).sum

  /** Wall time of span `s` not covered by its child spans. */
  private def selfIntervals(s: Span, children: Seq[Span]): Seq[(Long, Long)] = {
    val kids = children.sortBy(_.startNs)
    val out = mutable.ArrayBuffer.empty[(Long, Long)]
    var cur = s.startNs
    kids.foreach { k => if (k.startNs > cur) out += ((cur, k.startNs)); cur = math.max(cur, k.endNs) }
    if (s.endNs > cur) out += ((cur, s.endNs))
    out.toSeq
  }

  /** Per-layer metrics: self wall, driver-only time, jobs, stages,
    * tasks, executor CPU and shuffle write, summed over every span
    * carrying the layer's name. */
  def layerTable: Map[String, Double] = {
    val inRuns = spans.filter(_.endNs >= 0)
    val byParent = inRuns.groupBy(_.parent)
    val acc = mutable.LinkedHashMap.empty[String, Double]
    for (l <- Layers; (f, _) <- LayerFields) acc(s"$l.$f") = 0.0
    inRuns.filter(s => Layers.contains(s.name)).foreach { s =>
      val self = selfIntervals(s, byParent.getOrElse(s.id, Nil).toSeq)
      val selfS = self.map { case (a, b) => b - a }.sum / 1e9
      val c = costs.getOrElse(s.id, new Cost)
      // driver time: self time during which none of the span's tasks ran
      // (task times are wall-clock ms; map them onto the span's ns axis)
      val toNs = (ms: Long) => s.startNs + (ms - s.startMs) * 1000000L
      val busy = mergedCover(c.taskIntervals.map { case (a, b) => (toNs(a), toNs(b)) }.toSeq, self)
      val p = s.name
      acc(s"$p.wall_s") += selfS
      acc(s"$p.driver_s") += math.max(0.0, selfS - busy / 1e9)
      acc(s"$p.jobs") += c.jobs
      acc(s"$p.stages") += c.stages
      acc(s"$p.tasks") += c.tasks
      acc(s"$p.cpu_s") += c.cpuNs / 1e9
      acc(s"$p.shuffle_mb") += c.shuffleBytes / 1e6
    }
    acc.toMap
  }

  /** Nanoseconds of `windows` covered by the union of `iv`. */
  private def mergedCover(iv: Seq[(Long, Long)], windows: Seq[(Long, Long)]): Long = {
    val sorted = iv.filter { case (a, b) => b > a }.sortBy(_._1)
    val merged = mutable.ArrayBuffer.empty[(Long, Long)]
    sorted.foreach { case (a, b) =>
      if (merged.nonEmpty && a <= merged.last._2)
        merged(merged.size - 1) = (merged.last._1, math.max(merged.last._2, b))
      else merged += ((a, b))
    }
    var total = 0L
    for ((wa, wb) <- windows; (a, b) <- merged) {
      val lo = math.max(wa, a); val hi = math.min(wb, b)
      if (hi > lo) total += hi - lo
    }
    total
  }

  /** Span records, one JSON object per line. */
  def spanLines: Seq[String] =
    spans.map { s =>
      val c = costs.getOrElse(s.id, new Cost)
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"run":${s.runId},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS},""" +
        s""""jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""cpu_s":${c.cpuNs / 1e9},"shuffle_mb":${c.shuffleBytes / 1e6}}"""
    }.toSeq
}
