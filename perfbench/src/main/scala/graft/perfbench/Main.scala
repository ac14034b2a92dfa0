package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.storage.StorageLevel
import graft.queries.Memo

/** One closed-loop client driving the engine through its public
  * functions. `Main --workload <name> --seed <n> --seconds <s> --trace
  * <0|1> --work <dir>` prints metric lines and, last, one JSON object.
  *
  * A run sets up [[SetupReps]] times (fresh Spark session, generated
  * inputs, warm-up on a tiny input) and reports the median, then repeats
  * the workload's script in passes while another pass still fits in
  * `--seconds` (at least one). Every pass reads its own copy of the
  * inputs, so every pass is a cold session over the same data and the
  * pooled latencies do not depend on how many passes fit. A traced run
  * makes one traced pass, which gives the per-layer table.
  *
  * Every op's exception or failed output check is printed with the op's
  * name and counted; any failure makes the exit code non-zero. */
object Main {
  val SetupReps = 3

  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", new File(m("work")))
    val wl = Workloads.all.find(_.name == conf.workload).getOrElse {
      System.err.println(s"unknown workload ${conf.workload}; known: " +
        Workloads.all.map(_.name).mkString(", "))
      sys.exit(2)
    }
    val code = new Run(conf, wl).execute()
    sys.exit(code)
  }

  def session(work: File): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** A materialized op output: the persisted frame, its row count and,
  * when the workload renders results, the collected rows. [[all]] gives
  * the rows to the output checks either way. */
final case class Out(df: DataFrame, rows: Long, collected: Option[Array[Row]]) {
  lazy val all: Array[Row] = collected.getOrElse(df.collect())
}

/** One op's latency record. */
final case class OpRec(pass: Int, kind: String, ms: Double)

final class Run(conf: Main.Conf, wl: Workload) {
  import Main._

  var spark: SparkSession = _
  var tracer: Tracer = _
  val ops = mutable.ArrayBuffer.empty[OpRec]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  val quality = mutable.LinkedHashMap.empty[String, Double]
  /** op name → fingerprint of its output, per pass. */
  val prints = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Long]]
  var pass = 0
  /** Seconds the current pass has spent inside ops: the time its user
    * waited, without the benchmark's own checks between ops. */
  var passOpS = 0.0
  var heapPeakMb = 0.0
  val persisted = mutable.ArrayBuffer.empty[DataFrame]

  // ---- op plumbing -------------------------------------------------------

  def fail(op: String, msg: String): Unit = {
    failures += s"$op: $msg"
    System.err.println(s"FAILED op=$op pass=$pass: $msg")
    println(s"FAILED op=$op pass=$pass: $msg")
  }

  def check(op: String, ok: Boolean, msg: => String): Unit = if (!ok) fail(op, msg)

  /** Times one op (a click or a hover); a throw is a failed op, never
    * a fast one. Returns None when the op failed. */
  def timed[T](kind: String, name: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(s"$kind:$name")(body)
      val ms = (System.nanoTime() - t0) / 1e6
      ops += OpRec(pass, kind, ms)
      passOpS += ms / 1e3
      System.err.println(f"op pass=$pass $kind $name $ms%.1f ms")
      Some(r)
    } catch {
      case e: Throwable =>
        fail(name, s"${e.getClass.getName}: ${e.getMessage}".take(500))
        None
    }
  }

  def layer[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Persist and materialize inside the caller's timing: rendered
    * workloads collect the rows, the others count them. */
  def materialize(df: DataFrame): Out = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    persisted += p
    if (wl.render) { val rows = p.collect(); Out(p, rows.length.toLong, Some(rows)) }
    else Out(p, p.count(), None)
  }

  /** Order-insensitive fingerprint of an output, computed outside the
    * op's timing: the sum of per-row hashes of the rows' exact text. */
  def fingerprint(op: String, o: Out): Unit =
    prints.last(op) = o.all.iterator.map(r =>
      scala.util.hashing.MurmurHash3.stringHash(r.toString).toLong & 0xffffffffL).sum * 31 + o.rows

  def heapCheckpoint(): Unit = {
    System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    heapPeakMb = math.max(heapPeakMb, used)
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def endPass(): Unit = {
    persisted.foreach(_.unpersist(blocking = true))
    persisted.clear()
  }

  // ---- run ---------------------------------------------------------------

  def execute(): Int = {
    conf.work.mkdirs()
    val setups = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(conf.work)
      tracer = new Tracer(spark.sparkContext, on = false)
      Memo.startRecording()
      wl.setup(this, conf.seed, new File(conf.work, s"setup$i"))
      // the warm-up's frames belong to this session: drop them before it stops
      Memo.release(Memo.stopRecording())
      endPass()
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"setup reps ${setups.map(x => f"$x%.2f").mkString(" ")} s")
    if (conf.trace) tracer = new Tracer(spark.sparkContext, on = true)
    val passOps = mutable.ArrayBuffer.empty[Double]
    val firstResult = mutable.ArrayBuffer.empty[Double]
    var items = 0L
    var memoHits = 0L; var memoMisses = 0L
    val evict0 = Memo.evictionCount
    var gcPass1 = 0.0; var wallPass1 = 0.0
    val measureStart = System.nanoTime()
    def elapsed = (System.nanoTime() - measureStart) / 1e9
    // a new pass starts only if one more pass of the mean length still
    // fits in the measuring time; a traced run makes exactly one
    while (pass == 0 || (!conf.trace && failures.isEmpty &&
        elapsed * (pass + 1) / pass <= conf.seconds)) {
      pass += 1
      passOpS = 0.0
      tracer.newRun()
      prints += mutable.LinkedHashMap.empty
      Memo.startRecording()
      val gc0 = gcSeconds
      val t0 = System.nanoTime()
      val res = tracer.span("pass")(wl.pass(this, pass))
      val wall = (System.nanoTime() - t0) / 1e9
      val (built, hit) = Memo.stopRecordingWithHits()
      if (pass == 1) {
        wallPass1 = wall
        memoHits = hit.size; memoMisses = built.size; gcPass1 = gcSeconds - gc0
      }
      // sampled while the pass's persisted outputs and Memo entries are alive
      heapCheckpoint()
      Memo.release(built)
      passOps += passOpS
      firstResult += res.firstResultS
      items += res.items
      endPass()
    }
    // determinism: every pass reads the same data, so every deterministic
    // op must print the same fingerprint in every pass
    prints.zipWithIndex.drop(1).foreach { case (p, i) =>
      p.foreach { case (op, fp) =>
        prints.head.get(op).foreach(fp0 =>
          check(op, fp0 == fp, s"fingerprint of pass ${i + 1} differs from pass 1"))
      }
    }
    tracer.drain(spark)
    // pass 0 is the warm-up inside set-up
    val clicks = ops.filter(o => o.pass > 0 && o.kind == "click").map(_.ms).toIndexedSeq
    val hovers = ops.filter(o => o.pass > 0 && o.kind == "hover").map(_.ms).toIndexedSeq
    val slowestClicks = ops.filter(o => o.pass > 0 && o.kind == "click")
      .groupBy(_.pass).values.map(_.map(_.ms).max).toIndexedSeq
    val qmin = if (quality.isEmpty) Double.NaN else quality.values.min
    // what diff.py needs to match runs of one workload and seed
    println(s"run workload=${conf.workload} seed=${conf.seed} trace=${if (conf.trace) 1 else 0}")
    prints.head.foreach { case (op, fp) => println(s"fingerprint $op ${java.lang.Long.toHexString(fp)}") }
    quality.foreach { case (k, v) => println(f"quality $k%-40s $v%.6f") }
    println(s"click_max_ms is the slowest of ${clicks.size / pass} clicks per pass; " +
      s"hover_p90_ms is p90 of ${hovers.size} hovers; passes $pass")
    println(s"failed_ops ${failures.size} of $attempted")

    val metrics: Seq[(String, Double, String)] =
      if (!conf.trace) Seq(
        ("setup_s", Stats.median(setups), "s"),
        ("first_result_s", Stats.median(firstResult.toIndexedSeq), "s"),
        ("click_p50_ms", Stats.median(clicks), "ms"),
        ("click_max_ms", Stats.median(slowestClicks), "ms"),
        ("hover_p50_ms", Stats.median(hovers), "ms"),
        ("hover_p90_ms", Stats.percentile(hovers, 0.9), "ms"),
        ("session_s", Stats.median(passOps.toIndexedSeq), "s"),
        ("items_per_s", items / passOps.sum, "1/s"),
        ("quality_min", qmin, "ratio"),
        ("live_heap_mb", heapPeakMb, "MB"))
      else {
        val table = tracer.layerTable
        val layerRows = for (l <- Trace.Layers; (f, u) <- Trace.LayerFields)
          yield (s"$l.$f", table(s"$l.$f"), u)
        layerRows ++ Seq(
          ("jvm.gc_s", gcPass1, "s"),
          ("jvm.spill_mb", tracer.spillBytes / 1e6, "MB"),
          ("memo.hits", memoHits.toDouble, "count"),
          ("memo.misses", memoMisses.toDouble, "count"),
          ("memo.evictions", (Memo.evictionCount - evict0).toDouble, "count"),
          ("trace.overhead_pct", 100.0 * tracer.selfSeconds / wallPass1, "%"))
      }
    if (conf.trace) {
      val f = new File(conf.work, "spans.jsonl")
      java.nio.file.Files.write(f.toPath,
        tracer.spanLines.mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    metrics.foreach { case (n, v, u) => println(f"metric $n%-28s $v%.6f $u") }
    metrics.filter(_._2.isNaN).foreach { case (n, _, _) =>
      fail(n, "no value: too few samples in the pass") }
    val ok = failures.isEmpty
    val js = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${Stats.num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": ${failures.size}, "metrics": {$js}}""")
    spark.stop()
    if (ok) 0 else 1
  }
}

/** What one pass returns: the seconds its ops took up to the first
  * rendered result, and the input items it pushed through. */
final case class PassResult(firstResultS: Double, items: Long)

object Stats {
  def median(xs: IndexedSeq[Double]): Double = percentile(xs, 0.5)

  /** The `q` quantile, interpolated linearly between the closest ranks. */
  def percentile(xs: IndexedSeq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val pos = q * (s.size - 1)
      val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Adjusted Rand index of two labelings. */
  def ari(a: Array[Int], b: Array[Int]): Double = {
    require(a.length == b.length)
    val n = a.length.toDouble
    def c2(x: Double) = x * (x - 1) / 2
    val cont = mutable.HashMap.empty[(Int, Int), Int]
    val ra = mutable.HashMap.empty[Int, Int]; val rb = mutable.HashMap.empty[Int, Int]
    a.indices.foreach { i =>
      cont((a(i), b(i))) = cont.getOrElse((a(i), b(i)), 0) + 1
      ra(a(i)) = ra.getOrElse(a(i), 0) + 1; rb(b(i)) = rb.getOrElse(b(i), 0) + 1
    }
    val sumC = cont.values.map(v => c2(v)).sum
    val sa = ra.values.map(v => c2(v)).sum; val sb = rb.values.map(v => c2(v)).sum
    val exp = sa * sb / c2(n); val mx = (sa + sb) / 2
    if (mx == exp) 1.0 else (sumC - exp) / (mx - exp)
  }
}
