package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.ml.{Clustering, ConvAE, Dbscan, Embedding, Gate, KShape, TraceBack, Umap}

/** The per-operator job budget of the gated kernels: under its gate a
  * converted operator reads its input in exactly one job (the gate's
  * collect) and returns a frame that collects without another one.
  * Adding a job to any of them fails this spec. The boundary cases pin
  * which path runs at n = gate − 1 and n = gate, and that null or
  * repeated ids take the distributed path.
  *
  * Inputs are built by Spark in ONE partition: a local relation would
  * let the optimizer fold the limit into its data (no job at all), and
  * Spark's limited collect widens over further partitions in further
  * jobs. */
class GateSpec extends SparkSpec with BeforeAndAfterAll {

  private val Tag = "graft.gatespec"

  private object Jobs extends SparkListener {
    val n = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (e.properties != null && e.properties.getProperty(Tag) != null) n.incrementAndGet()
  }

  override def beforeAll(): Unit = spark.sparkContext.addSparkListener(Jobs)
  override def afterAll(): Unit = spark.sparkContext.removeSparkListener(Jobs)

  /** Spark jobs `body` starts from this thread, and its value. */
  private def jobs[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    ListenerDrain(sc)
    Jobs.n.set(0)
    sc.setLocalProperty(Tag, "1")
    val out = try body finally sc.setLocalProperty(Tag, null)
    ListenerDrain(sc)
    (out, Jobs.n.get)
  }

  /** `n` equal-length series built by Spark in one partition; `salt`
    * keeps inputs of different tests apart in the driver fit caches. */
  private def series(n: Int, salt: Int = 0, len: Int = 16): DataFrame =
    spark.range(0, n, 1, 1).select(col("id").as("series_id"),
      array((0 until len).map(t =>
        sin(col("id") * 0.37 + lit(t + salt) * (col("id") % 3 + 1) * 0.4)): _*).as("values"))

  /** `n` 2-D points in one partition: three loose blobs. */
  private def points(n: Long): DataFrame =
    spark.range(0, n, 1, 1).select(col("id").as("series_id"),
      ((col("id") % 3) * 4 + sin(col("id"))).as("x"),
      ((col("id") % 3) * 3 + cos(col("id") * 1.3)).as("y"))

  test("under the gate every converted operator runs exactly one job over its input") {
    val cfg = ConvAE.Config(epochs = 3, seed = 3)
    val cases: Seq[(String, () => DataFrame)] = Seq(
      "pca2d" -> (() => Embedding.pca2d(series(40))),
      "pcaVariancePct" -> (() => Embedding.pcaVariancePct(series(40), 3)),
      "mds2d" -> (() => Embedding.mds2d(series(40))),
      "aeEmbed" -> (() => Embedding.aeEmbed(series(12, salt = 1), "gaf", 8, cfg = cfg)),
      "umap2d" -> (() => Umap.umap2d(series(40), nNeighbors = 5, epochs = 20)),
      "KShape.fit" -> (() => KShape.fit(series(40), 3, maxIter = 3)),
      "kmeans" -> (() => Clustering.kmeans(points(60), 3)),
      "silhouetteScan" -> (() => Clustering.silhouetteScan(points(60), 4)),
      "Dbscan.run" -> (() => Dbscan.run(points(60), 0.8, 3)),
      "centroidRepresentatives" -> (() => TraceBack.centroidRepresentatives(
        points(60).withColumn("cluster", (col("series_id") % 3).cast("int")))))
    cases.foreach { case (name, op) =>
      val (rows, n) = jobs(op().collect())
      assert(rows.nonEmpty, s"$name returned no rows")
      assert(n == 1, s"$name ran $n jobs under its gate, budget 1")
    }
  }

  test("aeHistory after aeEmbed reads no input: the two share one driver fit") {
    val cfg = ConvAE.Config(epochs = 3, seed = 3)
    val in = series(12, salt = 2)
    val (_, fit) = jobs(Embedding.aeEmbed(in, "gaf", 8, cfg = cfg).collect())
    val (hist, again) = jobs(Embedding.aeHistory(in, "gaf", 8, cfg = cfg).collect())
    assert(fit == 1 && again == 0, s"aeEmbed ran $fit jobs, aeHistory $again")
    assert(hist.nonEmpty)
  }

  test("Gate.local: strict gate, inclusive gate, forced distributed, clamped gate") {
    val df = spark.range(0, 10, 1, 1).toDF()
    assert(Gate.local(df, 11).map(_.length).contains(10), "n = gate - 1 takes the driver path")
    assert(Gate.local(df, 10).isEmpty, "n = gate goes distributed")
    assert(Gate.local(df, 10, inclusive = true).map(_.length).contains(10))
    assert(Gate.local(df, 9, inclusive = true).isEmpty)
    assert(Gate.local(df, 0).isEmpty && Gate.local(df, -1, inclusive = true).isEmpty,
      "gate <= 0 forces the distributed path")
    assert(Gate.local(df, Int.MaxValue.toLong + 1).map(_.length).contains(10),
      "a gate past Int.MaxValue clamps instead of wrapping negative")
    assert(Gate.local(df, Long.MaxValue, inclusive = true).map(_.length).contains(10))
  }

  test("kmeans boundary: n = gate - 1 on the driver, n = gate distributed, same layout") {
    val pts = points(30)
    val (below, nb) = jobs(Clustering.kmeans(pts, 3, gate = 31).collect())
    val (at, na) = jobs(Clustering.kmeans(pts, 3, gate = 30).collect())
    assert(nb == 1, s"n = gate - 1 ran $nb jobs, want the driver path's one")
    assert(na > 1, s"n = gate ran $na jobs, want the distributed path")
    assert(below.length == 30 && at.length == 30)
    // the driver output keeps the join-using layout of the distributed one
    val drv = Clustering.kmeans(pts, 3, gate = 31).schema
    val dist = Clustering.kmeans(pts, 3, gate = 30).schema
    assert(drv.map(f => (f.name, f.dataType)) == dist.map(f => (f.name, f.dataType)))
    assert(drv.fieldNames.toSeq == Seq("series_id", "x", "y", "cluster"))
    assert(!drv("cluster").nullable)
  }

  test("kmeans: a gate above Int.MaxValue clamps and keeps the driver path") {
    val pts = points(30)
    val want = Clustering.kmeans(pts, 3).collect().toSeq
    val (got, n) = jobs(Clustering.kmeans(pts, 3, gate = Int.MaxValue.toLong + 1).collect().toSeq)
    assert(n == 1, s"ran $n jobs, want the driver path's one")
    assert(got == want)
  }

  test("Dbscan keeps its inclusive boundary: n = gate on the driver, n = gate + 1 distributed") {
    val pts = points(30)
    val (a, na) = jobs(Dbscan.run(pts, 0.8, 3, maxDriverPoints = 30).collect())
    val (b, nb) = jobs(Dbscan.run(pts, 0.8, 3, maxDriverPoints = 29).collect())
    assert(na == 1 && nb > 1, s"jobs at n = gate: $na, at n = gate + 1: $nb")
    assert(a.map(r => (r.getLong(0), r.getLong(1))).toMap ==
      b.map(r => (r.getLong(0), r.getLong(1))).toMap)
  }

  test("pcaEmbed boundary: n = gate - 1 on the driver, n = gate distributed") {
    val in = series(20, salt = 3)
    val (_, nb) = jobs(Embedding.pcaEmbed(in, 2, gate = 21).collect())
    val (_, na) = jobs(Embedding.pcaEmbed(in, 2, gate = 20).collect())
    assert(nb == 1 && na > 1, s"jobs below: $nb, at the gate: $na")
  }

  test("null or repeated ids fall through to the distributed path") {
    val dup = points(30).withColumn("series_id",
      when(col("series_id") === 7, lit(6L)).otherwise(col("series_id")))
    val nul = points(30).withColumn("series_id",
      when(col("series_id") === 7, lit(null).cast("long")).otherwise(col("series_id")))
    for ((name, in) <- Seq("repeated" -> dup, "null" -> nul)) {
      val (km, nk) = jobs(Clustering.kmeans(in, 3).collect())
      assert(nk > 1, s"kmeans on a $name id ran $nk jobs, want the distributed path")
      assert(km.length == 30, s"kmeans on a $name id returned ${km.length} rows")
      val (_, ns) = jobs(Clustering.silhouetteScan(in, 3).collect())
      assert(ns > 1, s"silhouetteScan on a $name id stayed on the driver")
      val reps = in.withColumn("cluster", (col("x") > 4).cast("int"))
      val (_, nr) = jobs(TraceBack.centroidRepresentatives(reps).collect())
      assert(nr > 1, s"centroidRepresentatives on a $name id stayed on the driver")
    }
    val ser = series(20, salt = 4).withColumn("series_id",
      when(col("series_id") === 3, lit(2L)).otherwise(col("series_id")))
    val (_, np) = jobs(Embedding.pca2d(ser).collect())
    assert(np > 1, "pca2d on a repeated id stayed on the driver")
    assert(Gate.rowsById(spark.range(0, 5, 1, 1).select(lit(1L)), 10).isEmpty)
  }
}
