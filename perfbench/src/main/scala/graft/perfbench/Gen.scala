package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.{Locale, SplittableRandom}

/** Seeded input generator with planted truth. Every file is a pure
  * function of (seed, sizes): SplittableRandom is specified bit-exactly
  * and numbers are printed with Locale.ROOT, so the same seed gives
  * byte-identical files on any JVM.
  *
  * Series (the upload of the pipeline workloads): long-format
  * `Process,Step,Value` rows. Each series belongs to one of [[Families]]
  * shape families; a family fixes the shape, the level and a band of
  * lengths inside 45-99. A shape's period is fixed in steps, not in
  * shares of the series' length, so a series cut to its first 45 steps
  * (Truncate) keeps its family's shape, and the four shapes stay apart
  * after z-normalization too (a shape-based clusterer sees no level).
  * About 1% of the series are planted outliers: random walks starting
  * above every family's level. Truth: `Process,family,outlier`.
  *
  * Documents: `doc_id,text` over a synthetic vocabulary; a share of the
  * documents are near-copies of an earlier one (a few words replaced),
  * listed in `dup_pairs.csv` as `id_a,id_b`.
  *
  * Vectors: `id,v0..v{dim-1}` drawn around random centres; the first
  * [[NnQueries]] ids each get one planted twin (the vector plus tiny
  * noise), listed in `nn_pairs.csv` as `query_id,twin_id`. */
object Gen {
  val Families = 4
  /** Length band per family: [45 + 14f, 57 + 14f], capped at 99. */
  def lengthBand(f: Int): (Int, Int) = (45 + 14 * f, math.min(99, 57 + 14 * f))
  val OutlierShare = 0.01
  val NnQueries = 200
  val Dim = 32

  private def writer(f: File): BufferedWriter =
    new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f),
      StandardCharsets.UTF_8), 1 << 16)

  private def fmt(v: Double): String = String.format(Locale.ROOT, "%.5f", Double.box(v))

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller on the specified nextDouble stream (nextGaussian of
    // java.util.Random is not part of SplittableRandom's contract)
    val u1 = math.max(r.nextDouble(), 1e-300); val u2 = r.nextDouble()
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }

  /** Steps per unit of a shape's time axis: the shortest length, minus 1. */
  val ShapeSteps = 44.0

  /** Family `f`'s shape at time `t` (in units of [[ShapeSteps]] steps). */
  private def shape(f: Int, t: Double): Double = f match {
    case 0 => math.sin(2 * math.Pi * t)
    case 1 => math.sin(6 * math.Pi * t)
    case 2 => 2 * (t - math.floor(t)) - 1
    case _ => if (math.sin(4 * math.Pi * t) >= 0) 1.0 else -1.0
  }

  /** Family of every series id 1..n (−1 = outlier), seeded. */
  def seriesTruth(seed: Long, n: Int): Array[Int] = {
    val r = new SplittableRandom(seed * 1000003L + 11)
    val nOut = math.max(1, math.round(n * OutlierShare).toInt)
    val fam = Array.tabulate(n)(i => i % Families)
    // outliers at seeded distinct positions
    var placed = 0
    while (placed < nOut) {
      val i = r.nextInt(n)
      if (fam(i) >= 0) { fam(i) = -1; placed += 1 }
    }
    fam
  }

  /** Writes upload.csv and truth.csv into `dir`; returns the lengths. */
  def series(seed: Long, n: Int, dir: File): Array[Int] = {
    dir.mkdirs()
    val fam = seriesTruth(seed, n)
    val r = new SplittableRandom(seed * 1000003L + 29)
    val lens = new Array[Int](n)
    val up = writer(new File(dir, "upload.csv"))
    up.write("Process,Step,Value\n")
    var i = 0
    while (i < n) {
      val id = i + 1
      val f = fam(i)
      if (f >= 0) {
        val (lo, hi) = lengthBand(f)
        val len = lo + r.nextInt(hi - lo + 1)
        lens(i) = len
        val amp = 0.8 + 0.4 * r.nextDouble()
        val phase = 0.03 * (r.nextDouble() - 0.5)
        var s = 0
        while (s < len) {
          val t = s / ShapeSteps + phase
          val v = 3.0 * f + amp * shape(f, t) + 0.05 * gauss(r)
          up.write(s"$id,$s,${fmt(v)}\n")
          s += 1
        }
      } else {
        val len = 45 + r.nextInt(55)
        lens(i) = len
        var v = 13.0 + 4.0 * r.nextDouble()
        var s = 0
        while (s < len) {
          v += 0.5 * gauss(r)
          up.write(s"$id,$s,${fmt(v)}\n")
          s += 1
        }
      }
      i += 1
    }
    up.close()
    val tr = writer(new File(dir, "truth.csv"))
    tr.write("Process,family,outlier\n")
    i = 0
    while (i < n) {
      tr.write(s"${i + 1},${fam(i)},${if (fam(i) < 0) 1 else 0}\n")
      i += 1
    }
    tr.close()
    lens
  }

  private def word(r: SplittableRandom): String = s"w${r.nextInt(20000)}"

  /** Writes docs.csv and dup_pairs.csv; every 10th document from id 10
    * on is a near-copy of a seeded earlier original. */
  def docs(seed: Long, n: Int, dir: File): Unit = {
    dir.mkdirs()
    val r = new SplittableRandom(seed * 1000003L + 47)
    val texts = new Array[Array[String]](n)
    val dw = writer(new File(dir, "docs.csv"))
    val pw = writer(new File(dir, "dup_pairs.csv"))
    dw.write("doc_id,text\n")
    pw.write("id_a,id_b\n")
    var i = 0
    while (i < n) {
      val id = i + 1
      val isCopy = id >= 10 && id % 10 == 0
      val words =
        if (isCopy) {
          // originals are never copies themselves, so planted groups are pairs
          var src = r.nextInt(i)
          while ((src + 1) >= 10 && (src + 1) % 10 == 0) src = r.nextInt(i)
          val w = texts(src).clone()
          // two substitutions in a 60-90 word text keep word-3-shingle
          // Jaccard around 0.8, far above unrelated documents (~0)
          var k = 0
          while (k < 2) { w(r.nextInt(w.length)) = word(r); k += 1 }
          pw.write(s"${src + 1},$id\n")
          w
        } else Array.fill(60 + r.nextInt(31))(word(r))
      texts(i) = words
      dw.write(s"$id,${words.mkString(" ")}\n")
      i += 1
    }
    dw.close(); pw.close()
  }

  /** Writes vectors.csv and nn_pairs.csv: `centres` gaussian centres,
    * points around them, and ids n+1..n+NnQueries as twins of ids
    * 1..NnQueries. Returns the total row count. */
  def vectors(seed: Long, n: Int, centres: Int, dir: File): Int = {
    dir.mkdirs()
    val r = new SplittableRandom(seed * 1000003L + 83)
    val cs = Array.fill(centres, Dim)(gauss(r))
    val rows = new Array[Array[Double]](n)
    val vw = writer(new File(dir, "vectors.csv"))
    val pw = writer(new File(dir, "nn_pairs.csv"))
    vw.write("id," + (0 until Dim).map(d => s"v$d").mkString(",") + "\n")
    pw.write("query_id,twin_id\n")
    def emit(id: Int, v: Array[Double]): Unit =
      vw.write(s"$id," + v.map(fmt).mkString(",") + "\n")
    var i = 0
    while (i < n) {
      val c = cs(r.nextInt(centres))
      rows(i) = Array.tabulate(Dim)(d => c(d) + 0.35 * gauss(r))
      emit(i + 1, rows(i))
      i += 1
    }
    var q = 0
    while (q < NnQueries) {
      emit(n + q + 1, rows(q).map(x => x + 0.002 * gauss(r)))
      pw.write(s"${q + 1},${n + q + 1}\n")
      q += 1
    }
    vw.close(); pw.close()
    n + NnQueries
  }

  /** `Gen <seed> <dir> <series> <docs> <vectors>`: writes all three
    * input sets (the generator's own test drives this). */
  def main(args: Array[String]): Unit = {
    val seed = args(0).toLong; val dir = new File(args(1))
    series(seed, args(2).toInt, new File(dir, "series"))
    docs(seed, args(3).toInt, new File(dir, "docs"))
    vectors(seed, args(4).toInt, 16, new File(dir, "vectors"))
  }
}
