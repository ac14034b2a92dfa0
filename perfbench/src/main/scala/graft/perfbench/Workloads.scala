package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ext.Dedup
import graft.ml.{Clustering, Dbscan, Embedding, Ivf, KShape, SemDedup, TraceBack, Umap}
import graft.ops.{Dtw, SeriesOps}
import graft.sources.CsvSeries

trait Workload {
  def name: String
  /** Rendered workloads collect every result, as the UI draws it;
    * the others persist and count. */
  def render: Boolean
  /** Generates the inputs under `dir` and warms up: an upload (or load)
    * of a small input of another seed, and hovers over it. */
  def setup(r: Run, seed: Long, dir: File): Unit
  def pass(r: Run, pass: Int): PassResult
}

object Workloads {
  val all: Seq[Workload] = Seq(
    // the reference regime: every input under every driver gate
    new Pipeline("interactive_session", series = 1500, hovers = 8, specs = Seq(
        "truncate" -> Seq("pca" -> Seq("kmeans", "kshape", "dbscan")),
        "dtw" -> Seq("umap" -> Nil),
        "pad" -> Seq("ae" -> Nil),
        "slide" -> Nil)),
    new ExtTier)

  def copyDir(from: File, to: File): Unit = {
    to.mkdirs()
    from.listFiles().foreach(f =>
      Files.copy(f.toPath, new File(to, f.getName).toPath, StandardCopyOption.REPLACE_EXISTING))
  }

  /** Hovers: the input row behind `n` of the result's ids (column
    * `idCol` of `out`), each looked up by id as its own timed op.
    * `lookup` maps a result id to the input's id. */
  def hovers(r: Run, op: String, n: Int, out: Out, idCol: String, input: DataFrame,
      inputId: String, lookup: Long => Long = identity): Unit = {
    val ids = out.all.map(_.getAs[Number](idCol).longValue()).distinct
    val picked = ids.sortBy(id => (scala.util.hashing.MurmurHash3.mix(r.pass, id.hashCode), id)).take(n)
    picked.foreach { id =>
      val key = lookup(id)
      r.timed("hover", s"hover_$op") {
        r.layer("trace")(input.filter(col(inputId) === key).collect())
      }.foreach(rows => r.check(s"hover_$op", rows.length == 1, s"${rows.length} rows for id $key"))
    }
  }
}

/** The paper's click-through pipeline: upload → Show Graph, then one
  * Slice click per slice, one Embed click per embedder of that slice and
  * one Cluster click per clusterer of that embedding, as `specs` lists
  * them. Every Embed and Cluster click is followed by hovers (trace-back
  * to the raw series); a Cluster click renders its representatives.
  * K-Means and K-Shape take k from the silhouette scan, as the UI does. */
object Pipeline {
  /** Sliding window width and stride: every series (length ≥ 45) gives
    * 1-3 windows, so 1,500 series stay under UMAP's 5,000-row gate. */
  val Window = 40
  val Stride = 20
  /** DBSCAN radius on the PCA embedding, picked from the planted cluster
    * radius there (see README.md); minPts is fixed. */
  val Eps = 0.08
  val MinPts = 5
  val MaxK = 8
  val WarmUpSeries = 48

  /** One generated upload: its directory, series lengths and planted
    * family per series id (−1 = outlier). */
  final case class Data(dir: File, lengths: Array[Int], truth: Map[Long, Int])

  def generate(seed: Long, n: Int, dir: File): Data = Data(dir, Gen.series(seed, n, dir),
    Gen.seriesTruth(seed, n).zipWithIndex.map { case (f, i) => (i + 1).toLong -> f }.toMap)
}

final class Pipeline(val name: String, series: Int, hovers: Int,
    specs: Seq[(String, Seq[(String, Seq[String])])]) extends Workload {
  import Pipeline._

  val render = true

  /** The generated upload every pass copies. */
  private var inputs: Data = _

  def setup(r: Run, seed: Long, dir: File): Unit = {
    inputs = generate(seed, series, new File(dir, "series"))
    val small = generate(seed + 7, WarmUpSeries, new File(dir, "warmup"))
    upload(r, new File(small.dir, "upload.csv").getPath, small.lengths).foreach { raw =>
      val rawSeries = r.materialize(SeriesOps.collectSeries(raw.df, "Process", "Value", "Step"))
      Workloads.hovers(r, "warmup", hovers, rawSeries, "series_id", rawSeries.df, "series_id")
    }
  }

  def pass(r: Run, pass: Int): PassResult = {
    val copy = new File(inputs.dir.getParentFile, s"pass$pass")
    Workloads.copyDir(inputs.dir, copy)
    script(r, copy)
  }

  private def lengths = inputs.lengths

  private def familyOf(id: Long, slice: String): Int =
    inputs.truth(if (slice == "slide") id / 1000 else id)

  private def upload(r: Run, path: String, lens: Array[Int]): Option[Out] =
    r.timed("click", "upload") {
      r.layer("ingest") {
        val o = r.materialize(CsvSeries.readCsv(r.spark, path, "Value", "utf-8"))
        (o, CsvSeries.preview(o.df).collect())
      }
    }.map { case (raw, preview) =>
      r.check("upload", raw.rows == lens.map(_.toLong).sum && preview.length == 5,
        s"rows ${raw.rows}, preview ${preview.length}")
      raw
    }

  private def script(r: Run, dir: File): PassResult = {
    var first = Double.NaN
    val n = lengths.length
    val path = new File(dir, "upload.csv").getPath
    val raw = upload(r, path, lengths).getOrElse(return PassResult(Double.NaN, 0))

    val (norm, rawSeries) = r.timed("click", "show_graph") {
      r.layer("profile") {
        val v = col("Value")
        raw.df.agg(min(v), max(v), avg(v), var_pop(v), sqrt(avg(v * v))).collect()
        (r.materialize(SeriesOps.collectSeries(
          SeriesOps.withNormalized(raw.df, "Value"), "Process", "min_max", "Step")),
          r.materialize(SeriesOps.collectSeries(raw.df, "Process", "Value", "Step")))
      }
    }.getOrElse(return PassResult(Double.NaN, 0))
    r.check("show_graph", norm.rows == n && rawSeries.rows == n,
      s"series ${norm.rows}/${rawSeries.rows} of $n")
    r.fingerprint("show_graph", norm)

    var items = 0L
    specs.foreach { case (s, embedders) =>
      r.timed("click", s"slice_$s")(r.layer(s"align.$s")(r.materialize(slice(s, norm.df))))
        .filter(in => checkSlice(r, s, in)).foreach { in =>
        r.fingerprint(s"slice_$s", in)
        if (embedders.isEmpty) items += in.rows
        val toRaw = (id: Long) => if (s == "slide") id / 1000 else id
        embedders.foreach { case (e, clusterers) =>
          val eop = s"embed_${s}_$e"
          r.timed("click", eop)(r.layer(s"embed.$e")(r.materialize(embed(e, in.df)))).foreach { emb =>
            val pts = emb.all.map(x => (x.getAs[Number]("series_id").longValue(),
              x.getAs[Double]("x"), x.getAs[Double]("y")))
            val bad = pts.count(p => p._2.isNaN || p._3.isNaN)
            r.check(eop, pts.length == in.rows && bad == 0, s"rows ${pts.length} of ${in.rows}, $bad NaN")
            r.fingerprint(eop, emb)
            r.quality(s"$eop.nn_agreement") = nnAgreement(pts, s)
            Workloads.hovers(r, eop, hovers, emb, "series_id", rawSeries.df, "series_id", toRaw)
            clusterers.foreach { c =>
              val op = s"cluster_${s}_${e}_$c"
              r.timed("click", op)(cluster(r, c, e, in, emb)).foreach { case (labels, reps, outliers) =>
                if (first.isNaN) first = r.passOpS
                r.check(op, labels.rows == in.rows && reps > 0,
                  s"labels ${labels.rows} of ${in.rows}, $reps representatives")
                r.fingerprint(op, labels)
                score(r, op, s, c, labels, outliers)
                Workloads.hovers(r, op, hovers, labels, "series_id", rawSeries.df, "series_id", toRaw)
              }
            }
            items += in.rows * math.max(1, clusterers.size)
          }
        }
      }
    }
    PassResult(first, items)
  }

  /** One Cluster click: the fit, then the representatives (and, for
    * DBSCAN, the outlier series) the UI renders with it. Returns the
    * labels, the representative count and the outlier series. */
  private def cluster(r: Run, c: String, e: String, in: Out, emb: Out): (Out, Int, Option[Out]) = {
    require(c != "dbscan" || e == "pca", s"DBSCAN eps is tuned for the PCA embedding, not $e")
    def pickK = r.layer("cluster.kmeans")(Clustering.silhouetteScan(emb.df, MaxK).head().getInt(0))
    val labels = c match {
      case "kmeans" =>
        val k = pickK
        r.layer("cluster.kmeans")(r.materialize(
          Clustering.kmeans(emb.df, k).select("series_id", "cluster")))
      case "kshape" =>
        val k = pickK
        r.layer("cluster.kshape")(r.materialize(KShape.fit(in.df, k)))
      case "dbscan" => r.layer("cluster.dbscan")(r.materialize(Dbscan.run(emb.df, Eps, MinPts)))
    }
    r.layer("trace") {
      val reps = TraceBack.centroidRepresentatives(emb.df.join(labels.df, "series_id")).collect()
      val outs = if (c == "dbscan") Some(r.materialize(TraceBack.outlierSeries(labels.df, in.df)))
        else None
      (labels, reps.length, outs)
    }
  }

  private def slice(s: String, norm: DataFrame): DataFrame = s match {
    case "truncate" => SeriesOps.truncate(norm)
    case "pad" => SeriesOps.pad(norm)
    case "dtw" =>
      val longest = norm.withColumn("__n", size(col("values")))
        .orderBy(desc("__n"), asc("series_id"))
        .head().getAs[Seq[Double]]("values").toArray
      val stretch = udf((v: Array[Double]) => Dtw.stretch(v, longest))
      norm.select(col("series_id"), stretch(col("values")).as("values"))
    case "slide" =>
      SeriesOps.slidingWindow(norm, Window, Stride)
        .select((col("series_id") * 1000 + col("win_id")).as("series_id"),
          col("window").as("values"))
  }

  private def embed(e: String, in: DataFrame): DataFrame = e match {
    case "pca" => Embedding.pca2d(in)
    case "ae" => Embedding.aeEmbed(in, "gaf", 8)
    case "umap" => Umap.umap2d(in)
  }

  /** Row count and lengths after a Slice: n rows of the min (truncate)
    * or max (pad, DTW) length, or Σ⌊(n−w)/s⌋+1 windows of width w. */
  private def checkSlice(r: Run, s: String, o: Out): Boolean = {
    val lens = o.all.map(_.getAs[Seq[Double]]("values").length)
    val got = (lens.length.toLong, lens.min, lens.max)
    val n = lengths.length.toLong
    val want = s match {
      case "truncate" => (n, lengths.min, lengths.min)
      case "pad" | "dtw" => (n, lengths.max, lengths.max)
      case "slide" => (lengths.filter(_ >= Window).map(l => (l - Window) / Stride + 1L).sum, Window, Window)
    }
    r.check(s"slice_$s", got == want, s"rows/min/max length $got, want $want")
    got == want
  }

  /** Share of embedded inliers whose nearest other inlier carries the
    * same planted family: a k-free score of the embedding itself. */
  private def nnAgreement(all: Array[(Long, Double, Double)], s: String): Double = {
    // sorted by x; scan outwards from each point until the x gap alone
    // exceeds the best distance found
    val pts = all.filter(p => familyOf(p._1, s) >= 0).sortBy(p => (p._2, p._1))
    var agree = 0
    pts.indices.foreach { i =>
      val (id, x, y) = pts(i)
      var best = Double.MaxValue; var bestId = -1L
      def visit(j: Int): Boolean = {
        val dx = pts(j)._2 - x
        if (dx * dx > best) false
        else {
          val d = dx * dx + (pts(j)._3 - y) * (pts(j)._3 - y)
          if (d < best || (d == best && pts(j)._1 < bestId)) { best = d; bestId = pts(j)._1 }
          true
        }
      }
      var j = i - 1; while (j >= 0 && visit(j)) j -= 1
      j = i + 1; while (j < pts.length && visit(j)) j += 1
      if (bestId >= 0 && familyOf(bestId, s) == familyOf(id, s)) agree += 1
    }
    if (pts.isEmpty) 1.0 else agree.toDouble / pts.length
  }

  /** Planted-truth scores of one cluster click: the adjusted Rand index
    * over the planted inliers, and for DBSCAN the recall of the planted
    * outliers among its noise points. */
  private def score(r: Run, op: String, s: String, c: String, labels: Out,
      outliers: Option[Out]): Unit = {
    val rows = labels.all.map(x => (x.getAs[Number]("series_id").longValue(),
      x.getAs[Number]("cluster").intValue())).sortBy(_._1)
    val inl = rows.filter { case (id, _) => familyOf(id, s) >= 0 }
    r.quality(s"$op.ari") = Stats.ari(inl.map(x => familyOf(x._1, s)), inl.map(_._2))
    if (c == "dbscan") {
      val noise = rows.count(_._2 == -1)
      outliers.foreach(o => r.check(op, o.rows == noise, s"outlier series ${o.rows} vs $noise noise points"))
      val planted = rows.filter { case (id, _) => familyOf(id, s) < 0 }
      r.quality(s"$op.outlier_recall") =
        if (planted.isEmpty) 1.0 else planted.count(_._2 == -1).toDouble / planted.length
    }
  }
}

/** The [EXT] dedup/search tier: MinHash-LSH near-duplicate pairs and
  * their groups, a run of IVF top-k searches, and SemDeDup, over
  * generated documents and vectors. It touches none of the pipeline's
  * modules. */
final class ExtTier extends Workload {
  val name = "llm_dedup_search"
  val render = false
  val Docs = 1500
  val Vectors = 3000
  val Centres = 24
  val Shingle = 3
  val Hashes = 16
  val JaccardMin = 0.5
  val K = 5
  val NList = 16
  val NProbe = 4
  /** The planted queries are searched in this many batches, as a user
    * runs searches one after another over one index. */
  val Searches = 7
  val SemClusters = 16
  val SemEps = 0.99
  val Hovers = 4

  val WarmUpDocs = 200
  val WarmUpVectors = 200

  /** One generated input: its directory, sizes and planted pairs. */
  final case class Data(dir: File, docs: Int, vecRows: Int,
      dupPairs: Array[(Long, Long)], nnPairs: Array[(Long, Long)])
  private var inputs: Data = _

  private def readPairs(f: File): Array[(Long, Long)] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().drop(1).map { l => val a = l.split(','); (a(0).toLong, a(1).toLong) }.toArray
    finally src.close()
  }

  private def generate(seed: Long, docs: Int, vectors: Int, centres: Int, dir: File): Data = {
    Gen.docs(seed, docs, dir)
    val vecRows = Gen.vectors(seed, vectors, centres, dir)
    Data(dir, docs, vecRows, readPairs(new File(dir, "dup_pairs.csv")),
      readPairs(new File(dir, "nn_pairs.csv")))
  }

  def setup(r: Run, seed: Long, dir: File): Unit = {
    inputs = generate(seed, Docs, Vectors, Centres, new File(dir, "ext"))
    val small = generate(seed + 7, WarmUpDocs, WarmUpVectors, 4, new File(dir, "warmup"))
    load(r, small.dir, small.docs, small.vecRows).foreach { case (docs, vecs) =>
      Workloads.hovers(r, "warmup_docs", Hovers, docs, "doc_id", docs.df, "doc_id")
      Workloads.hovers(r, "warmup_vectors", Hovers, vecs, "id", vecs.df, "id")
    }
  }

  def pass(r: Run, pass: Int): PassResult = {
    val copy = new File(inputs.dir.getParentFile, s"pass$pass")
    Workloads.copyDir(inputs.dir, copy)
    script(r, inputs.copy(dir = copy))
  }

  private def load(r: Run, dir: File, nDocs: Int, nVecs: Int): Option[(Out, Out)] =
    r.timed("click", "load") {
      val docs = r.materialize(r.spark.read.option("header", "true")
        .schema("doc_id LONG, text STRING").csv(new File(dir, "docs.csv").getPath))
      val vecSchema = ("id LONG" +: (0 until Gen.Dim).map(d => s"v$d DOUBLE")).mkString(", ")
      val raw = r.spark.read.option("header", "true").schema(vecSchema)
        .csv(new File(dir, "vectors.csv").getPath)
      (docs, r.materialize(raw.select(col("id"),
        array((0 until Gen.Dim).map(d => col(s"v$d")): _*).as("vec"))))
    }.filter { case (docs, vecs) =>
      r.check("load", docs.rows == nDocs && vecs.rows == nVecs, s"rows ${docs.rows}/${vecs.rows}")
      true
    }

  private def pairsOf(o: Out, a: String, b: String): Array[(Long, Long)] =
    o.all.map(x => (x.getAs[Number](a).longValue(), x.getAs[Number](b).longValue()))

  private def script(r: Run, d: Data): PassResult = {
    import d.{dupPairs, nnPairs, vecRows}
    var first = Double.NaN
    val (docs, vecs) = load(r, d.dir, d.docs, vecRows).getOrElse(return PassResult(Double.NaN, 0))

    r.timed("click", "minhash_pairs") {
      r.layer("ext.minhash")(r.materialize(Dedup.minhashLshPairs(docs.df, "doc_id", "text",
        Shingle, Hashes, JaccardMin)))
    }.foreach { pairs =>
      r.fingerprint("minhash_pairs", pairs)
      val found = pairsOf(pairs, "id_a", "id_b").toSet
      r.quality("minhash.pair_recall") = dupPairs.count(p =>
        found((math.min(p._1, p._2), math.max(p._1, p._2)))).toDouble / dupPairs.length
      Workloads.hovers(r, "minhash_pairs", Hovers, pairs, "id_a", docs.df, "doc_id")
      r.timed("click", "dedup_groups") {
        r.layer("ext.minhash")(r.materialize(Dedup.dedupGroups(docs.df, "doc_id", pairs.df)))
      }.foreach { groups =>
        if (first.isNaN) first = r.passOpS
        r.check("dedup_groups", groups.rows == d.docs, s"group rows ${groups.rows}")
        r.fingerprint("dedup_groups", groups)
        val keep = pairsOf(groups, "doc_id", "keep_id").toMap
        r.quality("dedup.group_recall") =
          dupPairs.count(p => keep(p._1) == keep(p._2)).toDouble / dupPairs.length
        Workloads.hovers(r, "dedup_groups", Hovers, groups, "keep_id", docs.df, "doc_id")
      }
    }

    val per = (Gen.NnQueries + Searches - 1) / Searches
    val found = mutable.Set.empty[(Long, Long)]
    (0 until Searches).foreach { b =>
      val (lo, hi) = (b * per + 1, math.min(Gen.NnQueries, (b + 1) * per))
      val op = s"ivf_search$b"
      r.timed("click", op) {
        r.layer("ext.ivf")(r.materialize(Ivf.topK(vecs.df, "id", "vec",
          s"id BETWEEN $lo AND $hi", K, NList, NProbe)))
      }.foreach { o =>
        r.check(op, o.rows == (hi - lo + 1).toLong * K, s"rows ${o.rows}")
        r.fingerprint(op, o)
        found ++= pairsOf(o, "q_id", "n_id")
        Workloads.hovers(r, op, Hovers, o, "n_id", vecs.df, "id")
      }
    }
    r.quality("ivf.recall_at_k") = nnPairs.count(found).toDouble / nnPairs.length

    r.timed("click", "semdedup") {
      r.layer("ext.semdedup")(r.materialize(SemDedup.semDedup(vecs.df, "id", "vec",
        SemClusters, SemEps)))
    }.foreach { o =>
      r.check("semdedup", o.rows == vecRows, s"rows ${o.rows}")
      r.fingerprint("semdedup", o)
      val g = pairsOf(o, "id", "group_id").toMap
      r.quality("semdedup.twin_recall") = nnPairs.count(p => g(p._1) == g(p._2)).toDouble / nnPairs.length
      Workloads.hovers(r, "semdedup", Hovers, o, "keep_id", vecs.df, "id")
    }
    PassResult(first, (d.docs + vecRows).toLong)
  }
}
