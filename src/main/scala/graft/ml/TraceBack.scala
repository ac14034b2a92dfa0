package graft.ml

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, DoubleType, IntegerType, LongType, ShortType}

/** A4 + J1/J2 + C6/C7: centroid representatives, trace-back joins and
  * outlier extraction (reference: app.py:1003-1034, 976-988, 925-948).
  *
  * The reference's trace-back is a positional list-index join; here
  * every series carries `series_id` from creation, so trace-back is a
  * broadcast hash equi-join of the (small) embedding/assignment side
  * against the raw series table.
  */
object TraceBack {

  /** A4: per cluster, the centroid (member mean) and the member
    * nearest to it (argmin euclidean; ties → lowest series_id).
    * Noise (−1) is skipped like the reference. Input: (series_id, x,
    * y, cluster). Output: (cluster, rep_id, cx, cy).
    *
    * Under the [[Gate.DriverRows]] gate the members are collected once
    * ([[Gate]]) and reduced on the driver: sums taken in id order, the
    * distributed plan's distance (`sqrt(pow(dx, 2) + pow(dy, 2))`) and
    * its (distance, series_id) tie order, and its output schema, in
    * place of the aggregate, broadcast join and window that cost six
    * jobs per call. The driver's id-order sums can differ from the
    * distributed partial sums in the last bits of `cx`/`cy` (parity
    * pinned in ClusteringSpec). Inputs whose x/y are not doubles or
    * whose cluster is not an integer, and null or repeated ids or null
    * coordinates, take the distributed path. */
  def centroidRepresentatives(assigned: DataFrame): DataFrame = {
    val dist = centroidRepresentativesDistributed(assigned)
    val pts = assigned.filter(col("cluster") =!= -1)
    val driverTypes = pts.schema("x").dataType == DoubleType &&
      pts.schema("y").dataType == DoubleType &&
      Set[DataType](ByteType, ShortType, IntegerType, LongType)(pts.schema("cluster").dataType)
    val gated = if (!driverTypes) None else Gate.rowsById(
        pts.select(col("series_id").cast("long"), col("x"), col("y"),
          col("cluster"), col("series_id")), Gate.DriverRows)
      .filter(_.forall(r => !r.isNullAt(1) && !r.isNullAt(2)))
    gated match {
      case Some(rows) => assigned.sparkSession.createDataFrame(
        java.util.Arrays.asList(representativesLocal(rows): _*), dist.schema)
      case None => dist
    }
  }

  /** The distributed body of [[centroidRepresentatives]]: a per-cluster
    * mean, broadcast back, and a (distance, series_id) window. */
  private[graft] def centroidRepresentativesDistributed(assigned: DataFrame): DataFrame = {
    val pts = assigned.filter(col("cluster") =!= -1)
    val cent = pts.groupBy("cluster")
      .agg(avg(col("x")).as("cx"), avg(col("y")).as("cy"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("dist").asc, col("series_id").asc)
    pts.join(broadcast(cent), "cluster")
      .withColumn("dist",
        sqrt(pow(col("x") - col("cx"), 2) + pow(col("y") - col("cy"), 2)))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster"), col("series_id").as("rep_id"),
        col("cx"), col("cy"))
  }

  /** Rows (id, x, y, cluster, series_id) in id order → one
    * (cluster, rep_id, cx, cy) row per cluster, in order of each
    * cluster's lowest id. Spark's avg is sum / count and its POWER is
    * StrictMath.pow, so the driver uses both. */
  private def representativesLocal(rows: Array[Row]): Seq[Row] = {
    val members = scala.collection.mutable.LinkedHashMap.empty[Any, ArrayBuffer[Row]]
    rows.foreach(r => members.getOrElseUpdate(r.get(3), ArrayBuffer.empty) += r)
    members.valuesIterator.map { ms =>
      var sx = 0.0; var sy = 0.0
      ms.foreach { r => sx += r.getDouble(1); sy += r.getDouble(2) }
      val cx = sx / ms.length; val cy = sy / ms.length
      def dist(r: Row): Double = math.sqrt(
        StrictMath.pow(r.getDouble(1) - cx, 2) + StrictMath.pow(r.getDouble(2) - cy, 2))
      // strict improvement only: members are in id order, so a tie
      // keeps the lowest series_id
      var best = ms.head; var bestD = dist(best)
      ms.foreach { r =>
        val d = dist(r)
        if (java.lang.Double.compare(d, bestD) < 0) { best = r; bestD = d }
      }
      Row(best.get(3), best.get(4), cx, cy)
    }.toSeq
  }

  /** J2/C6: raw series of each cluster representative. */
  def representativeSeries(assigned: DataFrame, series: DataFrame): DataFrame =
    centroidRepresentatives(assigned)
      .join(series.withColumnRenamed("series_id", "rep_id"), "rep_id")

  /** C7/P4: raw series of DBSCAN noise points (cluster == −1). */
  def outlierSeries(assigned: DataFrame, series: DataFrame): DataFrame =
    assigned.filter(col("cluster") === -1)
      .select(col("series_id"))
      .join(series, "series_id")
}
