package graft.ml

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions.col

/** The one driver-vs-distributed gate every size-gated kernel shares.
  *
  * A gated kernel has a driver path for inputs under its gate (the
  * reference regime: one point or series per user) and a distributed
  * path above it. The gate reads the input ONCE: a single
  * `limit(...).collect()` of the columns the driver path needs. Under
  * the gate those rows ARE the driver path's input, so the input plan
  * is evaluated once and no second job re-reads it; at or above the
  * gate the collected rows are dropped and the distributed path runs.
  * That costs the distributed path one bounded collect of at most
  * `gate` rows, the largest input the driver path itself accepts.
  *
  * The kernels sort the rows by `series_id` on the driver (see
  * [[localById]]), not with an `orderBy` shuffle: a plain collect
  * returns rows in partition order, and the driver kernels' float sums
  * and seeded inits index into that order.
  *
  * Spark's limited collect scans one partition first and widens only
  * when those rows fall short, so an input whose rows sit in one
  * partition costs exactly one job, and a wider one a job per widening
  * round (each partition is still read once). */
object Gate {

  /** The reference-regime driver gate shared by PCA, MDS, K-Means, the
    * silhouette scan, K-Shape, DBSCAN and the centroid representatives:
    * inputs under 100,000 rows run on the driver. */
  val DriverRows: Long = 100000L

  /** The most rows a gate collects: a JVM array holds at most about
    * `Int.MaxValue - 8` elements, so a larger gate clamps here. */
  private val MaxRows: Long = Int.MaxValue - 9L

  /** The driver path's rows, or None for the distributed path.
    *
    * Some(rows) when `ds` has fewer than `gate` rows (`inclusive`:
    * at most `gate`); None when it has more, or when `gate <= 0`, the
    * callers' switch that forces the distributed path. A gate past
    * what one JVM array holds clamps to it instead of wrapping. */
  def local[T](ds: Dataset[T], gate: Long, inclusive: Boolean = false): Option[Array[T]] =
    if (gate <= 0) None
    else {
      val most = math.min(if (inclusive) gate else gate - 1, MaxRows)
      val rows = ds.limit((most + 1).toInt).collect()
      if (rows.length <= most) Some(rows) else None
    }

  /** [[local]] for the id-keyed kernels: the rows sorted by `id`.
    * None also when an id is null or repeats: those inputs keep the
    * distributed path's semantics (a null key matches no join, a
    * repeated id is one more row), which the driver kernels do not
    * replicate. */
  def localById[T](ds: Dataset[T], gate: Long, inclusive: Boolean = false)(
      id: T => java.lang.Long): Option[Array[T]] =
    local(ds, gate, inclusive).flatMap { rows =>
      if (rows.exists(r => id(r) == null)) None
      else {
        val sorted = rows.sortBy(r => id(r).longValue)
        val repeats = (1 until sorted.length).exists(i =>
          id(sorted(i)).longValue == id(sorted(i - 1)).longValue)
        if (repeats) None else Some(sorted)
      }
    }

  /** [[localById]] over rows whose first column is a BIGINT id. */
  def rowsById(df: DataFrame, gate: Long, inclusive: Boolean = false): Option[Array[Row]] =
    localById(df, gate, inclusive)(r => if (r.isNullAt(0)) null else r.getLong(0))

  /** The (series_id, values) matrix the series kernels (PCA, MDS, UMAP,
    * K-Shape, the conv AE) fit on, sorted by id; `values` may be any
    * array<double> expression over the input. */
  def series(df: DataFrame, gate: Long,
      values: Column = col("values")): Option[Array[(Long, Array[Double])]] = {
    import df.sparkSession.implicits._
    localById(df.select(col("series_id").cast("long"), values)
        .as[(java.lang.Long, Array[Double])], gate)(_._1)
      .map(_.map(r => (r._1.longValue, r._2)))
  }
}
