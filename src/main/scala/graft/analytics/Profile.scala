package graft.analytics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Column profiling — the data-quality survey pass run before committing
  * a corpus to training: per-column row/null/distinct counts and numeric
  * min/max, in long format `(col_name, metric, value)` so downstream
  * checks can diff profiles across snapshots without schema churn.
  *
  * Scale shape: counts/nulls/min/max/quantiles for ALL columns ride ONE
  * aggregation over ONE scan — a single partial+final agg, no driver-side
  * loop over `collect()`. EXACT distinct counts each run as their own
  * narrow column-pruned aggregation joined back onto the base row
  * (round 22 — the shared-agg form rewrote k distincts into an Expand
  * that multiplied every row (k+1)x and shuffled wide null-padded rows;
  * per-column aggs shuffle only each column's distinct values, and under
  * a columnar format the pruned scans together decode the same bytes the
  * one wide scan did). `approxDistinct = true` swaps in HyperLogLog
  * sketches (`approx_count_distinct`) riding the single base agg — no
  * extra scans at all, rsd ~2%. The exact form is the oracle-checked
  * default at test scale; the approx form is the fleet setting.
  *
  * Reference analog: the observability/metrics surface
  * (reference/metrics.go:30-52) — per-stage counters exposed as data.
  */
object Profile {

  val Metrics: Seq[String] = Seq("count", "nulls", "distinct", "min", "max")

  // col("a.b") parses the dot as struct access; backtick-quote so a column
  // NAME containing dots/spaces resolves as one identifier
  private def c(name: String): Column =
    col("`" + name.replace("`", "``") + "`")

  // try_cast, not cast: a string column must quantile to NULL, not throw
  // under ANSI mode — the same contract the min/max path documents
  private def tryDouble(name: String): Column =
    expr("try_cast(`" + name.replace("`", "``") + "` AS DOUBLE)")

  /** One-pass profile. `quantiles` (e.g. `Seq(0.5, 0.95, 0.99)`) adds a
    * `pNN` metric row per column from `approx_percentile` — the same
    * single aggregation, one KLL-class sketch per column riding the scan
    * (no extra pass, no shuffle growth; error is bounded by `accuracy`:
    * rank error ≲ 1/accuracy). Default empty keeps the exact-metric
    * surface byte-stable for the qx10 oracle. This is how an UNKNOWN
    * 100 TB table gets its distribution surveyed: quantiles first, then
    * [[histogram]] with bounds taken from them ([[histogramAuto]] wires
    * the two together).
    *
    * Internal aggregate aliases are positional (`__cnt_0`), never derived
    * from the column NAME — a column named `a.b` or `max price` must not
    * break alias parsing (the public `col_name` output keeps the real
    * name as a literal, which needs no quoting).
    *
    * The exact form (`approxDistinct = false`) EXECUTES `df` k+1 times
    * for k columns: once for the base aggregate and once per column's
    * distinct count. Over a file scan that is k+1 pruned scans; over a
    * computed input the whole upstream chain runs k+1 times, and over a
    * nondeterministic input (`sample`, `rand`-derived columns) the
    * distinct counts see different rows than count/nulls/min/max. Persist
    * such an input before profiling it, or use `approxDistinct = true`
    * (one pass).
    */
  def profile(df: DataFrame, cols: Seq[String],
              approxDistinct: Boolean = false,
              quantiles: Seq[Double] = Nil,
              accuracy: Int = 10000): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    require(quantiles.forall(q => q >= 0.0 && q <= 1.0),
      s"quantiles must be in [0, 1], got $quantiles")
    val aggs = count(lit(1)).cast("double").as("__rows") +: cols.zipWithIndex.flatMap {
      case (n, i) =>
        // min/max keep their native type here; the cast to the long-format
        // double happens below via try_cast so a string column profiles to
        // NULL min/max instead of an ANSI cast error
        Seq(count(c(n)).cast("double").as(s"__cnt_$i"),
          min(c(n)).as(s"__min_$i"),
          max(c(n)).as(s"__max_$i")) ++
          (if (approxDistinct)
            Seq(approx_count_distinct(c(n), rsd = 0.02).cast("double").as(s"__dst_$i"))
           else Nil) ++
          (if (quantiles.isEmpty) Nil
           else Seq(percentile_approx(tryDouble(n),
             array(quantiles.map(lit): _*), lit(accuracy)).as(s"__qtl_$i")))
    }
    val base = df.agg(aggs.head, aggs.tail: _*)
    // EXACT distinct counts run as ONE NARROW AGGREGATION PER COLUMN
    // instead of riding the shared agg (optimization round 22, guide
    // §2.3/§6): k exact distincts in one Aggregate rewrite to an Expand
    // that multiplies every row (k+1)x and shuffles (gid, all k columns,
    // every regular-agg buffer) — measured on qx10 (4 columns over
    // lineitem): 600k rows -> 3M expanded, a 111 MB partial-distinct
    // Exchange, avgHashProbe=128 in the merge agg, ~3 s. Per-column
    // aggregations shuffle each column's DISTINCT VALUES alone (narrow,
    // single-column rows), and under a columnar format the k pruned
    // scans together read the same bytes the one wide scan did (each
    // column decoded exactly once) — 8.5 MB -> ~0.6 MB shuffled here.
    // The 1-row results broadcast-crossjoin back onto the base row (the
    // nbTrain dim convention). The HLL path keeps the one-pass shape:
    // sketches add no Expand and no per-value shuffle.
    val one =
      if (approxDistinct) base
      else cols.zipWithIndex.foldLeft(base) { case (acc, (n, i)) =>
        acc.crossJoin(broadcast(
          df.agg(count_distinct(c(n)).cast("double").as(s"__dst_$i"))))
      }
    // decimal formatting: (0.07 * 100) is 7.000000000000001 in doubles —
    // metric names must come out as "p7", not float garbage
    def pName(q: Double): String =
      "p" + (BigDecimal(q.toString) * 100).bigDecimal.stripTrailingZeros.toPlainString
    val entries = cols.zipWithIndex.flatMap { case (n, i) =>
      Seq(
        struct(lit(n).as("col_name"), lit("count").as("metric"),
          col(s"__cnt_$i").as("value")),
        struct(lit(n).as("col_name"), lit("nulls").as("metric"),
          (col("__rows") - col(s"__cnt_$i")).as("value")),
        struct(lit(n).as("col_name"), lit("distinct").as("metric"),
          col(s"__dst_$i").as("value")),
        struct(lit(n).as("col_name"), lit("min").as("metric"),
          expr(s"try_cast(__min_$i AS DOUBLE)").as("value")),
        struct(lit(n).as("col_name"), lit("max").as("metric"),
          expr(s"try_cast(__max_$i AS DOUBLE)").as("value"))) ++
        quantiles.zipWithIndex.map { case (q, qi) =>
          struct(lit(n).as("col_name"), lit(pName(q)).as("metric"),
            element_at(col(s"__qtl_$i"), qi + 1).as("value"))
        }
    }
    one.select(explode(array(entries: _*)).as("e")).select(col("e.*"))
  }

  /** Equi-width histogram over `[lo, hi)` with `bins` buckets — the
    * distribution half of the profiling surface. One partial+final
    * aggregation over one scan (the groupBy key is a computed bucket id,
    * at most `bins` groups — the shuffle is `bins` rows per map task no
    * matter the data size). Out-of-range values CLAMP into the edge
    * buckets rather than vanish (a silent drop would under-report
    * outliers — the thing a histogram is usually looking for); NULLs and
    * NaNs are excluded (NaN passes `isNotNull` and Spark's greatest/least
    * order it above every double, so without the explicit isnan guard NaN
    * rows would silently clamp into the TOP bucket — a miscount, not an
    * outlier). All arithmetic is IEEE double (division + floor),
    * bit-reproducible in the DuckDB oracle.
    */
  def histogram(df: DataFrame, colName: String,
                lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    require(hi > lo, s"need hi > lo, got [$lo, $hi)")
    val w = (hi - lo) / bins
    val x = c(colName).cast("double")
    val bucket = least(greatest(
      floor((x - lo) / w), lit(0.0)), lit((bins - 1).toDouble))
      .cast("int")
    df.filter(x.isNotNull && !isnan(x))
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Histogram with data-derived bounds — the "profile an unknown table"
    * loop closed: one sketch aggregation picks robust bounds (default
    * p001/p999, clipping the extreme tails that would otherwise stretch
    * every bucket), then the [[histogram]] pass buckets against them.
    * Two scans total, both single-agg; the alternative (exact min/max
    * bounds) is one `profile` call away and degrades badly on heavy
    * tails. Returns (lo, hi, histogram) so callers can label the axes.
    */
  def histogramAuto(df: DataFrame, colName: String, bins: Int,
                    loQuantile: Double = 0.001, hiQuantile: Double = 0.999,
                    accuracy: Int = 10000): (Double, Double, DataFrame) = {
    require(loQuantile < hiQuantile, s"need loQuantile < hiQuantile")
    val x = c(colName).cast("double")
    val row = df.filter(x.isNotNull && !isnan(x))
      .agg(percentile_approx(x, array(lit(loQuantile), lit(hiQuantile)),
        lit(accuracy)).as("b"))
      .select(element_at(col("b"), 1).as("lo"), element_at(col("b"), 2).as("hi"))
      .head()
    require(!row.isNullAt(0) && !row.isNullAt(1),
      s"histogramAuto: no non-NULL/NaN values in $colName")
    val (lo, rawHi) = (row.getDouble(0), row.getDouble(1))
    // equal quantiles (near-constant column): widen so hi > lo holds
    val hi = if (rawHi > lo) rawHi else lo + math.max(math.ulp(lo), 1e-9)
    (lo, hi, histogram(df, colName, lo, hi, bins))
  }
}
