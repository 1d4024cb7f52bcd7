package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * Histogram-first exact selection: the scale-safe plan shape for exact
 * rank statistics on LOW-CARDINALITY group keys (round 13; the a24
 * Mann-Whitney trick promoted to a shared primitive).
 *
 * The problem it solves: `rank()/sum() OVER (PARTITION BY grp ORDER BY v)`
 * on a raw corpus sort-shuffles the WHOLE table onto |grp| tasks — with a
 * 3-value key that is three single-task corpus sorts, a straight
 * serialization wall at 100 TB. Likewise Spark's exact `percentile`
 * aggregate buffers every group value in its agg buffer (O(corpus/|grp|)
 * heap per task).
 *
 * The fix that keeps exactness: aggregate to a (group, value) → count
 * histogram FIRST — a hash aggregation on a high-cardinality composite
 * key, fully parallel, with map-side partials — and run the rank window
 * over the HISTOGRAM. Equal values are already merged, so a rows-frame
 * cumulative over distinct values is identical to a range-frame
 * cumulative over the raw rows, and every rank statistic below is a
 * closed form in (value, count, cumulative count). Window input is
 * domain-bounded (distinct values: quantities, money cents, lengths),
 * not corpus-bounded — at 100× the data the histogram stops growing.
 *
 * PERF rule (PERF.md): exact selection never sorts or buffers the corpus
 * keyed on a low-cardinality column.
 */
object HistogramSelect {

  /**
   * (group, value) → count histogram with cumulative annotations.
   * Output columns: groupCol, `_v` (the value, original type), `_c`
   * (rows at this value), `_cum` (rows at ≤ this value), `_prev`
   * (rows at < this value), `_n` (group total). Null values are
   * dropped (the `percentile`/rank-statistic convention).
   */
  def cumHistogram(df: DataFrame, groupCol: String, valCol: Column): DataFrame =
    annotate(
      df.select(col(groupCol), valCol.as("_v"))
        .filter(col("_v").isNotNull)
        .groupBy(col(groupCol), col("_v"))
        .agg(count(lit(1)).as("_c")),
      groupCol)

  /** Adds `_cum`/`_n`/`_prev` to an existing (groupCol, _v, _c) histogram
    * (one distinct value per row) via the two-level parallel cumulative
    * ([[parCumSum]]) — identical long sums, but the per-group sorted pass
    * runs on (group, value-bucket) partitions instead of ≤|group| tasks. */
  def annotate(hist0: DataFrame, groupCol: String): DataFrame =
    parCumSum(hist0, groupCol, "_v", Seq("_c"))
      .withColumnRenamed("_cum_c", "_cum")
      .withColumnRenamed("_tot_c", "_n")
      .withColumn("_prev", col("_cum") - col("_c"))

  /**
   * Two-level PARALLEL per-group cumulative sums over a value-keyed
   * histogram (round 15, guide §2.2/§2.5): `hist` has ONE row per
   * (groupCol, valCol) — the [[cumHistogram]] shape — and for each column
   * in `sumCols` this adds
   *
   *   `_cum<c>` = Σ c over rows of the same group with value ≤ this value
   *   `_tot<c>` = Σ c over the whole group
   *
   * A plain `sum(c) OVER (PARTITION BY group ORDER BY value)` runs ONE
   * task per group — with a 3-value group key that is three serial passes
   * over the histogram at ANY scale, the last structurally serial stage
   * of the rank-statistics family. Two-level form:
   *
   *   1. per-group (min, max) of the value (tiny agg, broadcast);
   *   2. each row gets an EQUI-WIDTH VALUE BUCKET — monotone in the value
   *      by construction, so bucket order refines value order;
   *   3. per-(group, bucket) partial sums (parallel hash-agg), cumulated
   *      ACROSS buckets by a window over the |groups|×|buckets| partial
   *      table (tiny), broadcast back as per-bucket offsets;
   *   4. the ordered cumulative runs WITHIN (group, bucket) partitions —
   *      |groups|×|buckets| concurrent sorted tasks — plus the offset.
   *
   * Buckets = session defaultParallelism (scale-adaptive, never a local
   * constant). Long sums are associative, so the regrouped total is
   * BIT-IDENTICAL to the single-window form; ties cannot reorder because
   * the histogram has one row per (group, value). Null groups and null
   * values keep their window semantics: joins are null-safe and a null
   * value lands in the null bucket, which sorts first like `ORDER BY
   * value` does. Value skew only degrades bucket balance (worst case =
   * the old single-task shape), never correctness.
   */
  /** Single-window reference form of [[parCumSum]] — the shape that wins
    * below the scale gate (one exchange, one sorted pass, ≤|groups|
    * tasks but tiny stage count). */
  private def seqCumSum(hist: DataFrame, groupCol: String,
                        valCol: String, sumCols: Seq[String]): DataFrame = {
    val byVal = Window.partitionBy(col(groupCol)).orderBy(col(valCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy(col(groupCol))
    hist.select(hist.columns.map(col) ++ sumCols.flatMap(c => Seq(
      sum(col(c)).over(byVal).as("_cum" + c),
      sum(col(c)).over(all).as("_tot" + c))): _*)
  }

  /**
   * Scale gate for the two-level form, the [[ScanPar.widen]] posture in
   * reverse: the two-level plan pays ~3 extra stage barriers (range agg →
   * broadcast → bucketed exchange → offset window → broadcast), which at
   * bench scale is pure scheduling latency — MEASURED round 15 at
   * sf0.1/32 cores: a21 3.68→7.98 s, a34 3.66→5.64 s, a38 1.96→3.69 s
   * with the two-level always on; warm QueryProbe showed ~0.2 s of task
   * time under ~1.0 s of wall on 10 sequential 1-task stages. The serial
   * window only matters when the histogram is big, and the histogram can
   * only be big when the SOURCE is big, so: two-level iff the source
   * layout could fill the cores on its own (bytes ≥ parallelism ×
   * maxPartitionBytes — where [[ScanPar.widen]] starts to no-op), or the
   * frame has no file inputs at all (in-memory fixtures: cheap either
   * way, and specs must exercise the parallel path).
   */
  private def useParallelCum(hist: DataFrame): Boolean = {
    val spark = hist.sparkSession
    val p = spark.sparkContext.defaultParallelism
    if (p <= 1) return false
    ScanPar.inputBytes(hist) match {
      case None => true // in-memory fixture: cheap either way; specs cover the parallel path
      case Some(bytes) =>
        bytes >= p.toLong * spark.sessionState.conf.filesMaxPartitionBytes
    }
  }

  private[graft] def parCumSum(hist: DataFrame, groupCol: String,
                               valCol: String, sumCols: Seq[String]): DataFrame = {
    if (!useParallelCum(hist)) return seqCumSum(hist, groupCol, valCol, sumCols)
    val g = col(groupCol)
    val v = col(valCol)
    val buckets = math.max(hist.sparkSession.sparkContext.defaultParallelism, 2)
    // per-group value range — |groups| rows, broadcast
    val rng = hist.groupBy(g.as("_pg")).agg(min(v).as("_vlo"), max(v).as("_vhi"))
    // equi-width bucket, computed in double: the double cast is monotone
    // non-decreasing, so the bucket is too (collisions above 2^53 only
    // merge adjacent values into one bucket — still ordered, still exact).
    // A NULL value must be an explicit NULL bucket — `ORDER BY v` sorts
    // nulls FIRST, and least() would otherwise SKIP the null arithmetic
    // and misfile the row into the last bucket
    val bkt = when(v.isNull, lit(null).cast("int"))
      .when(col("_vhi") <= col("_vlo"), lit(0))
      .otherwise(least(lit(buckets - 1),
        floor((v.cast("double") - col("_vlo").cast("double")) /
          (col("_vhi").cast("double") - col("_vlo").cast("double")) * buckets)
          .cast("int")))
    val hb = hist.join(broadcast(rng), g <=> col("_pg"))
      .withColumn("_bkt", bkt)
      .drop("_pg", "_vlo", "_vhi")
    // per-(group, bucket) partials → exclusive running offsets + totals;
    // the window input is |groups|×|buckets| rows, never histogram-sized
    val partials = sumCols.map(c => sum(col(c)).as("_s" + c))
    val perB = hb.groupBy(g.as("_og"), col("_bkt").as("_ob"))
      .agg(partials.head, partials.tail: _*)
    val wOff = Window.partitionBy(col("_og")).orderBy(col("_ob"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(col("_og"))
    val offs = perB.select(Seq(col("_og"), col("_ob")) ++ sumCols.flatMap(c => Seq(
      coalesce(sum(col("_s" + c)).over(wOff), lit(0L)).as("_off" + c),
      sum(col("_s" + c)).over(wTot).as("_tot" + c))): _*)
    // within-bucket ordered cumulative + the bucket's offset
    val wIn = Window.partitionBy(g, col("_bkt")).orderBy(v)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hb.join(broadcast(offs), g <=> col("_og") && col("_bkt") <=> col("_ob"))
      .select(hist.columns.map(col) ++ sumCols.flatMap(c => Seq(
        (sum(col(c)).over(wIn) + col("_off" + c)).as("_cum" + c),
        col("_tot" + c))): _*)
  }

  /**
   * Exact interpolated percentiles per group, bit-identical to Spark's
   * `percentile(col, p)` aggregate but computed over the cumulative
   * histogram instead of buffering every value: position h = p·(n−1) in
   * double (the exact arithmetic Percentile.getPercentile uses), the
   * values at 1-based ranks ⌊h⌋+1 and min(⌊h⌋+2, n) picked by a
   * conditional aggregate over the histogram's (prev, cum] rank spans,
   * then v_lo + (h−⌊h⌋)·(v_hi−v_lo).
   *
   * Output: (groupCol, <name>…) one column per requested percentile,
   * double. Groups whose values are all null disappear (the histogram
   * drops them) — callers needing those groups must outer-join them back.
   */
  def percentilesByGroup(df: DataFrame, groupCol: String, valCol: Column,
                         ps: Seq[(String, Double)]): DataFrame = {
    val hist = cumHistogram(df, groupCol, valCol)
    percentilesFromHistogram(hist, groupCol, ps)
  }

  /** The selection half of [[percentilesByGroup]], reusable when the
    * caller already built (or derived) the annotated histogram. `extra`
    * aggregates (e.g. `first`/`max` of group-constant carry-through
    * columns) ride the SAME hash-agg and appear after the percentile
    * columns — so multi-stage selections (MAD) never join back to an
    * earlier branch and the histogram is consumed exactly once per stage. */
  def percentilesFromHistogram(hist: DataFrame, groupCol: String,
                               ps: Seq[(String, Double)],
                               extra: Seq[(String, Column)] = Nil): DataFrame = {
    val aggs = ps.flatMap { case (name, p) =>
      val h = lit(p) * (col("_n") - 1).cast("double")
      val loRank = floor(h).cast("long") + 1
      val hiRank = least(loRank + 1, col("_n"))
      Seq(
        max(when(col("_prev") < loRank && loRank <= col("_cum"), col("_v")))
          .as(s"_lo_$name"),
        max(when(col("_prev") < hiRank && hiRank <= col("_cum"), col("_v")))
          .as(s"_hi_$name"),
        // h and ⌊h⌋ are group constants; carry the fraction through the agg
        max(h - floor(h)).as(s"_f_$name"))
    }
    // Spark's Percentile interpolates two-sided: (higher−pos)·lo +
    // (pos−lower)·hi — NOT lo + f·(hi−lo), which differs by an ULP
    // (caught by RangeSelectSpec; the same arithmetic is used here so
    // "bit-identical to percentile()" holds literally)
    val sel = ps.map { case (name, _) =>
      ((lit(1.0) - col(s"_f_$name")) * col(s"_lo_$name").cast("double") +
        col(s"_f_$name") * col(s"_hi_$name").cast("double")).as(name)
    }
    val allAggs = aggs ++ extra.map { case (name, c) => c.as(name) }
    val extraNames = extra.map { case (name, _) => col(name) }
    hist.groupBy(col(groupCol))
      .agg(allAggs.head, allAggs.tail: _*)
      .select((col(groupCol) +: sel) ++ extraNames: _*)
  }

  /** Per-group non-null value count from the same scan shape (used by
    * callers that report n next to the selected statistic). */
  def countsByGroup(df: DataFrame, groupCol: String, valCol: Column): DataFrame =
    df.select(col(groupCol), valCol.as("_v")).filter(col("_v").isNotNull)
      .groupBy(col(groupCol)).agg(count(lit(1)).cast("long").as("n"))
}
