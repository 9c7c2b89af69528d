package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** W3 — peer-group percentile with group-size fallback
  * (SURVEY.md §2.5 W3; ref calfundamentalscore.py:137-203,256-296).
  *
  * Reference semantics, reproduced exactly:
  *  - peer group per ROW: inner partition (industry) if it has >=
  *    `minPeers` members (row count), else outer partition (sector) if >=
  *    `minPeers`, else the whole table (ref get_peer_group, MIN_PEERS=5);
  *  - percentile (higher-is-better) = 100 * (# peers with value strictly
  *    < v) / (# peers with non-null value), self included in the
  *    denominator (ref :137-159);
  *  - lower-is-better inverts to strictly-greater counts;
  *  - fewer than 2 valid peers -> neutral 50.0; NULL value -> NULL;
  *  - "valuation" metrics: value <= 0 scores 0.0 and peers are filtered
  *    to > 0 (ref :196-203, loss-maker rule).
  *
  * Implementation: pure window-rank arithmetic, no self-join and no UDAF.
  * With `rank()` over (partition ORDER BY m ASC NULLS FIRST):
  *   rank - 1 = #rows strictly before = #nulls + #non-null strictly less,
  * so strictLess = rank - 1 - (size - cntNonNull). Strictly-greater uses
  * DESC NULLS FIRST symmetrically. Everything stays inside two shuffles
  * (inner/outer partitioning; each extra metric only adds a sort within
  * the same exchange) plus one single-partition exchange for the global
  * fallback level.
  *
  * Scale note: the global "all" fallback is a single-partition window. It
  * exists to mirror the reference exactly; at 100 TB cluster scale the
  * fallback level should be computed instead from a broadcast global
  * aggregate (see `globalStats` variant) — the fallback population is by
  * construction tiny (only rows whose sector has < minPeers members), so
  * the driver-side cost is bounded.
  */
object PeerPercentile {

  /** Strict-less / strict-greater peer counts via rank arithmetic. */
  private def pct(
      m: Column, w: WindowSpec, size: Column, cntNonNull: Column,
      higherIsBetter: Boolean): Column = {
    val ordered =
      if (higherIsBetter) w.orderBy(m.asc_nulls_first)
      else w.orderBy(m.desc_nulls_first)
    val strictBefore = rank().over(ordered) - 1 - (size - cntNonNull)
    when(m.isNull, lit(null).cast("double"))
      .when(cntNonNull < 2, lit(50.0))
      .otherwise(lit(100.0) * strictBefore.cast("double") / cntNonNull.cast("double"))
  }

  /** Percentile of `metric` with inner->outer->global fallback.
    * `valuation = true` applies the loss-maker rule (peers filtered > 0,
    * value <= 0 scores 0.0) and scores lower-is-better (inverted), which
    * is how the reference treats valuation ratios.
    */
  def percentile(
      metric: Column,
      inner: Seq[Column],
      outer: Seq[Column],
      minPeers: Int = 5,
      higherIsBetter: Boolean = true,
      valuation: Boolean = false,
      includeGlobal: Boolean = true): Column = {
    val m = if (valuation) when(metric > 0, metric) else metric
    val hib = if (valuation) false else higherIsBetter
    val wI = Window.partitionBy(inner: _*)
    val wO = Window.partitionBy(outer: _*)
    def level(w: WindowSpec): Column =
      pct(m, w, count(lit(1)).over(w), count(m).over(w), hib)
    val sizeI = count(lit(1)).over(wI)
    val sizeO = count(lit(1)).over(wO)
    // Null peer-group keys fall through, matching the reference's
    // pd.notna(industry) guards (calfundamentalscore.py:168-176).
    val innerKeysOk = inner.map(_.isNotNull).reduce(_ && _)
    val outerKeysOk = outer.map(_.isNotNull).reduce(_ && _)
    // The global level is a single-partition window; Spark evaluates
    // every window in the plan for every row, so when the caller KNOWS
    // no row falls through to 'all' (see `auto`), dropping it removes
    // the one non-scalable exchange from the plan.
    val globalLevel =
      if (includeGlobal) level(Window.partitionBy())
      else lit(null).cast("double")
    val chosen = when(innerKeysOk && sizeI >= minPeers, level(wI))
      .when(outerKeysOk && sizeO >= minPeers, level(wO))
      .otherwise(globalLevel)
    if (valuation)
      when(metric.isNull, lit(null).cast("double"))
        .when(metric <= 0, lit(0.0))
        .otherwise(chosen)
    else chosen
  }

  /** True if any row would land on the global 'all' fallback — i.e. some
    * row's outer group is smaller than minPeers or has a null outer key.
    * One cheap aggregate, one Spark action; lets callers drop the
    * single-partition global window from the plan when it cannot be
    * reached. Rows with a null outer key group together under that
    * key, so `min(keysOk)` is false exactly for those groups. */
  def needsGlobalLevel(df: org.apache.spark.sql.DataFrame,
      outer: Seq[Column], minPeers: Int = 5): Boolean = {
    val outerKeysOk = outer.map(_.isNotNull).reduce(_ && _)
    !df.groupBy(outer: _*)
      .agg(count(lit(1)).as("n"), min(outerKeysOk).as("keys_ok"))
      .filter(!col("keys_ok") || col("n") < minPeers).isEmpty
  }

  /** Which fallback level a row lands in — the reference logs this
    * distribution as a behavioral fingerprint (SURVEY §5: industry 1567 /
    * sector 69 / all 7). */
  def peerLevel(
      inner: Seq[Column], outer: Seq[Column], minPeers: Int = 5): Column = {
    val sizeI = count(lit(1)).over(Window.partitionBy(inner: _*))
    val sizeO = count(lit(1)).over(Window.partitionBy(outer: _*))
    val innerKeysOk = inner.map(_.isNotNull).reduce(_ && _)
    val outerKeysOk = outer.map(_.isNotNull).reduce(_ && _)
    when(innerKeysOk && sizeI >= minPeers, lit("inner"))
      .when(outerKeysOk && sizeO >= minPeers, lit("outer"))
      .otherwise(lit("all"))
  }
}
