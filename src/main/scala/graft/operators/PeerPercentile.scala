package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
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
  * DESC NULLS FIRST symmetrically. One private formula (`score`) holds
  * this arithmetic for both forms below.
  *
  * Two forms, one result (bit-identical):
  *  - `percentile` is a Column, for a single metric. Each call brings its
  *    own inner and outer windows, each ordered by its own metric, so a
  *    plan that folds n of them in has about 2n shuffle exchanges: the
  *    stacked Window nodes keep switching between the two partitionings.
  *    Its global level is a single-partition window, and once the plan
  *    has one, every other window runs in that one partition too.
  *  - `percentiles` scores many metrics of a frame in one window pass
  *    per level over long rows, so its plan has at most 3 exchanges plus
  *    the join back, whatever the number of metrics.
  *
  * Scale note: the global "all" fallback exists to mirror the reference
  * exactly; the fallback population is by construction tiny (only rows
  * whose sector has < minPeers members), and `needsGlobalLevel` lets
  * callers drop the level from the plan when no row can reach it.
  */
object PeerPercentile {

  /** One metric of `percentiles`: the values of `column`, scored into
    * `out`. `valuation` implies lower-is-better, as in `percentile`. */
  case class Scored(column: String, out: String,
      higherIsBetter: Boolean = true, valuation: Boolean = false)

  /** A row's view of one peer level: whether the row may use it
    * (`usable`), the level's row count, its non-null count, and the
    * row's `rank()` in scoring order with nulls first. */
  private case class Level(usable: Column, size: Column, cnt: Column, rank: Column)

  /** A keyed level is usable when the row's keys are non-null and the
    * level has minPeers rows; the global level (no keys) always is. */
  private def usable(keys: Seq[Column], size: Column, minPeers: Int): Column =
    keys.map(_.isNotNull).reduceOption(_ && _).fold(lit(true))(_ && size >= minPeers)

  /** The per-row percentile: `m` is the (peer-filtered) value, the first
    * usable level of inner, outer, global scores it, and a loss-maker
    * row scores 0.0. Without a global level a row that falls through
    * scores null. */
  private def score(m: Column, lossMaker: Column, inner: Level, outer: Level,
      global: Option[Level]): Column = {
    def pct(l: Level): Column = {
      val strictBefore = l.rank - 1 - (l.size - l.cnt)
      when(m.isNull, lit(null).cast("double"))
        .when(l.cnt < 2, lit(50.0))
        .otherwise(lit(100.0) * strictBefore.cast("double") / l.cnt.cast("double"))
    }
    when(lossMaker, lit(0.0)).otherwise(
      when(inner.usable, pct(inner))
        .when(outer.usable, pct(outer))
        .otherwise(global.fold(lit(null).cast("double"))(pct)))
  }

  private def levelName(inner: Column, outer: Column): Column =
    when(inner, lit("inner")).when(outer, lit("outer")).otherwise(lit("all"))

  /** Peer filter and direction shared by both forms: a valuation metric
    * keeps only values > 0 as peers and scores lower-is-better. */
  private def peerValue(metric: Column, valuation: Boolean): Column =
    if (valuation) when(metric > 0, metric) else metric

  /** Percentile of `metric` with inner->outer->global fallback.
    * `valuation = true` applies the loss-maker rule (peers filtered > 0,
    * value <= 0 scores 0.0) and scores lower-is-better (inverted), which
    * is how the reference treats valuation ratios.
    * `includeGlobal = false` drops the global level from the plan; use it
    * only when `needsGlobalLevel` says no row reaches it.
    */
  def percentile(
      metric: Column,
      inner: Seq[Column],
      outer: Seq[Column],
      minPeers: Int = 5,
      higherIsBetter: Boolean = true,
      valuation: Boolean = false,
      includeGlobal: Boolean = true): Column = {
    val m = peerValue(metric, valuation)
    val hib = higherIsBetter && !valuation
    // Null peer-group keys fall through, matching the reference's
    // pd.notna(industry) guards (calfundamentalscore.py:168-176).
    def level(keys: Seq[Column]): Level = {
      val w = Window.partitionBy(keys: _*)
      val size = count(lit(1)).over(w)
      val ordered = w.orderBy(if (hib) m.asc_nulls_first else m.desc_nulls_first)
      Level(usable(keys, size, minPeers), size, count(m).over(w), rank().over(ordered))
    }
    score(m, if (valuation) metric <= 0 else lit(false),
      level(inner), level(outer),
      if (includeGlobal) Some(level(Nil)) else None)
  }

  /** Percentiles of several metrics of `df`, each exactly as `percentile`
    * computes it, added as `Scored.out` columns, then the row's fallback
    * level as `levelCol`, named as `peerLevel` names it. Metrics are
    * scored as doubles.
    *
    * `key` must be unique and non-null: the scores are pivoted back by
    * `groupBy(key)` and left-joined onto `df` on it.
    *
    * Plan: the metrics are unpivoted into long rows
    * (key, level keys, k, a, b, loss-maker flag) — `a` holds a
    * higher-is-better value, `b` a lower-is-better one (valuation values
    * only when > 0), the other is null — and each level runs
    * ONE window partitioned by (k, level keys), ordered
    * `a ASC NULLS FIRST, b DESC NULLS FIRST`, for the row count, the
    * non-null count and `rank()`. That order is each metric's own
    * scoring order. Then one `groupBy(key)` pivots the scores back.
    * With AQE off the plan has, whatever the number of metrics, 3 shuffle
    * exchanges without the global level (inner, outer, pivot) and 2 with
    * it: the global window partitions by `k` alone, which also serves
    * the inner and outer windows, so all levels then run in at most as
    * many tasks as there are metrics.
    */
  def percentiles(
      df: DataFrame,
      key: String,
      metrics: Seq[Scored],
      inner: Seq[String],
      outer: Seq[String],
      minPeers: Int = 5,
      includeGlobal: Boolean = true,
      levelCol: String = "peer_level"): DataFrame =
    if (metrics.isEmpty)
      df.withColumn(levelCol, peerLevel(inner.map(col), outer.map(col), minPeers))
    else {
      val (pk, k, a, b, lm, pct, lvl) =
        ("__pp_key", "__pp_k", "__pp_a", "__pp_b", "__pp_lm", "__pp_pct", "__pp_lvl")
      val noValue = lit(null).cast("double")
      val rows = metrics.zipWithIndex.map { case (s, i) =>
        val v = col(s.column).cast("double")
        val peer = peerValue(v, s.valuation)
        val hib = s.higherIsBetter && !s.valuation
        struct(lit(i).as(k),
          (if (hib) peer else noValue).as(a),
          (if (hib) noValue else peer).as(b),
          (if (s.valuation) v <= 0 else lit(false)).as(lm))
      }
      val levelKeys = (inner ++ outer).distinct
      val long = df.select(
        (col(key).as(pk) +: levelKeys.map(col) :+ inline(array(rows: _*))): _*)
      val m = coalesce(col(a), col(b))
      def level(keys: Seq[String]): Level = {
        val w = Window.partitionBy((col(k) +: keys.map(col)): _*)
          .orderBy(col(a).asc_nulls_first, col(b).desc_nulls_first)
        // the counts take the rank's partitioning and order with a whole-
        // partition frame, so each level is a single Window operator
        val whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        val size = count(lit(1)).over(whole)
        Level(usable(keys.map(col), size, minPeers), size, count(m).over(whole),
          rank().over(w))
      }
      val (li, lo) = (level(inner), level(outer))
      val scored = long.select(col(pk), col(k),
        score(m, col(lm), li, lo, if (includeGlobal) Some(level(Nil)) else None).as(pct),
        levelName(li.usable, lo.usable).as(lvl))
      val pivots = metrics.indices.map(i =>
        max(when(col(k) === i, col(pct))).as(metrics(i).out)) :+
        max(col(lvl)).as(levelCol)
      val wide = scored.groupBy(pk).agg(pivots.head, pivots.tail: _*)
      val base = df.drop(metrics.map(_.out) :+ levelCol: _*)
      base.join(wide, base(key) === wide(pk), "left").drop(pk)
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
    def ok(keys: Seq[Column]) =
      usable(keys, count(lit(1)).over(Window.partitionBy(keys: _*)), minPeers)
    levelName(ok(inner), ok(outer))
  }
}
