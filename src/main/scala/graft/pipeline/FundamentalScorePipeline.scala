package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Cleanse
import graft.operators.{PeerPercentile, RankOps, WeightedScore}

/** The reference's weekly fundamental scoring pipeline
  * (ref calfundamentalscore.py): peer-percentile each metric with
  * industry→sector→all fallback, roll up into four category scores with
  * weight renormalization, blend 40/30/20/10, rank within market-cap
  * category.
  *
  * The reference's per-row `iterrows` percentile loop (one pandas scan of
  * the peer frame per stock×metric, O(n²·m)) becomes one window pass per
  * peer level over all metrics at once (`PeerPercentile.percentiles`):
  * with AQE off the plan has 3 shuffle exchanges (industry, sector, the
  * pivot back by symbol; 2 when the global level is needed) whatever the
  * number of metrics, where folding in 18 `percentile` columns planned 36
  * (1 with the global level, which put every window in one partition).
  */
object FundamentalScorePipeline {

  case class Metric(name: String, weight: Double, higherIsBetter: Boolean,
      cap: Option[Double] = None, valuation: Boolean = false)

  /** calfundamentalscore.py:57-88. */
  val quality: Seq[Metric] = Seq(
    Metric("return_on_equity_ttm", 0.12, higherIsBetter = true),
    Metric("return_on_invested_capital_ttm", 0.10, higherIsBetter = true),
    Metric("operating_margin_ttm", 0.08, higherIsBetter = true),
    Metric("net_margin_ttm", 0.06, higherIsBetter = true),
    Metric("gross_margin_annual", 0.04, higherIsBetter = true))
  val growth: Seq[Metric] = Seq(
    Metric("eps_diluted_growth_ttm_yoy", 0.10, higherIsBetter = true),
    Metric("revenue_growth_annual_yoy", 0.08, higherIsBetter = true),
    Metric("eps_diluted_growth_annual_yoy", 0.06, higherIsBetter = true),
    Metric("net_income_growth_annual_yoy", 0.06, higherIsBetter = true))
  val valuation: Seq[Metric] = Seq(
    Metric("pe_ratio", 0.07, higherIsBetter = false, valuation = true),
    Metric("price_to_earnings_growth_ttm", 0.05, higherIsBetter = false, valuation = true),
    Metric("enterprise_value_to_ebitda_ttm", 0.04, higherIsBetter = false, valuation = true),
    Metric("price_to_book_ratio", 0.02, higherIsBetter = false, valuation = true),
    Metric("price_to_sales_ratio", 0.02, higherIsBetter = false, valuation = true))
  val health: Seq[Metric] = Seq(
    Metric("current_ratio_quarterly", 0.03, higherIsBetter = true, cap = Some(3.0)),
    Metric("debt_to_equity_ratio_quarterly", 0.03, higherIsBetter = false),
    Metric("quick_ratio_quarterly", 0.02, higherIsBetter = true, cap = Some(2.0)),
    Metric("ebitda_interest_coverage_ttm", 0.02, higherIsBetter = true, cap = Some(10.0)))

  val all: Seq[Metric] = quality ++ growth ++ valuation ++ health

  private def pctCol(m: Metric): String = s"${m.name}_percentile"

  def apply(df: DataFrame, minPeers: Int = 5): DataFrame = {
    val present = all.filter(m => df.columns.contains(m.name))

    // 1. caps (ref apply_caps :183-193)
    val capped = present.filter(_.cap.isDefined).foldLeft(df) { (d, m) =>
      d.withColumn(m.name, Cleanse.capAt(col(m.name), m.cap.get))
    }

    // 2. per-metric percentile, rounded to 2dp like the reference
    // (ref calculate_percentile :159). Inverted metrics: for valuation
    // the loss-maker rule also applies; plain lower-is-better metrics
    // (debt_to_equity) invert without peer filtering. The global 'all'
    // level enters the plan only if some row can actually reach it.
    // `symbol`, the merge key of stock_data, is the unique key the
    // scores pivot back on.
    val g = PeerPercentile.needsGlobalLevel(capped, Seq(col("sector")), minPeers)
    val withLevel = PeerPercentile.percentiles(capped, "symbol",
      present.map(m => PeerPercentile.Scored(m.name, pctCol(m),
        m.higherIsBetter, m.valuation)),
      inner = Seq("industry"), outer = Seq("sector"), minPeers = minPeers,
      includeGlobal = g)
      .withColumns(present.map(m => pctCol(m) -> round(col(pctCol(m)), 2)).toMap)

    // 3. category scores: weight-renormalized average of the available
    // percentiles, 2dp (ref calculate_category_score :206-228)
    def cat(ms: Seq[Metric]): Column = {
      val presentMs = ms.filter(m => withLevel.columns.contains(pctCol(m)))
      if (presentMs.isEmpty) lit(null).cast("double")
      else round(WeightedScore.renormalizedWeightedAvg(
        presentMs.map(m => col(pctCol(m)) -> m.weight)), 2)
    }
    val withCats = withLevel
      .withColumn("quality_score", cat(quality))
      .withColumn("growth_score", cat(growth))
      .withColumn("valuation_score", cat(valuation))
      .withColumn("health_score", cat(health))

    // 4. blend 40/30/20/10 with neutral-50 for missing categories
    // (ref :305-316)
    withCats.withColumn("fundamental_score", round(
      coalesce(col("quality_score"), lit(50.0)) * 0.40 +
        coalesce(col("growth_score"), lit(50.0)) * 0.30 +
        coalesce(col("valuation_score"), lit(50.0)) * 0.20 +
        coalesce(col("health_score"), lit(50.0)) * 0.10, 2))
  }

  /** 5. rank within market-cap category (ref :339-346); rows with a NULL
    * category keep the reference's initialized rank 0. */
  def withRanks(scored: DataFrame): DataFrame =
    scored.withColumn("fundamental_rank",
      when(col("market_cap_category").isNull, lit(0L))
        .otherwise(RankOps.rankInGroup(col("fundamental_score"), col("symbol"),
          col("market_cap_category")).cast("long")))
}
