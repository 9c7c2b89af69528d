package graft

import org.apache.spark.sql.functions._
import graft.pipeline._

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def stockFixture = {
    // industry I1: 3 members (inner z-score); I2/I3/I4: singletons
    // (sector fallback x0.8). Only rsi varies; all other metrics are
    // constant or null -> zero contribution.
    val rows = Seq(
      ("AAA", "S", "I1", 6e9, 10.0), ("BBB", "S", "I1", 5e9, 20.0),
      ("CCC", "S", "I1", 4e9, 30.0), ("DDD", "S", "I2", 3e9, 40.0),
      ("EEE", "S", "I3", 2e9, 50.0), ("FFF", "S", "I4", 1e9, 60.0))
    rows.toDF("symbol", "sector", "industry", "market_capitalization", "rsi_14_1_day")
      .withColumn("price", lit(100.0))
      .withColumn("analyst_rating", lit("Hold"))
      .withColumn("sma_50_1_day", lit(null).cast("double"))
      .withColumn("sma_200_1_day", lit(null).cast("double"))
      .withColumn("bollinger_upper_20_1_day", lit(null).cast("double"))
      .withColumn("bollinger_basis_20_1_day", lit(null).cast("double"))
      .withColumn("bollinger_lower_20_1_day", lit(null).cast("double"))
      .withColumn("macd_12_26_level_1_day", lit(null).cast("double"))
      .withColumn("macd_12_26_signal_1_day", lit(null).cast("double"))
  }

  test("composite pipeline: inner z-score x3.0 for the triple, sector x0.8 for singletons") {
    val out = CompositeScorePipeline(stockFixture)
      .select($"symbol", $"market_cap_category", $"composite_score")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(out.values.forall(_._1 == "Large Cap"))
    assert(out("AAA")._2 == -3.0 && out("BBB")._2 == 0.0 && out("CCC")._2 == 3.0)
    // singletons: sector group = all 6 rsi values, mean 35, std_samp sqrt(350)
    val sd = math.sqrt(350.0)
    def exp(v: Double) = math.rint(3.0 * 0.8 * (v - 35.0) / sd * 100) / 100
    assert(out("DDD")._2 == exp(40.0))
    assert(out("FFF")._2 == exp(60.0))
  }

  test("composite pipeline: null market cap -> null band, zero-only contributions") {
    val df = stockFixture.withColumn("market_capitalization",
      when($"symbol" === "AAA", lit(null).cast("double"))
        .otherwise($"market_capitalization"))
    val out = CompositeScorePipeline(df)
      .select($"symbol", $"market_cap_category").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(out("AAA") == None)
    assert(out("BBB") == Some("Large Cap"))
  }

  test("fundamental pipeline: percentiles, category renormalization, 40/30/20/10 blend") {
    val df = Seq(
      ("A", "S", "I", Some(10.0), Some(5.0)),
      ("B", "S", "I", Some(20.0), Some(10.0)),
      ("C", "S", "I", Some(30.0), Some(15.0)),
      ("D", "S", "I", Some(40.0), Some(-2.0)),
      ("E", "S", "I", Some(50.0), None),
      ("F", "S", "I", None, Some(20.0))
    ).toDF("symbol", "sector", "industry", "return_on_equity_ttm", "pe_ratio")
    val out = FundamentalScorePipeline(df)
      .select($"symbol", $"peer_level", $"quality_score", $"valuation_score",
        $"fundamental_score")
      .collect().map(r => r.getString(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)), r.getDouble(4))).toMap
    assert(out.values.forall(_._1 == "inner"))
    // roe valid n=5 -> strict-less pct: A 0, E 80; F null
    assert(out("A")._2 == Some(0.0) && out("E")._2 == Some(80.0) && out("F")._2 == None)
    // pe positive peers {5,10,15,20} lower-better: A(5)->75, D(-2)->0, E null
    assert(out("A")._3 == Some(75.0) && out("D")._3 == Some(0.0) && out("E")._3 == None)
    // blend: q*0.4 + 50*0.3 + v*0.2 + 50*0.1, rounded to 2dp
    def blend(q: Double, v: Double) =
      math.rint((q * 0.40 + 50.0 * 0.30 + v * 0.20 + 50.0 * 0.10) * 100) / 100
    assert(out("A")._4 == blend(0.0, 75.0))
    assert(out("E")._4 == blend(80.0, 50.0)) // v null -> 50
  }

  test("fundamental pipeline: health caps applied before scoring") {
    val df = Seq(
      ("A", "S", "I", Some(1.0)), ("B", "S", "I", Some(2.0)),
      ("C", "S", "I", Some(3.0)), ("D", "S", "I", Some(5.0)),
      ("E", "S", "I", Some(9.0))
    ).toDF("symbol", "sector", "industry", "current_ratio_quarterly")
    val out = FundamentalScorePipeline(df)
      .select($"symbol", $"health_score").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // capped at 3.0: values 1,2,3,3,3 -> D,E tie with C at pct 40
    assert(out("C") == 40.0 && out("D") == 40.0 && out("E") == 40.0)
    assert(out("A") == 0.0 && out("B") == 20.0)
  }

  test("fundamental pipeline: shuffle count does not grow with the metric count") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // 4 sectors of 6 rows over 8 industries: no row reaches the global
    // level, so it stays out of the plan
    val base = (0 until 24).map(i => (s"S$i", s"sec${i % 4}", s"ind${i % 8}"))
      .toDF("symbol", "sector", "industry")
    def shuffles(ms: Seq[FundamentalScorePipeline.Metric]): Int = {
      val df = ms.zipWithIndex.foldLeft(base) { case (d, (m, j)) =>
        d.withColumn(m.name, (hash($"symbol", lit(j)) % 100).cast("double"))
      }
      FundamentalScorePipeline(df).queryExecution.executedPlan
        .collect { case e: ShuffleExchangeExec => e }.size
    }
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val all = shuffles(FundamentalScorePipeline.all)
      val one = shuffles(FundamentalScorePipeline.all.take(1))
      assert(all == one, s"18 metrics plan $all shuffles, 1 metric plans $one")
      assert(all <= 3, s"$all shuffle exchanges without the global level")
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("fundamental pipeline: no metric column -> peer_level, no percentiles, " +
    "neutral blend") {
    val df = Seq(("A", "S", "I"), ("B", "S", "I"), ("C", "S", "J"),
      ("D", "T", "K")).toDF("symbol", "sector", "industry")
    val out = FundamentalScorePipeline(df, minPeers = 2)
    assert(out.columns.toSeq == Seq("symbol", "sector", "industry", "peer_level",
      "quality_score", "growth_score", "valuation_score", "health_score",
      "fundamental_score"))
    val rows = out.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.map { case (s, r) => s -> r.getAs[String]("peer_level") } ==
      Map("A" -> "inner", "B" -> "inner", "C" -> "outer", "D" -> "all"))
    assert(rows.values.forall(r => (4 to 7).forall(r.isNullAt)))
    assert(rows.values.forall(_.getAs[Double]("fundamental_score") == 50.0))
  }

  test("fundamental ranks within category, null category -> rank 0") {
    val scored = Seq(
      ("A", Some("Large Cap"), 90.0), ("B", Some("Large Cap"), 95.0),
      ("C", Some("Mid Cap"), 50.0), ("D", Option.empty[String], 70.0)
    ).toDF("symbol", "market_cap_category", "fundamental_score")
    val out = FundamentalScorePipeline.withRanks(scored)
      .select($"symbol", $"fundamental_rank").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("A" -> 2L, "B" -> 1L, "C" -> 1L, "D" -> 0L))
  }

  test("group momentum: parse stringly numerics, min-max, weighted blends, NaN poison") {
    val df = Seq(
      ("X", "10%", "−5%"), ("Y", "20%", "0"), ("Z", "1,230%", null)
    ).toDF("sector", "change_pct", "perf_1w")
    val out = GroupMomentumPipeline(df)
      .select($"sector", $"normalized_score_3m").collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    // change: 10,20,1230 -> norm 0, 10/1220, 1; perf_1w: -5,0,null -> 0,1,null
    val yExp = math.rint((10.0 / 1220.0 * 20 + 1.0 * 10) * 10000) / 10000
    assert(out("X") == Some(0.0))
    assert(out("Y") == Some(yExp))
    assert(out("Z") == None) // null perf poisons the blend (pandas NaN semantics)
  }

  test("news batch ingest: premium filtered, headline truncated, unseen URLs only") {
    val scraped = Seq(
      ("u1", "h" * 600, false, Option.empty[Boolean]),
      ("u2", "head2", true, Option.empty[Boolean]),   // premium -> dropped
      ("u3", "head3", false, Option.empty[Boolean])
    ).toDF("article_url", "headline", "is_premium", "is_critical")
    val existing = Seq(Tuple1("u3")).toDF("article_url")
    val out = NewsIngestPipeline.newItems(scraped, existing)
      .select($"article_url", length($"headline"), $"tweet_id", $"is_critical")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getBoolean(3)))
    assert(out.length == 1)
    assert(out(0)._1 == "u1" && out(0)._2 == 500)
    assert(out(0)._3.startsWith("tv_") && out(0)._3.length == 23)
    assert(!out(0)._4)
  }
}
