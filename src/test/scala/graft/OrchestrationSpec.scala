package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.pipeline.Orchestration
import graft.serve.Screeners

/** End-to-end: technical CSV -> stock_data -> composite scores ->
  * rankings; fundamental CSV merges onto the same rows; screeners serve
  * from the result. The full reference daily+weekly cycle on files. */
class OrchestrationSpec extends SparkSpec {
  import spark.implicits._

  test("technical + fundamental cycle over a file warehouse") {
    val dir = Files.createTempDirectory("graft_e2e")
    val wh = s"$dir/warehouse"

    // 6 symbols across 2 sectors / 3 industries with enough numeric
    // spread to produce non-trivial scores
    val techCsv = (Seq(
      "Symbol,Sector,Industry,Price,Market capitalization,Analyst Rating," +
        "Relative Strength Index (14) 1 day,Performance % 1 week") ++
      Seq(
        "AAA,Energy,Oil,100,6000000000,Buy,61,2.5",
        "BBB,Energy,Oil,90,5000000000,Hold,55,1.0",
        "CCC,Energy,Oil,80,4000000000,Sell,40,-1.5",
        "DDD,Energy,Gas,70,3000000000,Buy,70,3.0",
        "EEE,Tech,Software,60,2000000000,Strong Buy,65,4.0",
        "FFF,Tech,Software,50,1000000000,Neutral,40,0.5")).mkString("\n")
    Files.writeString(dir.resolve("Technicals_2026-01-01.csv"), techCsv)

    val scored = Orchestration.runTechnical(
      spark, s"$dir/Technicals_*.csv", wh)
    assert(scored.isDefined)
    val rankings = graft.sinks.MergeByKey.readCommitted(spark, s"$wh/stock_rankings")
    assert(rankings.count() == 6)
    assert(rankings.filter($"market_cap_category" === "Large Cap").count() == 6)
    assert(rankings.select($"composite_score").filter($"composite_score" =!= 0.0).count() > 0)

    // weekly fundamentals merge onto the SAME stock_data rows
    // headers containing commas are quoted, as in the real screener export
    val fundaCsv = (Seq(
      "Symbol,Sector,Industry,\"Return on equity %, Trailing 12 months\"," +
        "Price to earnings ratio") ++
      Seq(
        "AAA,Energy,Oil,25,12", "BBB,Energy,Oil,18,18", "CCC,Energy,Oil,9,25",
        "DDD,Energy,Gas,30,8", "EEE,Tech,Software,40,35", "FFF,Tech,Software,5,-4"))
      .mkString("\n")
    Files.writeString(dir.resolve("funda_2026-01-05.csv"), fundaCsv)

    val ranked = Orchestration.runFundamental(spark, s"$dir/funda_*.csv", wh)
    assert(ranked.isDefined)
    val stock = graft.sinks.MergeByKey.readCommitted(spark, s"$wh/stock_data")
    // technical AND fundamental columns coexist on merged rows
    val aaa = stock.filter($"symbol" === "AAA").collect()(0)
    assert(aaa.getAs[Double]("rsi_14_1_day") == 61.0)
    assert(aaa.getAs[Double]("return_on_equity_ttm") == 25.0)

    val finalRankings = graft.sinks.MergeByKey.readCommitted(spark, s"$wh/stock_rankings")
    assert(finalRankings.columns.contains("fundamental_score"))
    assert(finalRankings.filter($"fundamental_rank" >= 1).count() == 6)

    // serving surface over the merged rankings
    val resp = Screeners.respond(spark, "position", finalRankings)
    assert(resp.contains("\"success\":true") && resp.contains("\"count\":6"))
  }

  test("nightly near-dup refresh: first night builds the full map from " +
    "the staged keys, the delta night merges == full recompute, both " +
    "committed through the sink (r17 verdict #8)") {
    import graft.operators.{Dedup, SimilaritySearch}
    val dir = Files.createTempDirectory("graft_refresh")
    val wh = s"$dir/warehouse"
    val stage = s"$dir/stage/night1"
    def vec(seed: Int): Array[Float] = (0 until 8).map { d =>
      val h = scala.util.hashing.MurmurHash3.productHash((seed, d))
      (h % 1000) / 1000.0f
    }.toArray
    // standing: {1,2} are exact twins, 3 stands alone
    val standing = Seq((1L, vec(0)), (2L, vec(0)), (3L, vec(1)))
      .toDF("vec_id", "embedding")
    val night1 = Orchestration.runNearDupRefresh(spark, standing,
      Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
      "vec_id", "embedding", threshold = 0.999, stage, wh,
      baseBits = 128, bands = 16, bitsPerBand = 8)
    assert(night1.rowsSet == Set(Seq(1L, 1L), Seq(2L, 1L)),
      "first night: full build labels the twin cluster, singletons absent")
    // night 2: 4 joins cluster {1,2}; 5 pairs with the singleton 3
    val batch = Seq((4L, vec(0)), (5L, vec(1))).toDF("vec_id", "embedding")
    val night2 = Orchestration.runNearDupRefresh(spark, standing, batch,
      "vec_id", "embedding", threshold = 0.999, stage, wh,
      baseBits = 128, bands = 16, bitsPerBand = 8)
    // merge == full recompute over the grown corpus (the q344 contract,
    // here proven through the committed table, not just the operator)
    val all = standing.unionByName(batch)
    val fullPairs = SimilaritySearch.embeddingNearDupFromKeys(
      SimilaritySearch.bandKeyRows(all, "vec_id", "embedding", 128, 16, 8),
      all, "vec_id", "embedding", 0.999)
    val full = Dedup.connectedComponents(fullPairs, "id_a", "id_b")
    assert(night2.rowsSet == full.rowsSet,
      "delta merge through the sink equals the full rebuild")
    assert(night2.rowsSet == Set(Seq(1L, 1L), Seq(2L, 1L), Seq(4L, 1L),
      Seq(3L, 3L), Seq(5L, 3L)))
    // two sink commits happened: v=0 (night 1) then v=1 (night 2)
    assert(graft.sinks.MergeByKey.committedVersion(spark,
      s"$wh/neardup_components") === Some(1L))
  }

  test("group momentum keyed update writes only score columns") {
    val dir = Files.createTempDirectory("graft_e2e_grp")
    val wh = s"$dir/warehouse"
    val sectors = Seq(
      ("Energy", "10%", "1,000"), ("Tech", "−5%", "500"), ("Pharma", "2.5%", "250"))
      .toDF("sector", "change_pct", "market_cap")
    val scored = Orchestration.runGroupMomentum(spark, sectors, wh,
      "sector_data", "sector")
    assert(scored.columns.contains("normalized_score_3m"))
    val stored = graft.sinks.MergeByKey.readCommitted(spark, s"$wh/sector_data")
    assert(stored.count() == 3)
    assert(stored.filter($"normalized_score_3m".isNotNull).count() == 3)
  }

  test("each flow runs only its commits' writes as Spark actions") {
    // Pinned actions per call, by the API that started them. A commit
    // is one write ("command"); reading a CSV's header is "head" plus
    // "rdd"; runFundamental adds the single needsGlobalLevel aggregate
    // ("isEmpty"). An eager recount slipped into a flow fails here.
    // runFundamental's scheduler jobs are pinned too: under AQE each
    // shuffle exchange and broadcast of the plan is one job, so an extra
    // exchange or an eager job slipped into the flow fails here.
    val dir = Files.createTempDirectory("graft_actions")
    val wh = s"$dir/warehouse"
    val techCsv = (Seq("Symbol,Sector,Industry,Price,Market capitalization," +
      "Relative Strength Index (14) 1 day") ++
      (1 to 12).map(i => s"S$i,Sec${i % 2},Ind${i % 3},${10 * i},${i}000000000,${40 + i}"))
      .mkString("\n")
    Files.writeString(dir.resolve("Technicals_2026-01-01.csv"), techCsv)
    val fundaCsv = (Seq("Symbol,Sector,Industry,Price to earnings ratio") ++
      (1 to 12).map(i => s"S$i,Sec${i % 2},Ind${i % 3},${5 + i}")).mkString("\n")
    Files.writeString(dir.resolve("funda_2026-01-05.csv"), fundaCsv)
    val sectors = Seq(("Sec0", "10%", "1,000"), ("Sec1", "−5%", "500"))
      .toDF("sector", "change_pct", "market_cap")
    def counts(body: => Any): SparkCounts = SparkCounts.of(spark)(body)._2
    val counted = Seq(
      "runTechnical (new stores)" -> counts(
        Orchestration.runTechnical(spark, s"$dir/Technicals_*.csv", wh)),
      "runTechnical (existing stores)" -> counts(
        Orchestration.runTechnical(spark, s"$dir/Technicals_*.csv", wh)),
      "runFundamental" -> counts(
        Orchestration.runFundamental(spark, s"$dir/funda_*.csv", wh)),
      "runGroupMomentum (new store)" -> counts(
        Orchestration.runGroupMomentum(spark, sectors, wh, "sector_data", "sector")),
      "runGroupMomentum (existing store)" -> counts(
        Orchestration.runGroupMomentum(spark, sectors, wh, "sector_data", "sector")))
    val calls = counted.map { case (call, c) => call -> c.actionNames }
    val csvHeader = Seq("head", "rdd")
    val expected = Map(
      "runTechnical (new stores)" -> (csvHeader ++ Seq("command", "command")),
      "runTechnical (existing stores)" -> (csvHeader ++ Seq("command", "command")),
      "runFundamental" -> (csvHeader ++ Seq("command", "isEmpty", "command")),
      "runGroupMomentum (new store)" -> Seq("command"),
      "runGroupMomentum (existing store)" -> Seq("command"))
    val wrong = calls.filter { case (call, names) =>
      names.sorted != expected(call).sorted
    }
    assert(wrong.isEmpty, wrong.map { case (call, names) =>
      s"$call ran ${names.size} actions $names, expected ${expected(call)}"
    }.mkString("; "))
    val fundamentalJobs = counted.toMap.apply("runFundamental").jobs
    assert(fundamentalJobs == 15, s"runFundamental ran $fundamentalJobs jobs")
  }
}
