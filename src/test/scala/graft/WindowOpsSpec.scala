package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Semantics fixtures for W1-W5 per FIXTURES.md §7 edge cases. */
class WindowOpsSpec extends SparkSpec {
  import spark.implicits._

  // (id, cap, sector, industry, metric)
  private def zFixture = Seq(
    // industry i1 has 3 members -> inner z-score, weight 1.0
    (1L, "L", "s1", "i1", 10.0),
    (2L, "L", "s1", "i1", 20.0),
    (3L, "L", "s1", "i1", 30.0),
    // industry i2 has 1 member -> falls to sector, weight 0.8
    (4L, "L", "s1", "i2", 40.0),
    // sector s2: industry i3 with 2 members but only 2 non-null peers
    // (< minPeers=3) -> contribution 0
    (5L, "L", "s2", "i3", 5.0),
    (6L, "L", "s2", "i3", 7.0),
    // sector s3: constant metric -> std 0 -> contribution 0
    (7L, "L", "s3", "i4", 1.0),
    (8L, "L", "s3", "i4", 1.0),
    (9L, "L", "s3", "i4", 1.0)
  ).toDF("id", "cap", "sector", "industry", "m")

  test("hierarchical z-score: inner group, sample std, weight 1.0") {
    val out = HierarchicalZScore(zFixture, Seq("m" -> 1.0),
      inner = Seq("cap", "sector", "industry"), outer = Seq("cap", "sector"))
      .select($"id", $"composite_score").as[(Long, Double)].collect().toMap
    // i1: mean 20, stddev_samp 10 -> z = -1, 0, 1
    assert(out(1L) == -1.0 && out(2L) == 0.0 && out(3L) == 1.0)
  }

  test("hierarchical z-score: singleton industry falls back to sector x0.8") {
    val out = HierarchicalZScore(zFixture, Seq("m" -> 1.0),
      inner = Seq("cap", "sector", "industry"), outer = Seq("cap", "sector"))
      .select($"id", $"composite_score").as[(Long, Double)].collect().toMap
    // id 4: sector s1 group {10,20,30,40}: mean 25, std_samp = 12.909944...
    val exp = 0.8 * (40.0 - 25.0) / 12.909944487358056
    assert(math.abs(out(4L) - math.rint(exp * 100) / 100) < 1e-9)
  }

  test("hierarchical z-score: <3 peers and zero-std groups contribute 0") {
    val out = HierarchicalZScore(zFixture, Seq("m" -> 1.0),
      inner = Seq("cap", "sector", "industry"), outer = Seq("cap", "sector"))
      .select($"id", $"composite_score").as[(Long, Double)].collect().toMap
    assert(out(5L) == 0.0 && out(6L) == 0.0)
    assert(out(7L) == 0.0 && out(8L) == 0.0 && out(9L) == 0.0)
  }

  test("hierarchical z-score: NULL metric contributes 0") {
    val df = Seq(
      (1L, "s", "i", Some(1.0)), (2L, "s", "i", Some(2.0)),
      (3L, "s", "i", Some(3.0)), (4L, "s", "i", None)
    ).toDF("id", "sector", "industry", "m")
    val out = HierarchicalZScore(df, Seq("m" -> 1.0),
      inner = Seq("sector", "industry"), outer = Seq("sector"))
      .select($"id", $"composite_score").as[(Long, Double)].collect().toMap
    assert(out(4L) == 0.0)
  }

  // percentile fixture: group sizes straddle minPeers=5
  private def pctFixture = Seq(
    // nation n1 in segment A: 5 members -> inner level
    (1L, "A", 1, Some(10.0)), (2L, "A", 1, Some(20.0)), (3L, "A", 1, Some(20.0)),
    (4L, "A", 1, Some(30.0)), (5L, "A", 1, None),
    // nation n2 in segment A: 2 members -> outer (segment A has 7 rows)
    (6L, "A", 2, Some(-5.0)), (7L, "A", 2, Some(50.0)),
    // segment B: 3 rows total -> all-level fallback
    (8L, "B", 3, Some(1.0)), (9L, "B", 3, Some(2.0)), (10L, "B", 4, Some(3.0))
  ).toDF("id", "seg", "nat", "v")

  test("hierarchical z-score: money-magnitude groups don't overflow the decimal accumulators") {
    // Σx² ≈ 3,500 × (1.4e6)² ≈ 6.9e15 — above the ~1e14 cap of a
    // DECIMAL(18,4) accumulator (the round-2 regression: ANSI
    // NUMERIC_VALUE_OUT_OF_RANGE at sf0.01; silent all-zero scores with
    // ANSI off). Values are exact multiples of 0.25 so both the 2dp
    // decimals and the doubles are exact, and the expected z-scores can
    // be recomputed locally with the identical formula.
    val n = 3500
    val vals = (1 to n).map(i => 1000000.0 + i * 137.25)
    val df = vals.zipWithIndex.map { case (v, i) => (i.toLong, "L", "s1", "i1", v) }
      .toDF("id", "cap", "sector", "industry", "m")
    val out = HierarchicalZScore(df, Seq("m" -> 1.0),
      inner = Seq("cap", "sector", "industry"), outer = Seq("cap", "sector"))
      .select($"id", $"composite_score").as[(Long, Double)].collect().toMap
    assert(out.size == n)
    // local exact mirror: decimal Σx/Σx², varnum = n·Σx² − (Σx)², one
    // double formula, HALF_UP 2dp round — same as the operator
    val sx = vals.map(v => BigDecimal(v).setScale(2)).sum
    val sxx = vals.map { v => val d = BigDecimal(v).setScale(2); d * d }.sum
    val varnum = BigDecimal(n) * sxx - sx * sx
    assert(varnum > 0, "variance numerator must be positive (not overflowed/nulled)")
    val cntD = n.toDouble
    val mu = sx.toDouble / cntD
    val sd = math.sqrt(varnum.toDouble / (cntD * (cntD - 1.0)))
    vals.zipWithIndex.foreach { case (v, i) =>
      val exp = new java.math.BigDecimal((v - mu) / sd)
        .setScale(2, java.math.RoundingMode.HALF_UP).doubleValue
      assert(math.abs(out(i.toLong) - exp) < 1e-12,
        s"id=$i spark=${out(i.toLong)} expected=$exp")
    }
    assert(out.values.exists(_ != 0.0), "z-scores must not be silently zeroed")
  }

  test("peer percentile: strict-less with ties, nulls excluded from denominator") {
    val out = pctFixture.select($"id",
      PeerPercentile.percentile($"v", Seq($"seg", $"nat"), Seq($"seg")).as("p"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    // group (A,1): size 5 -> inner. valid = {10,20,20,30}, n=4
    assert(out(1L) == Some(0.0))          // 0 strictly below
    assert(out(2L) == Some(25.0))         // only 10 below (strict: ties not counted)
    assert(out(3L) == Some(25.0))
    assert(out(4L) == Some(75.0))
    assert(out(5L) == None)               // null value -> null
  }

  test("peer percentile: group-size fallback inner->outer->all") {
    val lvl = pctFixture.select($"id",
      PeerPercentile.peerLevel(Seq($"seg", $"nat"), Seq($"seg")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(lvl(1L) == "inner")
    assert(lvl(6L) == "outer") // nation group of 2 < 5, segment A = 7 rows
    assert(lvl(8L) == "all")   // segment B = 3 rows < 5
    // id 6 (-5.0) against segment A valid {10,20,20,30,-5,50}: 0 below -> 0%
    val out = pctFixture.select($"id",
      PeerPercentile.percentile($"v", Seq($"seg", $"nat"), Seq($"seg")).as("p"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(6L) == Some(0.0))
    assert(out(7L) == Some(100.0 * 5 / 6))
  }

  test("needsGlobalLevel: null outer key, small outer group, or neither — " +
    "in one Spark action") {
    def df(rows: (String, String)*) = rows.toDF("seg", "nat")
    val big = Seq.fill(5)(("A", "x")) ++ Seq.fill(6)(("B", "y"))
    val cases = Seq(
      "every outer group has minPeers rows" -> (df(big: _*), false),
      "a null outer key" -> (df(big :+ ((null: String), "x"): _*), true),
      "an outer group below minPeers" -> (df(big ++ Seq.fill(4)(("C", "z")): _*), true),
      "no rows" -> (df(), false))
    cases.foreach { case (what, (frame, expected)) =>
      val (got, counts) = SparkCounts.of(spark)(
        PeerPercentile.needsGlobalLevel(frame, Seq($"seg")))
      assert(got == expected, what)
      assert(counts.actions == 1, s"$what: ${counts.actionNames}")
    }
    // several outer keys: a null in any one of them falls through
    val two = (Seq.fill(5)(("A", "x")) :+ (("A", null: String))).toDF("seg", "nat")
    assert(PeerPercentile.needsGlobalLevel(two, Seq($"seg", $"nat"), minPeers = 1))
    assert(!PeerPercentile.needsGlobalLevel(two.na.drop(), Seq($"seg", $"nat")))
  }

  test("peer percentile: valuation rule (<=0 scores 0, peers filtered positive, inverted)") {
    val df = Seq(
      (1L, "g", Some(10.0)), (2L, "g", Some(20.0)), (3L, "g", Some(-3.0)),
      (4L, "g", Some(40.0)), (5L, "g", None), (6L, "g", Some(0.0))
    ).toDF("id", "seg", "v")
    val out = df.select($"id",
      PeerPercentile.percentile($"v", Seq($"seg"), Seq($"seg"),
        valuation = true).as("p"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(3L) == Some(0.0) && out(6L) == Some(0.0)) // loss-makers
    assert(out(5L) == None)
    // positive peers {10,20,40}; lower-is-better: 10 beats 2 -> 2/3
    assert(out(1L) == Some(100.0 * 2 / 3))
    assert(out(2L) == Some(100.0 * 1 / 3))
    assert(out(4L) == Some(0.0))
  }

  test("peer percentile: fewer than 2 valid peers -> neutral 50") {
    val df = Seq(
      (1L, "g", 1, Some(10.0)), (2L, "g", 1, None), (3L, "g", 1, None),
      (4L, "g", 1, None), (5L, "g", 1, None)
    ).toDF("id", "seg", "nat", "v")
    val out = df.select($"id",
      PeerPercentile.percentile($"v", Seq($"seg", $"nat"), Seq($"seg")).as("p"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) == Some(50.0))
  }

  test("peer percentiles: the long-format pass equals per-metric percentile " +
    "columns bit for bit, with and without the global level") {
    val n = Option.empty[Double]
    // (sym, sector, industry, roe hib, pe valuation, de lower-is-better, thin hib)
    val df = Seq(
      // S1/I1: 6 rows -> inner; ties and nulls; pe <= 0; thin has 1 valid peer
      ("s01", Some("S1"), Some("I1"), Some(10.0), Some(12.0), Some(1.0), Some(5.0)),
      ("s02", Some("S1"), Some("I1"), Some(20.0), Some(-3.0), Some(2.0), n),
      ("s03", Some("S1"), Some("I1"), Some(20.0), Some(0.0), Some(2.0), n),
      ("s04", Some("S1"), Some("I1"), n, Some(8.0), n, n),
      ("s05", Some("S1"), Some("I1"), Some(30.0), Some(8.0), Some(0.5), n),
      ("s06", Some("S1"), Some("I1"), Some(15.0), n, Some(3.0), n),
      // singleton industries and a null industry fall back to sector S1
      ("s07", Some("S1"), Some("I2"), Some(25.0), Some(20.0), Some(1.5), Some(7.0)),
      ("s08", Some("S1"), Some("I3"), Some(-5.0), Some(4.0), Some(0.1), n),
      ("s09", Some("S1"), Option.empty[String], Some(12.0), Some(-1.0), Some(1.0), Some(9.0)),
      // sector S2 has 4 rows -> global level
      ("s10", Some("S2"), Some("I4"), Some(1.0), Some(3.0), Some(4.0), n),
      ("s11", Some("S2"), Some("I4"), Some(1.0), Some(3.0), n, Some(1.0)),
      ("s12", Some("S2"), Some("I5"), n, n, Some(0.2), n),
      ("s13", Some("S2"), Some("I5"), Some(40.0), Some(50.0), Some(2.0), Some(2.0)),
      // a null sector key reaches the global level too
      ("s14", Option.empty[String], Some("I6"), Some(18.0), Some(0.5), Some(0.7), n),
      ("s15", Option.empty[String], Option.empty[String], Some(22.0), Some(7.0), n, Some(3.0))
    ).toDF("sym", "sec", "ind", "roe", "pe", "de", "thin")
    val metrics = Seq(
      PeerPercentile.Scored("roe", "roe_p"),
      PeerPercentile.Scored("pe", "pe_p", higherIsBetter = false, valuation = true),
      PeerPercentile.Scored("de", "de_p", higherIsBetter = false),
      PeerPercentile.Scored("thin", "thin_p"))
    val outs = metrics.map(_.out) :+ "lvl"
    def bits(d: org.apache.spark.sql.DataFrame): Map[String, Seq[Any]] =
      d.select(("sym" +: outs).map(col): _*).collect().map { r =>
        r.getString(0) -> (1 until r.length).map(i => r.get(i) match {
          case x: Double => java.lang.Double.doubleToRawLongBits(x)
          case x => x
        })
      }.toMap
    Seq(true, false).foreach { g =>
      val frame = PeerPercentile.percentiles(df, "sym", metrics,
        inner = Seq("ind"), outer = Seq("sec"), includeGlobal = g,
        levelCol = "lvl")
      val cols = df.select($"*" +: metrics.map(m =>
        PeerPercentile.percentile(col(m.column), Seq($"ind"), Seq($"sec"),
          higherIsBetter = m.higherIsBetter, valuation = m.valuation,
          includeGlobal = g).as(m.out)) :+
        PeerPercentile.peerLevel(Seq($"ind"), Seq($"sec")).as("lvl"): _*)
      assert(frame.columns.toSeq == df.columns.toSeq ++ outs)
      assert(bits(frame) == bits(cols), s"includeGlobal=$g")
      // the fixture reaches every rule it is meant to cover
      val out = frame.collect().map(r => r.getAs[String]("sym") -> r).toMap
      def p(s: String, c: String) = Option(out(s).getAs[Any](c))
      assert(p("s01", "thin_p") == Some(50.0), "fewer than 2 valid peers")
      assert(p("s02", "pe_p") == Some(0.0) && p("s03", "pe_p") == Some(0.0))
      assert(p("s02", "roe_p") == p("s03", "roe_p"), "ties share a score")
      assert(p("s04", "roe_p") == None)
      assert(Seq("s07", "s08", "s09").forall(s => p(s, "lvl") == Some("outer")))
      assert(Seq("s10", "s14", "s15").forall(s => p(s, "lvl") == Some("all")))
      assert(p("s15", "roe_p").isDefined == g)
    }
  }

  test("bandByRank: thresholds, null value -> null band, deterministic ties") {
    val df = (1L to 600L).map(i => (i, Some(1000.0 - (i - 1)))).toDF("id", "v")
      .union(Seq((601L, Option.empty[Double])).toDF("id", "v"))
    val out = RankOps.bandByRank(df, $"v", $"id",
      Seq(100L -> "Large", 250L -> "Mid", 500L -> "Small"), "Micro")
      .select($"id", $"band").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(100L) == "Large" && out(101L) == "Mid")
    assert(out(250L) == "Mid" && out(251L) == "Small")
    assert(out(500L) == "Small" && out(501L) == "Micro")
    assert(out(601L) == null)
  }

  test("bandByRankScalable matches window-based banding") {
    val df = (1L to 300L).map(i => (i, Some((i * 37 % 101).toDouble))).toDF("id", "v")
    val a = RankOps.bandByRank(df, $"v", $"id",
      Seq(50L -> "A", 150L -> "B"), "C").select($"id", $"band").rowsSet
    val b = RankOps.bandByRankScalable(df, "v", "id",
      Seq(50L -> "A", 150L -> "B"), "C").select($"id", $"band").rowsSet
    assert(a == b)
  }

  test("minMaxNorm: constant group -> 1.0, null passes through") {
    val df = Seq(("g1", Some(10.0)), ("g1", Some(30.0)), ("g1", None),
      ("g2", Some(7.0)), ("g2", Some(7.0))).toDF("g", "v")
    val out = df.select($"g", $"v",
      RankOps.minMaxNorm($"v", $"g").as("n")).collect()
      .map(r => (r.getString(0), Option(r.get(1)), Option(r.get(2))))
    assert(out.contains(("g1", Some(10.0), Some(0.0))))
    assert(out.contains(("g1", Some(30.0), Some(1.0))))
    assert(out.contains(("g1", None, None)))
    assert(out.contains(("g2", Some(7.0), Some(1.0))))
  }

  test("rankInGroup and topK determinism under ties") {
    val df = Seq((1L, "g", 5.0), (2L, "g", 5.0), (3L, "g", 9.0)).toDF("id", "g", "v")
    val ranks = df.select($"id",
      RankOps.rankInGroup($"v", $"id", $"g").as("r")).rowsSet
    assert(ranks == Set(Seq(3L, 1), Seq(1L, 2), Seq(2L, 3)))
    val top = RankOps.topK(df, 2, $"v", $"id").select($"id").rowsSet
    assert(top == Set(Seq(3L), Seq(1L)))
  }

  test("weighted scores: renormalization on missing metrics") {
    val df = Seq((1L, Some(10.0), Some(20.0)), (2L, Some(10.0), None),
      (3L, Option.empty[Double], Option.empty[Double])).toDF("id", "a", "b")
    val out = df.select($"id",
      WeightedScore.weightedSum(Seq($"a" -> 0.75, $"b" -> 0.25)).as("ws"),
      WeightedScore.renormalizedWeightedAvg(Seq($"a" -> 0.75, $"b" -> 0.25)).as("wa"))
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(out(1L) == (Some(12.5), Some(12.5)))
    assert(out(2L) == (Some(7.5), Some(10.0))) // renorm: only weight 0.75 active
    assert(out(3L) == (Some(0.0), None))
  }
}
