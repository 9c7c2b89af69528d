package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import graft.pipeline.Orchestration
import graft.serve.Screeners
import graft.sinks.MergeByKey

object Cron {
  /** Distinct technical days and fundamental weeks generated; days cycle
    * through them. */
  val days = 4
  val weeks = 2
  /** One closed-loop client's burst after each commit to the rankings:
    * every screener twice, then one unknown name that must be refused. */
  val burst: Seq[String] = Seq.fill(2)(Seq("btst", "swing", "position")).flatten :+ "ipo_watch"
  val tables: Seq[String] = Seq("stock_data", "stock_rankings", "sector_data", "industry_data")
}

/** The reference's cron flow at its own size. The warm-up is the
  * initial load (day 0: technical, fundamental and momentum, then one
  * screener burst). Each measured iteration is one more day: the
  * technical flow, the fundamental flow, sector and industry momentum,
  * and a screener burst after each commit to the rankings. */
final class Cron(size: Gen.CronSize) extends Workload {
  import Cron._

  private var sectors: IndexedSeq[DataFrame] = _
  private var industries: IndexedSeq[DataFrame] = _
  private var digestAfterFirst = ""
  private def in(ctx: Ctx) = s"${ctx.root}/in"
  private def wh(ctx: Ctx) = s"${ctx.root}/warehouse"

  private def momentumFrame(ctx: Ctx, key: String, rows: Seq[Seq[String]]): DataFrame = {
    val schema = StructType((key +: Gen.momentumCols).map(StructField(_, StringType)))
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows.map(r => Row(r: _*)): _*), schema)
  }

  def generate(ctx: Ctx): Seq[Gen.Written] = {
    val u = Gen.universe(ctx.seed, size)
    sectors = (0 until days).map(d => momentumFrame(ctx, "sector",
      Gen.momentumRows(ctx.seed, Gen.sectorNames.take(size.sectors), d, 0)))
    industries = (0 until days).map(d => momentumFrame(ctx, "industry",
      Gen.momentumRows(ctx.seed, u.industryNames.toSeq, d, 1)))
    Gen.writeCron(ctx.seed, u, in(ctx), days, weeks)
  }

  private def day(ctx: Ctx, d: Int): Unit = {
    ctx.write("technical_s", "pipeline.runTechnical") {
      Orchestration.runTechnical(ctx.spark, Gen.techGlob(in(ctx), d % days), wh(ctx))
        .getOrElse(sys.error("no technical export found"))
    }.filter(_ => d > 0).foreach(_ => screeners(ctx)) // 'position' needs fundamentals
    ctx.write("fundamental_s", "pipeline.runFundamental") {
      Orchestration.runFundamental(ctx.spark, Gen.fundGlob(in(ctx), d % weeks), wh(ctx))
        .getOrElse(sys.error("no fundamental export found"))
    }.foreach(_ => screeners(ctx))
    ctx.write("momentum_s", "pipeline.runGroupMomentum") {
      Orchestration.runGroupMomentum(ctx.spark, sectors(d % days), wh(ctx), "sector_data", "sector")
      Orchestration.runGroupMomentum(ctx.spark, industries(d % days), wh(ctx), "industry_data", "industry")
    }
    if (ctx.trace.on) ctx.tracedRowsIn += size.techValid + size.fundValid + size.sectors + size.industries
  }

  /** Every envelope is a success carrying min(20, eligible) rows; the
    * unknown name is refused, and its instant refusal is not a latency
    * sample. Every ranked symbol is eligible for btst and position, and
    * the 250 large and mid caps for swing. */
  private def screeners(ctx: Ctx): Unit = burst.foreach { name =>
    if (Screeners.registry.contains(name)) {
      val eligible = if (name == "swing") math.min(250, size.symbols) else size.symbols
      ctx.read(name, s"${wh(ctx)}/stock_rankings")(Screeners.respond(ctx.spark, name, _)) { body =>
        body.contains(""""success":true""") && body.contains(s""""count":${math.min(20, eligible)},""")
      }
    } else {
      val body = Screeners.respond(ctx.spark, name, ctx.spark.emptyDataFrame)
      ctx.check(body.contains(""""success":false"""), s"unknown screener $name was served: ${body.take(200)}")
    }
  }

  def warmUp(ctx: Ctx): Unit = day(ctx, 0)

  def iteration(ctx: Ctx, i: Int): Unit = day(ctx, i + 1)

  /** The rankings hold every valid symbol, banded 100/150/250/rest.
    * After the initial load (i = -1) only the technical export's symbols
    * are banded: the technical flow ran before the fundamental flow added
    * the symbols only it has, and the next day's technical flow bands
    * them. */
  def afterIteration(ctx: Ctx, i: Int): Unit = {
    val rankings = MergeByKey.readCommitted(ctx.spark, s"${wh(ctx)}/stock_rankings")
    val n = rankings.count()
    ctx.check(n == size.symbols, s"rankings hold $n rows, expected ${size.symbols}")
    val bands = rankings.groupBy("market_cap_category").count().collect()
      .map(r => Option(r.getString(0)).getOrElse("unbanded") -> r.getLong(1)).toMap
    val expected =
      if (i >= 0) Gen.bandSizes(size.symbols)
      else Gen.bandSizes(size.techValid) + ("unbanded" -> (size.symbols - size.techValid).toLong)
    ctx.check(bands == expected, s"band sizes $bands, expected $expected")
    if (i == 0) digestAfterFirst = Main.digestStores(ctx, tables.map(t => s"${wh(ctx)}/$t"))
  }

  /** The stores after the first measured day: the same on every run of
    * a seed, however many days the run measured. */
  def digest(ctx: Ctx): String = digestAfterFirst

  def warehouses(ctx: Ctx): Seq[String] = Seq(wh(ctx))

  def stages(ctx: Ctx): Seq[(String, Double, String)] = Seq(
    ("technical_s.p50", ctx.p("technical_s", 0.5), "s"),
    ("fundamental_s.p50", ctx.p("fundamental_s", 0.5), "s"),
    ("momentum_s.p50", ctx.p("momentum_s", 0.5), "s"),
    ("screener_ms.p50", ctx.p("read_ms", 0.5), "ms"),
    ("screener_ms.p90", ctx.p("read_ms", 0.9), "ms"),
    ("screener_requests", ctx.n("read_ms").toDouble, "count"))
}
