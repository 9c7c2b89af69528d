package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.operators.{Dedup, RankOps, SimilaritySearch}
import graft.pipeline.{NewsIngestPipeline, Orchestration}
import graft.serve.Screeners
import graft.sinks.MergeByKey
import graft.streaming.Streams

/** The overnight crons. First the reference's news cron as a catch-up
  * stream: a backlog of small scrape files, one file per trigger under
  * `Trigger.AvailableNow`, watermarked URL dedup, merged by key into the
  * news table. Then the near-duplicate refresh over an embedding
  * corpus: the first night builds the component map in full, later
  * nights merge one delta batch each, and every night signs the grown
  * standing corpus into its own key store, as the refresh's callers
  * must. A reader asks for the news feed after the drain and looks up
  * planted duplicates after each night.
  *
  * Each iteration starts from empty stores and checkpoints, so every
  * iteration does the same work. */
final class Nightly extends Workload {

  /** Sizes (README.md, "Sizing"): the run's time budget sets the counts;
    * the embedding width is the 64 dimensions the program's similarity
    * probes use. Per-trigger fixed cost dominates the drain (four times
    * the items per file made the median trigger 12% slower), so the
    * backlog is many small files. */
  val (newsBatches, perBatch) = (10, 30)
  val (standingRows, batchRows, nights, dim) = (4000, 400, 2, 64)
  val newsSchema: StructType = StructType(Seq(
    StructField("article_url", StringType), StructField("headline", StringType),
    StructField("is_premium", BooleanType), StructField("is_critical", BooleanType),
    StructField("source", StringType), StructField("event_time", TimestampType)))
  val threshold = 0.95
  /** A closed-loop reader's requests after each commit. */
  val readsPerCommit = 6
  val (baseBits, bands, bitsPerBand) = (128, 16, 16)

  private var expectedUrls = Set.empty[String]
  private var planted = Seq.empty[Seq[Long]] // planted pairs' ids, per night
  private var runs = 0
  private var digestAfterFirst = ""
  private def newsIn(root: String) = s"$root/in/news"
  private def vectorsIn(root: String, k: Int) = s"$root/in/embeddings/part-$k"
  private def base(ctx: Ctx) = s"${ctx.root}/stores-$runs"

  def generate(ctx: Ctx): Seq[Gen.Written] = {
    val (items, urls) = Gen.news(ctx.seed, newsBatches, perBatch)
    expectedUrls = urls
    val news = Gen.writeNews(newsIn(ctx.root), items)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    var anchors = IndexedSeq.empty[(Long, Array[Float])]
    var nextId = 1L
    val vectors = (0 to nights).map { k =>
      val n = if (k == 0) standingRows else batchRows
      val (rows, pairs) = Gen.embeddings(ctx.seed, k, nextId, n, dim, anchors)
      nextId += n
      anchors = anchors ++ rows
      planted :+= pairs.flatMap { case (a, b) => Seq(a, b) }.distinct.take(8)
      val dir = vectorsIn(ctx.root, k)
      ctx.spark.createDataFrame(java.util.Arrays.asList(
        rows.map { case (id, v) => Row(id, v.toSeq) }: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir)
      Gen.Written(dir, Main.du(new File(dir)), n,
        Gen.sha(rows.map { case (id, v) => s"$id:${v.mkString(",")}" }.mkString("\n").getBytes("UTF-8")))
    }
    news ++ vectors
  }

  private def vectors(ctx: Ctx, k: Int): DataFrame = ctx.spark.read.parquet(vectorsIn(ctx.root, k))

  /** Drains the backlog; returns the items committed and the durations
    * of the triggers that had input. */
  private def drain(ctx: Ctx, table: String, checkpoint: String): (Long, Seq[Double]) = {
    val stream = ctx.spark.readStream.schema(newsSchema)
      .option("maxFilesPerTrigger", "1").json(newsIn(ctx.root))
    val items = NewsIngestPipeline.streamNewItems(stream, "event_time")
    val q = Streams.mergeSink(items, table, "tweet_id")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    q.exception.foreach(e => throw e)
    val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    (progress.map(_.stateOperators.map(_.numRowsUpdated).sum).sum,
      progress.map(_.durationMs.get("triggerExecution").doubleValue))
  }

  private def news(ctx: Ctx): Unit = {
    val table = s"${base(ctx)}/news_items"
    val t0 = System.nanoTime()
    ctx.write("drain_s", "streaming.drain")(drain(ctx, table, s"${base(ctx)}/checkpoint"))
      .foreach { case (committed, triggers) =>
        ctx.attempted += triggers.size
        triggers.foreach(ctx.record("trigger_ms", _))
        ctx.record("news_items_per_s", committed / ((System.nanoTime() - t0) / 1e9))
        if (ctx.trace.on) ctx.tracedRowsIn += committed
      }
    val expected = math.min(20, expectedUrls.size)
    (1 to readsPerCommit).foreach(_ => ctx.read("news_feed", table)(feed =>
      Screeners.toJsonRecords(RankOps.topK(feed, 20, col("event_time"), col("tweet_id")))
        .mkString("\n"))(body => body.linesIterator.size == expected))
  }

  private def nearDup(ctx: Ctx): Unit = (1 to nights).foreach { night =>
    val standing = (0 until night).map(vectors(ctx, _)).reduce(_ unionByName _)
    val table = s"${base(ctx)}/warehouse/neardup_components"
    ctx.write("night_s", "pipeline.runNearDupRefresh") {
      Orchestration.runNearDupRefresh(ctx.spark, standing, vectors(ctx, night),
        "vec_id", "embedding", threshold, s"${base(ctx)}/stage/night-$night",
        s"${base(ctx)}/warehouse", baseBits, bands, bitsPerBand)
    }
    if (ctx.trace.on) ctx.tracedRowsIn += (if (night == 1) standingRows else 0) + batchRows
    // every planted near-copy seen so far belongs to some component
    val ids = planted.take(night + 1).flatten
    (1 to readsPerCommit).foreach(_ => ctx.read("neardup_lookup", table)(map =>
      Screeners.toJsonRecords(map.filter(col("node").isin(ids: _*))).mkString("\n"))(
      body => body.linesIterator.size == ids.size))
  }

  def warmUp(ctx: Ctx): Unit = iteration(ctx, -1)

  def iteration(ctx: Ctx, i: Int): Unit = {
    Main.deleteTree(new File(base(ctx)))
    runs += 1
    news(ctx)
    nearDup(ctx)
    graft.Caches.unpersistAll()
  }

  /** The news table holds exactly the distinct, valid, non-premium URLs,
    * and the merged component map equals a full recompute over the whole
    * corpus (the q344 contract). */
  def afterIteration(ctx: Ctx, i: Int): Unit = {
    val newsTable = s"${base(ctx)}/news_items"
    val urls = MergeByKey.readCommitted(ctx.spark, newsTable).select("article_url").collect()
      .map(_.getString(0)).toSet
    ctx.check(urls == expectedUrls, s"news table holds ${urls.size} URLs, expected ${expectedUrls.size}")
    val all = (0 to nights).map(vectors(ctx, _)).reduce(_ unionByName _)
    val full = Dedup.connectedComponents(SimilaritySearch.embeddingNearDupFromKeys(
      SimilaritySearch.bandKeyRows(all, "vec_id", "embedding", baseBits, bands, bitsPerBand),
      all, "vec_id", "embedding", threshold), "id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mapTable = s"${base(ctx)}/warehouse/neardup_components"
    val merged = MergeByKey.readCommitted(ctx.spark, mapTable).select("node", "component")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    graft.Caches.unpersistAll()
    ctx.check(full.nonEmpty && merged == full,
      s"merged component map (${merged.size} nodes) differs from the full recompute (${full.size})")
    if (i == 0) digestAfterFirst = Main.digestStores(ctx, Seq(newsTable, mapTable))
  }

  def digest(ctx: Ctx): String = digestAfterFirst

  def warehouses(ctx: Ctx): Seq[String] = Seq(base(ctx))

  def stages(ctx: Ctx): Seq[(String, Double, String)] = Seq(
    ("trigger_ms.p50", ctx.p("trigger_ms", 0.5), "ms"),
    ("news_items_per_s", ctx.p("news_items_per_s", 0.5), "items/s"),
    ("night_s.p50", ctx.p("night_s", 0.5), "s"),
    ("read_requests", ctx.n("read_ms").toDouble, "count"))
}
