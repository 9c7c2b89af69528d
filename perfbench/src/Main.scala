package perfbench

import java.io.File
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** Everything one run shares: the session, its scratch root, the
  * samples, and the failure counters. */
final class Ctx(val spark: SparkSession, val root: String, val seed: Long,
    val trace: Trace, val nproc: Int) {
  val samples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val tracedSamples = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val errors = ArrayBuffer.empty[String]
  /** Wall and process CPU time of the current iteration's write-path
    * calls. CPU time counts every JVM thread (driver, tasks, GC, JIT). */
  var writeNs = 0L
  var writeCpuNs = 0L
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Rows the generator fed in during traced iterations. */
  var tracedRowsIn = 0L

  def record(metric: String, value: Double): Unit =
    (if (trace.on) tracedSamples else samples).getOrElseUpdate(metric, ArrayBuffer.empty) += value

  /** Times one write-path call into the program as an attempted
    * operation, recorded under `metric` in seconds; a thrown error
    * counts as a failed operation. None on failure. */
  def write[T](metric: String, span: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val c0 = os.getProcessCpuTime
    try {
      val r = trace.span(span)(body)
      val d = System.nanoTime() - t0
      writeNs += d
      writeCpuNs += os.getProcessCpuTime - c0
      record(metric, d / 1e9)
      Some(r)
    } catch {
      case e: Exception =>
        fail(s"$span: $e")
        None
    }
  }

  /** One reader request on freshly resolved committed data: resolves
    * the store, then serves from it. Latency covers both; the resolve
    * alone is the sinks layer's share. `ok` checks the response. */
  def read(name: String, path: String)(serve: org.apache.spark.sql.DataFrame => String)(
      ok: String => Boolean): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val body = trace.span("serve.request") {
        val store = trace.span("sinks.readCommitted")(
          graft.sinks.MergeByKey.readCommitted(spark, path))
        record("read_resolve_ms", (System.nanoTime() - t0) / 1e6)
        trace.span("serve.respond")(serve(store))
      }
      record("read_ms", (System.nanoTime() - t0) / 1e6)
      if (!ok(body)) fail(s"request $name: ${body.take(300)}")
    } catch { case e: Exception => fail(s"request $name: $e") }
  }

  /** An output check: an attempted operation that fails when it does
    * not hold. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(s"check failed: $what")
  }

  def fail(what: String): Unit = {
    failed += 1
    if (errors.size < 20) errors += what
  }

  def p(metric: String, q: Double): Double = Stats.quantile(samples.getOrElse(metric, Nil).toSeq, q)
  def n(metric: String): Int = samples.get(metric).map(_.size).getOrElse(0)
}

/** One workload: generated inputs, an untimed warm-up, and a measured
  * iteration repeated until the run's time is up. */
trait Workload {
  def generate(ctx: Ctx): Seq[Gen.Written]
  def warmUp(ctx: Ctx): Unit
  def iteration(ctx: Ctx, i: Int): Unit
  /** Output checks after an iteration (i = -1: after the warm-up),
    * outside the timed region. */
  def afterIteration(ctx: Ctx, i: Int): Unit
  /** Digest of the committed outputs, without wall-clock stamps. */
  def digest(ctx: Ctx): String
  /** Directories holding every store the run committed. */
  def warehouses(ctx: Ctx): Seq[String]
  /** Per-stage timings for the run header: (name, value, unit). */
  def stages(ctx: Ctx): Seq[(String, Double, String)]
}

object Main {

  def usage(): Nothing = {
    System.err.println("usage: perfbench.Main --workload <cron_reference|cron_universe|nightly> " +
      "--seed <n> --seconds <s> --trace <0|1> --root <scratch dir> [--modules <file>] " +
      "[--generate-only]")
    sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    val name = opts.getOrElse("--workload", usage())
    val seed = opts.get("--seed").map(_.toLong).getOrElse(usage())
    val seconds = opts.get("--seconds").map(_.toDouble).getOrElse(usage())
    val traced = opts.get("--trace").contains("1")
    val root = opts.getOrElse("--root", usage())
    val generateOnly = args.contains("--generate-only")
    val wl: Workload = name match {
      case "cron_reference" => new Cron(Gen.referenceSize)
      case "cron_universe" => new Cron(Gen.universeSize)
      case "nightly" => new Nightly
      case _ => usage()
    }
    val moduleOfFile = opts.get("--modules").map { f =>
      val src = scala.io.Source.fromFile(f)
      try src.getLines().map(_.split("\t")).collect { case Array(k, v) => k -> v }.toMap
      finally src.close()
    }.getOrElse(Map.empty)

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val nproc = Runtime.getRuntime.availableProcessors()
    val load0 = loadavg()
    // the session Bench uses: local[nproc], shuffle partitions = nproc,
    // AQE on, partition coalescing off
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/spark-warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = new Ctx(spark, root, seed, new Trace(spark, moduleOfFile), nproc)

    try {
      val inputs = wl.generate(ctx)
      val inputJson = s"""{"files":${inputs.size},"bytes":${inputs.map(_.bytes).sum},""" +
        s""""rows":${inputs.map(_.rows.toLong).sum},"digest":"${inputDigest(inputs, root)}"}"""
      if (generateOnly) {
        inputs.foreach(w => println(s"""{"file":"${w.path.stripPrefix(root + "/")}",""" +
          s""""bytes":${w.bytes},"rows":${w.rows},"sha256_64":"${w.digest}"}"""))
        println(s"""{"workload":"$name","seed":$seed,"inputs":$inputJson}""")
        return
      }
      // the warm-up's operations and output checks count like the
      // measured ones; only its timings are dropped
      wl.warmUp(ctx)
      val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
      wl.afterIteration(ctx, -1)
      ctx.samples.clear()

      // iterations run until the time is up; a traced run alternates
      // untraced and traced iterations, at least untraced-traced-untraced,
      // so a traced iteration compares with the untraced ones around it
      var measuredNs = 0L
      var i = 0
      val untracedNs, tracedNs = ArrayBuffer.empty[Double]
      while (i < (if (traced) 3 else 1) || measuredNs / 1e9 < seconds) {
        val tracedIteration = traced && i % 2 == 1
        if (tracedIteration) ctx.trace.start()
        ctx.writeNs = 0L
        ctx.writeCpuNs = 0L
        val s = System.nanoTime()
        wl.iteration(ctx, i)
        val d = System.nanoTime() - s
        if (tracedIteration) { ctx.trace.stop(); tracedNs += d.toDouble }
        else {
          untracedNs += d.toDouble
          ctx.record("write_s", ctx.writeNs / 1e9)
          ctx.record("write_cpu_s", ctx.writeCpuNs / 1e9)
        }
        measuredNs += d
        wl.afterIteration(ctx, i)
        i += 1
      }
      val digest = wl.digest(ctx)
      val whBytes = wl.warehouses(ctx).map(w => du(new File(w))).sum
      val failedShare = ctx.failed.toDouble / math.max(1L, ctx.attempted)
      // p90 of 12-18 requests is one or two samples: reported, not bounded
      val stages = wl.stages(ctx) ++ Seq(("read_ms.p90", ctx.p("read_ms", 0.9), "ms"),
        ("failed_share", failedShare, "ratio"))

      val header = Seq(
        "workload" -> s""""$name"""", "seed" -> seed.toString, "trace" -> traced.toString,
        "nproc" -> nproc.toString, "loadavg_before" -> load0, "loadavg_after" -> loadavg(),
        "java" -> s""""${System.getProperty("java.version")}"""",
        "spark" -> s""""${spark.version}"""",
        "spark_conf" -> spark.conf.getAll.toSeq.sorted
          .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" }
          .map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}"),
        "iterations" -> i.toString, "measured_s" -> fmt(measuredNs / 1e9),
        "inputs" -> inputJson, "output_digest" -> s""""$digest"""",
        "stages" -> stages.map { case (k, v, u) => s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }
          .mkString("{", ",", "}"),
        "errors" -> ctx.errors.map(graft.functions.JsonText.quote).mkString("[", ",", "]"))
      println(header.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))

      val metrics: Seq[(String, Double, String)] =
        if (!traced) Seq(
          ("setup_s", setupS, "s"),
          ("write_s", ctx.p("write_s", 0.5), "s"),
          ("write_cpu_s", ctx.p("write_cpu_s", 0.5), "s"),
          ("read_ms.p50", ctx.p("read_ms", 0.5), "ms"),
          ("warehouse_mb", whBytes / 1e6, "MB"),
          ("peak_rss_mb", peakRssMb(), "MB"))
        else {
          ctx.trace.spanLines().foreach(l => System.err.println(l))
          val overhead = tracedNs.sum / tracedNs.size / (untracedNs.sum / untracedNs.size) - 1.0
          Layers(ctx, tracedNs.size, tracedNs.sum / 1e9) :+
            (("trace.overhead_share", overhead, "ratio"))
        }
      System.err.println(s"read requests: ${ctx.n("read_ms")}, iterations: $i")
      (stages ++ metrics).foreach { case (k, v, u) => System.err.println(f"$k%-34s ${fmt(v)}%18s $u") }
      val body = metrics.map { case (k, v, u) => s""""$k":{"value":${fmt(v)},"unit":"$u"}""" }
      println(s"""{"correct":${ctx.failed == 0},"attempted":${ctx.attempted},"failed":${ctx.failed},""" +
        s""""metrics":${body.mkString("{", ",", "}")}}""")
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
  }

  /** A number as JSON; a metric with no samples reads 0. */
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def loadavg(): String =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split(" ").take(3).mkString("[", ",", "]") finally src.close()
    }.getOrElse("null")

  /** Peak resident set (VmHWM) of this JVM. */
  def peakRssMb(): Double =
    scala.util.Try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
      finally src.close()
    }.getOrElse(0.0)

  def du(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L)
    else f.length()

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Wall-clock stamp columns, left out of output digests. */
  val stampCols: Set[String] = Set("last_modified_date", "update_date",
    "fundamental_update_date", "updated_at", "posted_at")

  /** Digest of the committed stores' sorted rows, without stamps. */
  def digestStores(ctx: Ctx, dirs: Seq[String]): String =
    Gen.sha(dirs.flatMap { d =>
      val df = graft.sinks.MergeByKey.readCommitted(ctx.spark, d)
      val cols = df.columns.filterNot(stampCols).sorted.toSeq
      d.split('/').last +: df.select(cols.map(c => org.apache.spark.sql.functions.col(s"`$c`")): _*)
        .collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
    }.mkString("\n").getBytes("UTF-8"))

  def inputDigest(inputs: Seq[Gen.Written], root: String): String =
    Gen.sha(inputs.map(w => s"${w.path.stripPrefix(root + "/")}:${w.digest}")
      .mkString("\n").getBytes("UTF-8"))
}

object Stats {
  /** Linear-interpolation quantile; NaN when there are no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
