package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{lit, lower, upper}

import graft.functions.F

/** The benchmark's driver process: one workload, one client, closed loop.
  *
  * Set-up, once per input generation (--gen-s), each with a fresh
  * SparkSession: session start, function registration, Spark's one-time
  * case-mapping initialisation, and --warmups iterations checked against
  * the oracle. A warm-up that throws aborts the run.
  *
  * Untraced run (--trace 0): iterations back to back until --seconds is
  * spent; the cache is cleared between iterations. Every iteration's output
  * is checked against the oracle signature after its clock stops.
  *
  * Traced run (--trace 1): untraced and traced iterations alternate (the
  * untraced ones are the baseline of trace_overhead); traced ones record
  * spans, plans and directory sizes. The Spark-free kernel loop follows, and
  * the spans are written out at the end.
  *
  * Results go to --out as JSON; perfbench/run.py prints them. */
object Main {
  final case class Iter(wallS: Double, cpuS: Double, memB: Long, persistedPeakB: Long, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads.all(a("workload"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val in = Paths.get(a("inputs"))
    val work = Paths.get(a("work"))
    val expected = Sig.parse(a("expect"))
    val items = a("items").toLong
    val genS = a("gen-s").split(",").map(_.toDouble)
    val warmups = a("warmups").toInt
    val cores = Runtime.getRuntime.availableProcessors()

    // ---- setup, repeated; each repetition pairs with one input generation
    var spark: SparkSession = null
    var probe: Probe = null
    var capture: PlanCapture = null
    var warmupSig: Sig = null
    val phases = ArrayBuffer.empty[String]
    val setupS = genS.map { g =>
      val t0 = System.nanoTime()
      var tp = t0
      def phase(name: String): Unit = {
        val now = System.nanoTime(); phases += s"$name ${(now - tp) / 1000000L / 1e3}"; tp = now
      }
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", work.resolve("local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      phase("session")
      spark.sparkContext.setLogLevel("WARN")
      spark.sparkContext.setCheckpointDir(work.resolve("ckpt").toString)
      probe = new Probe
      spark.sparkContext.addSparkListener(probe)
      capture = new PlanCapture
      spark.listenerManager.register(capture)
      F.ensureRegistered(spark)
      phase("register")
      spark.range(1).select(upper(lit("graft")), lower(lit("GRAFT"))).collect()
      phase("case-mapping")
      val ctx = Ctx(spark, in, work)
      val tr = new Tracer(spark.sparkContext, probe)
      // no catch: a warm-up that throws ends the run with a stack trace
      for (_ <- 1 to warmups) { warmupSig = w.run(ctx, tr, -1)(); reset(ctx) }
      phase("warm-up")
      g + (System.nanoTime() - t0) / 1e9
    }
    if (warmupSig != expected)
      System.err.println(s"[perfbench] WARM-UP OUTPUT MISMATCH: got $warmupSig, oracle $expected")

    val ctx = Ctx(spark, in, work)
    val tracer = new Tracer(spark.sparkContext, probe)
    var iterNo = 0

    /** One timed iteration; `timed` runs after the clock stops and before
      * the output check (the traced pass reads its spans and plans there). */
    def iteration(timed: Int => Unit): Iter = {
      reset(ctx)
      tracer.iter = iterNo
      tracer.drain()
      probe.clearDetail()
      probe.resetPeaks()
      val c0 = probe.snapshot()
      val t0 = System.nanoTime()
      val check =
        try tracer.span("iteration") { w.run(ctx, tracer, iterNo) }
        catch { case e: Exception =>
          System.err.println(s"[perfbench] iteration $iterNo FAILED: $e"); null }
      val wall = (System.nanoTime() - t0) / 1e9
      tracer.drain()
      val c1 = probe.snapshot()
      timed(iterNo)
      val ok = check != null && {
        val got = try check() catch { case e: Exception =>
          System.err.println(s"[perfbench] iteration $iterNo check FAILED: $e"); null }
        if (got != expected) System.err.println(s"[perfbench] iteration $iterNo: got $got, oracle $expected")
        got == expected
      }
      iterNo += 1
      Iter(wall, (c1.cpuNs - c0.cpuNs) / 1e9, c1.persistedPeak + c1.peakExec, c1.persistedPeak, ok)
    }

    /** Closed loop until the budget is spent; with tracing, iterations
      * alternate untraced / traced so both see the same warm state. */
    def pass(layers: Option[Layers]): (Seq[Iter], Seq[Iter]) = {
      val plain = ArrayBuffer.empty[Iter]
      val withSpans = ArrayBuffer.empty[Iter]
      val t0 = System.nanoTime()
      def more = (System.nanoTime() - t0) / 1e9 < seconds
      while (plain.size < 3 || more || layers.nonEmpty && withSpans.size < 3) layers match {
        case Some(l) if plain.size > withSpans.size =>
          setTracing(true)
          val it = iteration(l.timed)
          setTracing(false)
          l.after()
          withSpans += it
        case _ => plain += iteration(_ => ())
      }
      (plain.toSeq, withSpans.toSeq)
    }

    def setTracing(on: Boolean): Unit = {
      tracer.enabled = on; probe.detail = on; capture.on = on
    }

    val layers = if (traced) Some(new Layers(w, ctx, tracer, probe, capture)) else None
    val (untraced, tracedIters) = pass(layers)
    val result = new Json
    result.num("cores", cores.toDouble)
    result.arr("setup_s", setupS.toSeq)
    result.str("setup_phases_s", phases.mkString(", "))
    result.str("warmup", warmupSig.toString)
    result.str("expected", expected.toString)
    result.num("items", items.toDouble)
    result.iters("untraced", untraced)
    result.num("persisted_peak_mb", Stats.median(untraced.map(_.persistedPeakB.toDouble)) / 1048576.0)
    result.num("storage_pool_mb",
      spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / 1048576.0)
    layers match {
      case None =>
        val ok = untraced.filter(_.ok)
        val base = if (ok.nonEmpty) ok else untraced
        result.metrics(Seq(
          ("throughput", items / Stats.median(base.map(_.wallS)), "items/s"),
          ("setup_s", Stats.median(setupS.toSeq), "s"),
          ("cpu_s", Stats.median(base.map(_.cpuS)), "s"),
          ("mem_peak_mb", Stats.median(base.map(_.memB.toDouble)) / 1048576.0, "MB")))
      case Some(l) =>
        val kernels = Kernels.run(spark, in, 200)
        result.iters("traced", tracedIters)
        result.metrics(l.metrics(untraced, tracedIters, kernels))
        l.writeTrace(Paths.get(a("trace-out")))
    }
    Files.writeString(Paths.get(a("out")), result.render)
    reset(ctx)
    spark.stop()
  }

  /** Clear-per-iteration protocol: drop Dataset caches and any persisted
    * RDD, wait for the block removals, and delete commit and checkpoint
    * files of the previous iteration. */
  def reset(c: Ctx): Unit = {
    c.spark.catalog.clearCache()
    c.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    org.apache.spark.benchshim.Bus.drain(c.spark.sparkContext)
    Dirs.clear(c.work.resolve("commits"))
    Dirs.clear(c.work.resolve("ckpt"))
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** A flat JSON object writer for the run result. */
final class Json {
  private val parts = ArrayBuffer.empty[String]
  private def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
  private def n(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
  def num(k: String, v: Double): Unit = parts += s"${q(k)}:${n(v)}"
  def str(k: String, v: String): Unit = parts += s"${q(k)}:${q(v)}"
  def arr(k: String, v: Seq[Double]): Unit = parts += s"${q(k)}:${v.map(n).mkString("[", ",", "]")}"
  def iters(k: String, v: Seq[Main.Iter]): Unit =
    parts += s"${q(k)}:" + v.map(i =>
      s"""{"wall_s":${n(i.wallS)},"cpu_s":${n(i.cpuS)},"mem_b":${i.memB},"ok":${i.ok}}""").mkString("[", ",", "]")
  def metrics(ms: Seq[(String, Double, String)]): Unit =
    parts += q("metrics") + ":" + ms.map { case (name, v, unit) =>
      s"""${q(name)}:{"value":${n(v)},"unit":${q(unit)}}""" }.mkString("{", ",", "}")
  def render: String = parts.mkString("{", ",", "}")
}
