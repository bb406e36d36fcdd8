package graftbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** Per-layer numbers of the traced pass, one record per iteration, reported
  * as medians over the traced iterations. */
final class Layers(w: Workload, ctx: Ctx, tracer: Tracer, probe: Probe, capture: PlanCapture) {
  private val MB = 1048576.0
  private val recs = ArrayBuffer.empty[Map[String, Double]]
  private val kinds = Seq("iteration", "operator", "plan", "action", "io", "job", "stage")

  private def kind(name: String): String = name.takeWhile(_ != '.')

  /** After the iteration's clock stops, before its output check. */
  def timed(it: Int): Unit = {
    tracer.adoptListenerEvents()
    val spans = tracer.spans.filter(_.iter == it).toSeq
    def named(p: String) = spans.filter(s => s.name == p || s.name.startsWith(p + "."))
    def cnt(s: Span) = tracer.counts.getOrElse(s.id, Counts())
    val iter = named("iteration").head
    val ic = cnt(iter)
    val ops = named("operator")
    val io = named("io")
    val funnel = Plans.funnel(capture.take() ++ tracer.executed, w.dedupKeys)
    tracer.executed.clear()
    val skew = probe.stageTaskDurations match {
      case Nil => 1.0
      case ss =>
        val durs = ss.maxBy(_._1)._2.sorted
        val med = Stats.median(durs.map(_.toDouble))
        if (med > 0) durs.last / med else 1.0
    }
    val root = ctx.commitRoot(it)
    val dataB = Dirs.size(root, f => f.toString.endsWith(".parquet") && f.toString.contains("/data/"))
    val self = Spans.selfTimes(spans)
    val selfBy = kinds.map(k => s"self.${k}_s" -> spans.filter(s => kind(s.name) == k).map(s => self(s.id)).sum / 1e3)
    recs += Map(
      "operators.build_s" -> ops.map(_.dur).sum / 1e3,
      "operators.build_jobs" -> ops.map(cnt(_).jobs).sum.toDouble,
      "operators.candidate_rows" -> funnel.candidates.toDouble,
      "operators.refine_rows" -> funnel.refined.toDouble,
      "operators.refine_yield" -> (if (funnel.candidates > 0) funnel.refined.toDouble / funnel.candidates else 0.0),
      "operators.dedup_in_rows" -> funnel.dedupIn.toDouble,
      "spark.plan_s" -> named("plan").map(_.dur).sum / 1e3,
      "spark.exec_s" -> named("action").map(_.dur).sum / 1e3,
      "spark.jobs" -> ic.jobs.toDouble,
      "spark.stages" -> ic.stages.toDouble,
      "spark.tasks" -> ic.tasks.toDouble,
      "spark.shuffle_write_mb" -> ic.shuffleWrite / MB,
      "spark.shuffle_read_mb" -> ic.shuffleRead / MB,
      "spark.spill_mb" -> ic.spill / MB,
      "spark.gc_s" -> ic.gcMs / 1e3,
      "spark.sched_delay_s" -> ic.schedDelayMs / 1e3,
      "spark.task_skew" -> skew,
      "spark.cache_mb" -> ops.map(cnt(_).persisted).foldLeft(0L)(math.max) / MB,
      "io.commit_s" -> io.map(_.dur).sum / 1e3,
      "io.commit_jobs" -> io.map(cnt(_).jobs).sum.toDouble,
      "io.write_amp" -> (if (dataB > 0) Dirs.size(root).toDouble / dataB else 0.0),
      "io.checkpoint_mb" -> Dirs.size(ctx.work.resolve("ckpt")) / MB,
      "iteration_s" -> iter.dur / 1e3,
    ) ++ selfBy
  }

  /** After the output check: the functions-layer projection job, outside
    * the iteration. Plans it leaves behind are dropped. */
  def after(): Unit = {
    val projectS = w.project(ctx).map { job =>
      val t0 = System.nanoTime(); job(); (System.nanoTime() - t0) / 1e9
    }.getOrElse(0.0)
    recs(recs.length - 1) = recs.last + ("functions.project_s" -> projectS)
    capture.take(): Unit
  }

  private def med(k: String): Double = Stats.median(recs.map(_.getOrElse(k, 0.0)).toSeq)

  def metrics(untraced: Seq[Main.Iter], traced: Seq[Main.Iter],
              kernels: Map[String, Kernels.Result]): Seq[(String, Double, String)] = {
    val s = "s"; val c = "count"; val mb = "MB"; val r = "ratio"
    val layer = Seq(
      ("operators.build_s", s), ("operators.build_jobs", c), ("operators.candidate_rows", c),
      ("operators.refine_rows", c), ("operators.refine_yield", r), ("operators.dedup_in_rows", c),
      ("functions.project_s", s), ("spark.plan_s", s), ("spark.exec_s", s),
      ("spark.jobs", c), ("spark.stages", c), ("spark.tasks", c),
      ("spark.shuffle_write_mb", mb), ("spark.shuffle_read_mb", mb), ("spark.spill_mb", mb),
      ("spark.gc_s", s), ("spark.sched_delay_s", s), ("spark.task_skew", r),
      ("spark.cache_mb", mb), ("io.commit_s", s), ("io.commit_jobs", c), ("io.write_amp", r),
      ("io.checkpoint_mb", mb)
    ).map { case (k, u) => (k, med(k), u) }
    val core = Kernels.names.flatMap { k =>
      Seq((s"core.${k}_ns", kernels(k).nsPerOp, "ns"), (s"core.${k}_ops", kernels(k).ops.toDouble, c))
    }
    val overhead = Stats.median(traced.map(_.wallS)) / Stats.median(untraced.map(_.wallS))
    val self = kinds.map(k => (s"self.${k}_s", med(s"self.${k}_s"), s))
    layer ++ core ++ Seq(("trace_overhead", overhead, r)) ++ self
  }

  /** Spans, per-span counts and per-iteration records, written once at the
    * end of the run. */
  def writeTrace(path: Path): Unit = {
    val self = Spans.selfTimes(tracer.spans.toSeq)
    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else f"$d%.3f"
    val spans = tracer.spans.map { s =>
      val c = tracer.counts.get(s.id).map(c =>
        s""","jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},"cpu_ns":${c.cpuNs},"persisted_b":${c.persisted}""")
        .getOrElse("")
      s"""{"id":${s.id},"parent":${s.parent},"iter":${s.iter},"name":"${s.name}","start_ms":${num(s.start)},"end_ms":${num(s.end)},"self_ms":${num(self(s.id))}$c}"""
    }
    val iters = recs.map(_.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}"))
    Files.createDirectories(path.getParent)
    Files.writeString(path,
      s"""{"workload":"${w.name}","spans":${spans.mkString("[", ",\n", "]")},"iterations":${iters.mkString("[", ",\n", "]")}}""")
  }
}
