package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashJoin, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Benchmark spans (`iteration`, `operator.<fn>`,
  * `plan`, `action`, `io.<fn>`) nest on the driver thread; `job` and `stage`
  * spans come from the listener. Times are epoch milliseconds. */
final case class Span(id: Int, parent: Int, iter: Int, name: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Counters summed over the tasks and jobs that ended since the last
  * snapshot, plus the running total of persisted RDD block bytes. */
final case class Counts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
                        gcMs: Long = 0, shuffleWrite: Long = 0, shuffleRead: Long = 0,
                        spill: Long = 0, schedDelayMs: Long = 0, peakExec: Long = 0,
                        persisted: Long = 0, persistedPeak: Long = 0) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
    cpuNs - o.cpuNs, gcMs - o.gcMs, shuffleWrite - o.shuffleWrite, shuffleRead - o.shuffleRead,
    spill - o.spill, schedDelayMs - o.schedDelayMs, peakExec, persisted, persistedPeak)
}

/** The benchmark's SparkListener. It always keeps the cheap counters that
  * the end-to-end metrics need; with `detail` on (the traced pass) it also
  * records job and stage spans and per-stage task durations. */
final class Probe extends SparkListener {
  @volatile var detail = false
  private var c = Counts()
  private val rddBlocks = new java.util.HashMap[Int, java.util.HashMap[String, java.lang.Long]]()
  private val stageSubmit = new java.util.HashMap[Int, java.lang.Long]()
  private val stageJob = new java.util.HashMap[Int, Int]()
  private val jobStart = new java.util.HashMap[Int, java.lang.Long]()
  private val stageTasks = new java.util.HashMap[Int, ArrayBuffer[Long]]()
  /** (kind, id, parent job or -1, start ms, end ms) */
  private val events = ArrayBuffer.empty[(String, Int, Int, Long, Long)]
  /** (stage wall ms, its task durations) of each completed stage */
  private val stageDurations = ArrayBuffer.empty[(Long, Array[Long])]

  def snapshot(): Counts = synchronized(c)
  def jobAndStageEvents: List[(String, Int, Int, Long, Long)] = synchronized(events.toList)
  def stageTaskDurations: List[(Long, Array[Long])] = synchronized(stageDurations.toList)

  /** Start a new peak window: task and block peaks restart from now. */
  def resetPeaks(): Unit = synchronized { c = c.copy(peakExec = 0, persistedPeak = c.persisted) }

  def clearDetail(): Unit = synchronized { events.clear(); stageDurations.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val t0 = jobStart.remove(e.jobId)
    if (detail && t0 != null) events += (("job", e.jobId, -1, t0.longValue, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val t: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    stageSubmit.put(e.stageInfo.stageId, t)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    c = c.copy(stages = c.stages + 1)
    val durs = stageTasks.remove(si.stageId)
    if (detail) {
      val t0 = si.submissionTime.getOrElse(0L)
      val t1 = si.completionTime.getOrElse(t0)
      events += (("stage", si.stageId, stageJob.getOrDefault(si.stageId, -1), t0, t1))
      if (durs != null) stageDurations += ((t1 - t0, durs.toArray))
    }
    stageSubmit.remove(si.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val sub = stageSubmit.get(e.stageId)
    val wait = if (sub == null) 0L else math.max(0L, e.taskInfo.launchTime - sub.longValue)
    if (m == null) c = c.copy(tasks = c.tasks + 1, schedDelayMs = c.schedDelayMs + wait)
    else c = c.copy(
      tasks = c.tasks + 1,
      cpuNs = c.cpuNs + m.executorCpuTime + m.executorDeserializeCpuTime,
      gcMs = c.gcMs + m.jvmGCTime,
      shuffleWrite = c.shuffleWrite + m.shuffleWriteMetrics.bytesWritten,
      shuffleRead = c.shuffleRead + m.shuffleReadMetrics.totalBytesRead,
      spill = c.spill + m.memoryBytesSpilled + m.diskBytesSpilled,
      schedDelayMs = c.schedDelayMs + wait,
      peakExec = math.max(c.peakExec, m.peakExecutionMemory))
    if (detail) stageTasks.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long]) += e.taskInfo.duration
  }

  // Cached blocks report to the driver when stored; an unpersist drops them
  // without a block update, so it is tracked through the unpersist event.
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId.asRDDId.foreach { id =>
      val key = info.blockManagerId.executorId + "/" + id.name
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      val old = rddBlocks.computeIfAbsent(id.rddId, _ => new java.util.HashMap[String, java.lang.Long]())
        .put(key, size)
      addPersisted(size - (if (old == null) 0L else old.longValue))
    }
  }

  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    val gone = rddBlocks.remove(e.rddId)
    if (gone != null) addPersisted(-gone.values.stream.mapToLong(_.longValue).sum)
  }

  private def addPersisted(delta: Long): Unit = {
    val p = c.persisted + delta
    c = c.copy(persisted = p, persistedPeak = math.max(c.persistedPeak, p))
  }
}

/** Captures the executed plan of every Dataset action while tracing, so the
  * operator funnel (cell-join candidates, refine survivors, dedup input) is
  * read from the physical plans' SQL metrics. */
final class PlanCapture extends QueryExecutionListener {
  @volatile var on = false
  val plans = ArrayBuffer.empty[QueryExecution]
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) synchronized { plans += qe }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def take(): Seq[QueryExecution] = synchronized { val p = plans.toList; plans.clear(); p }
}

/** Benchmark-side spans around calls into the program. When disabled, a
  * span is the bare call. When enabled, the listener bus is drained at both
  * boundaries so that the counts taken there belong to the span. */
final class Tracer(sc: SparkContext, probe: Probe) {
  var enabled = false
  var iter = 0
  private var nextId = 0
  private var stack: List[Int] = Nil
  val spans = ArrayBuffer.empty[Span]
  /** Executed plans of actions the QueryExecutionListener does not see. */
  val executed = ArrayBuffer.empty[QueryExecution]
  /** Counter deltas over each benchmark span, keyed by span id. */
  val counts = scala.collection.mutable.HashMap.empty[Int, Counts]
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def drain(): Unit = org.apache.spark.benchshim.Bus.drain(sc)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val c0 = probe.snapshot()
      val t0 = nowMs
      stack = id :: stack
      try body
      finally {
        val t1 = nowMs
        stack = stack.tail
        drain()
        counts(id) = probe.snapshot() - c0
        spans += Span(id, parent, iter, name, t0, t1)
      }
    }

  /** Listener job/stage events of the iteration become spans: a job's
    * parent is the innermost benchmark span open when it started, a
    * stage's parent is its job. */
  def adoptListenerEvents(): Unit = {
    val mine = spans.filter(_.iter == iter).toSeq
    val jobIds = scala.collection.mutable.HashMap.empty[Int, Int]
    val evs = probe.jobAndStageEvents
    for ((kind, id, _, t0, t1) <- evs if kind == "job") {
      val inside = mine.filter(s => s.start - 1 <= t0 && t0 <= s.end + 1)
      val parent = if (inside.isEmpty) -1 else inside.minBy(_.dur).id
      val sid = nextId; nextId += 1
      jobIds(id) = sid
      spans += Span(sid, parent, iter, "job", t0.toDouble, math.max(t0, t1).toDouble)
    }
    for ((kind, _, job, t0, t1) <- evs if kind == "stage") {
      val sid = nextId; nextId += 1
      spans += Span(sid, jobIds.getOrElse(job, -1), iter, "stage", t0.toDouble, math.max(t0, t1).toDouble)
    }
  }
}

object Spans {
  /** Self time of each span: its duration minus the union of its
    * children's intervals, clipped to the span. */
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN
      var curB = Double.NaN
      for ((a, b) <- ivs) {
        if (curA.isNaN || a > curB) {
          if (!curA.isNaN) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (!curA.isNaN) covered += curB - curA
      s.id -> math.max(0.0, s.dur - covered)
    }.toMap
  }
}

/** The operator funnel read from executed plans: rows the cell equi-joins
  * generate before any join condition, rows passing the exact JTS
  * predicate, and rows entering the id-pair dropDuplicates aggregate. */
final case class Funnel(candidates: Long, refined: Long, dedupIn: Long)

object Plans {
  private def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)

  /** Every physical node of the executed plans, descending into adaptive
    * stages and cached relations; each node is visited once, so a cached
    * relation read by several actions is counted once. */
  def nodes(qes: Seq[QueryExecution]): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val out = ArrayBuffer.empty[SparkPlan]
    def walk(p: SparkPlan): Unit = if (seen.add(p)) p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case _: ReusedExchangeExec => ()
      case m: InMemoryTableScanExec => out += m; walk(m.relation.cachedPlan)
      case other => out += other; other.children.foreach(walk); other.subqueries.foreach(walk)
    }
    qes.foreach(qe => walk(qe.executedPlan))
    out.toSeq
  }

  private def onCell(keys: Seq[Expression]): Boolean =
    keys.exists(_.references.exists(_.name == "__cell"))

  private def isRefine(e: Expression): Boolean = e.exists {
    case _: graft.functions.GeomPredicate | _: graft.functions.GeomPredicatePoint => true
    case _ => false
  }

  /** Rows flowing into `p`: the first metric-bearing node below it, not
    * crossing an exchange (the shuffle read side of a final aggregate is
    * not the dedup input). */
  private def inputRows(p: SparkPlan): Long = p.children.headOption match {
    case Some(_: Exchange) | Some(_: QueryStageExec) | None => 0L
    case Some(ch) if ch.metrics.contains("numOutputRows") => rows(ch)
    case Some(ch) => inputRows(ch)
  }

  private def condition(j: SparkPlan): Option[Expression] = j match {
    case h: HashJoin => h.condition
    case m: SortMergeJoinExec => m.condition
    case _ => None
  }

  /** The join without its condition. Catalyst pushes the envelope gate and
    * the JTS predicate into the cell join, so the join's own row count is
    * post-predicate; re-running it unconditioned over its already
    * materialized inputs gives the raw cell candidates. */
  private def rawCandidates(j: SparkPlan): Long = j match {
    case _ if condition(j).isEmpty => rows(j)
    case b: BroadcastHashJoinExec => b.copy(condition = None).execute().count()
    case h: ShuffledHashJoinExec => h.copy(condition = None).execute().count()
    case m: SortMergeJoinExec => m.copy(condition = None).execute().count()
  }

  /** Call while the iteration's caches and shuffle files still exist. */
  def funnel(qes: Seq[QueryExecution], dedupKeys: Seq[String]): Funnel = {
    val ns = nodes(qes)
    val joins = ns.filter {
      case j: HashJoin => j.joinType == Inner && onCell(j.leftKeys)
      case j: SortMergeJoinExec => j.joinType == Inner && onCell(j.leftKeys)
      case _ => false
    }
    val refined = joins.filter(condition(_).exists(isRefine)).map(rows).sum +
      ns.collect { case f: FilterExec if isRefine(f.condition) => rows(f) }.sum
    val dedup =
      if (dedupKeys.isEmpty) 0L
      else ns.collect {
        case a: BaseAggregateExec if a.groupingExpressions.map(_.name) == dedupKeys => inputRows(a)
      }.foldLeft(0L)(math.max)
    // metrics are read above: the re-runs below add to them
    Funnel(joins.map(rawCandidates).sum, refined, dedup)
  }
}
