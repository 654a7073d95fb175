package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval. `lane` is the op the work belongs to (0 for
  * round-level work); `depth` orders the layers from the round down to an
  * engine job. Times are `System.nanoTime`.
  */
final case class Span(id: Long, name: String, parent: Long, lane: Long, depth: Int,
    start: Long, end: Long)

/** The traced run's recorder: spans the benchmark opens around each call
  * into a layer, plus the totals of the Spark listeners it registers. Spans
  * are kept in memory and written once, when the run ends. With tracing
  * off, [[span]] only runs its body and no listener is registered.
  *
  * Every Spark action of a timed op runs under a job group naming its lane
  * (`o<op>` for an op, `r<round>` for round-level work), so engine jobs,
  * tasks and SQL executions are attributed to the op that caused them and
  * untimed work (warm-up, output checks) is left out.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue(): List[Span] = Nil }
  // nanoTime = epoch millis * 1e6 - offset; fixed once so listener times line up
  val epochOffsetNs: Long = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  /** Layer depth: a span's innermost open descendant is the layer busy. */
  def depth(name: String): Int =
    if (name.startsWith("op.")) 3
    else name match {
      case "round" => 1
      case "runner.run" => 2
      case "runner.model_build" | "runner.write" | "udf.materialize" => 4
      case "engine.job" => 6
      case _ => 5 // udf.datamart, query.build, query.force
    }

  def nextId(): Long = ids.incrementAndGet()

  def record(name: String, parent: Long, lane: Long, start: Long, end: Long, id: Long = -1L): Span = {
    val s = Span(if (id >= 0) id else nextId(), name, parent, lane, depth(name), start, end)
    if (enabled) spans.add(s)
    s
  }

  /** Times `body` as a span under the innermost open span on this thread
    * (or `parent` when the caller runs on another thread).
    */
  def span[A](name: String, lane: Long = -1L, parent: Long = -1L)(body: => A): A = {
    if (!enabled) return body
    val outer = stack.get()
    val p = if (parent >= 0) parent else outer.headOption.map(_.id).getOrElse(0L)
    val l = if (lane >= 0) lane else outer.headOption.map(_.lane).getOrElse(0L)
    val open = Span(nextId(), name, p, l, depth(name), System.nanoTime(), 0L)
    stack.set(open :: outer)
    try body
    finally {
      stack.set(outer)
      spans.add(open.copy(end = System.nanoTime()))
    }
  }

  def currentId: Long = stack.get().headOption.map(_.id).getOrElse(0L)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Engine and streaming totals, filled by the listeners. */
  val engine = new EngineListener(this)
  val planning = new PlanningListener
  val streams = new StreamListener

  def register(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(engine)
    spark.listenerManager.register(planning)
    spark.streams.addListener(streams)
  }

  private def within(rounds: Seq[Span], ns: Long): Boolean = rounds.exists(r => ns >= r.start && ns < r.end)
  private def laneOf(group: String): Option[Long] =
    if (group.length > 1 && (group(0) == 'o' || group(0) == 'r')) group.tail.toLongOption.map(n => if (group(0) == 'o') n else 0L)
    else None

  /** Engine jobs that belong to the timed rounds, as spans in their op's
    * lane. A job carries the group of the op that ran it, except a
    * streaming micro-batch, which carries its query's run id; that job goes
    * to the serial op open when it started.
    */
  def engineJobs(rounds: Seq[Span]): Seq[(Int, Span)] = engine.synchronized {
    val ops = all.filter(_.depth == 3)
    engine.jobs.toSeq.flatMap { case (id, j) =>
      val lane = laneOf(j.group).orElse(
        if (j.group == "verify" || j.group == "warmup" || !within(rounds, j.start)) None
        else Some(ops.find(o => j.start >= o.start && j.start < o.end).map(_.lane).getOrElse(0L)))
      lane.filter(_ => within(rounds, j.start)).map { l =>
        id -> Span(nextId(), "engine.job", 0L, l, depth("engine.job"), j.start,
          math.max(j.start, engine.jobEnd.getOrElse(id, j.start)))
      }
    }
  }

  /** End of the last SQL execution run under `group` (a model's write). */
  def lastExecEnd(group: String): Option[Long] = engine.synchronized {
    engine.execs.collect { case (id, e) if e.group == group => engine.execEnd.get(id) }.flatten.maxOption
  }

  /** The listener totals of the timed rounds, per metric name. */
  def listenerTotals(rounds: Seq[Span]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val jobs = engineJobs(rounds)
    engine.synchronized {
      out("engine.jobs") = jobs.size
      val stages = jobs.flatMap { case (id, _) => engine.jobs(id).stages }.distinct
      stages.flatMap(engine.stageTotals.get).foreach(_.foreach { case (k, v) => out(k) += v })
      out("engine.aqe_replans") = engine.execs.collect {
        case (id, e) if within(rounds, e.start) && e.group != "verify" => engine.replans(id)
      }.sum
    }
    // union of job spans, so concurrent jobs count once
    var covered = 0L; var reach = Long.MinValue
    jobs.map(_._2).sortBy(_.start).foreach { j =>
      if (j.end > reach) { covered += j.end - math.max(j.start, reach); reach = j.end }
    }
    out("engine.job_s") = covered / 1e9
    out("engine.driver_gap_s") = rounds.map(r => r.end - r.start).sum / 1e9 - covered / 1e9
    planning.synchronized {
      val names = Map("analysis" -> "engine.analysis_s", "optimization" -> "engine.optimize_s",
        "planning" -> "engine.physical_plan_s")
      planning.phases.filter { case (ms, _) => within(rounds, fromEpochMs(ms)) }.foreach { case (_, ph) =>
        ph.foreach { case (k, v) => names.get(k).foreach(n => out(n) += v) }
      }
    }
    streams.synchronized {
      out("stream.queries") = streams.started.count(ms => within(rounds, fromEpochMs(ms)))
      streams.progress.filter { case (ms, _) => within(rounds, fromEpochMs(ms)) }.foreach { case (_, p) =>
        val d = p.durationMs.asScala
        def sec(k: String): Double = d.get(k).map(_.toDouble).getOrElse(0.0) / 1e3
        out("stream.batches") += 1
        out("stream.trigger_s") += sec("triggerExecution")
        out("stream.add_batch_s") += sec("addBatch")
        out("stream.wal_commit_s") += sec("walCommit")
        out("stream.commit_offsets_s") += sec("commitOffsets")
        out("stream.plan_s") += sec("queryPlanning")
        out("stream.state_commit_s") += p.stateOperators.map(_.commitTimeMs).sum / 1e3
      }
    }
    out.toMap
  }

  /** Wall time of the given rounds attributed to layers: each instant goes
    * to the innermost open span of every busy lane, split evenly between
    * the lanes busy at that instant, and to the round itself when no op is
    * busy. The shares therefore add up to the rounds' wall time exactly.
    */
  def selfTimes(rounds: Seq[Span], extra: Seq[Span]): Map[String, Double] = {
    val out = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val everything = all ++ extra
    rounds.foreach { round =>
      val inside = everything.filter(s => s.id != round.id && s.end > round.start && s.start < round.end &&
        s.depth > round.depth).map(s => s.copy(start = math.max(s.start, round.start), end = math.min(s.end, round.end)))
      val cuts = (inside.flatMap(s => Seq(s.start, s.end)) ++ Seq(round.start, round.end)).distinct.sorted
      cuts.sliding(2).foreach {
        case Seq(a, b) if b > a =>
          val open = inside.filter(s => s.start <= a && s.end >= b)
          val byLane = open.groupBy(_.lane)
          // round-level containers (runner.run) give way to any busy op
          val lanes = byLane.filter { case (lane, ss) => lane != 0L || ss.exists(_.depth >= 4) || byLane.size == 1 }
          if (lanes.isEmpty) out(round.name) += (b - a) / 1e9
          else lanes.values.foreach { ss =>
            out(ss.maxBy(_.depth).name) += (b - a) / 1e9 / lanes.size
          }
        case _ =>
      }
    }
    out.toMap
  }
}

/** Raw engine events: jobs with their job group and stages, per-stage task
  * totals, and SQL executions with their AQE re-plans. Whether an event
  * belongs to the timed run is decided afterwards, from the round spans.
  */
final class EngineListener(t: Tracer) extends SparkListener {
  import EngineListener._
  val jobs = mutable.Map.empty[Int, Job]
  val jobEnd = mutable.Map.empty[Int, Long]
  val execs = mutable.Map.empty[Long, Exec]
  val execEnd = mutable.Map.empty[Long, Long]
  val replans = mutable.Map.empty[Long, Int].withDefaultValue(0)
  val stageTotals = mutable.Map.empty[Int, mutable.Map[String, Double]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = Job(group, t.fromEpochMs(e.time), e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobEnd(e.jobId) = t.fromEpochMs(e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = stageTotals.getOrElseUpdate(e.stageId, mutable.Map.empty[String, Double].withDefaultValue(0.0))
    c("engine.tasks") += 1
    if (e.reason != org.apache.spark.Success) c("engine.failed_tasks") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("engine.task_run_s") += m.executorRunTime / 1e3
      c("engine.task_cpu_s") += m.executorCpuTime / 1e9
      c("engine.gc_s") += m.jvmGCTime / 1e3
      c("engine.task_overhead_s") += math.max(0L, e.taskInfo.duration - m.executorRunTime) / 1e3
      c("engine.input_mb") += m.inputMetrics.bytesRead / 1e6
      c("engine.output_mb") += m.outputMetrics.bytesWritten / 1e6
      c("engine.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / 1e6
      c("engine.shuffle_read_mb") += m.shuffleReadMetrics.totalBytesRead / 1e6
      c("engine.shuffle_fetch_wait_s") += m.shuffleReadMetrics.fetchWaitTime / 1e3
      c("engine.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = Exec(s.jobGroupId.getOrElse(""), t.fromEpochMs(s.time))
      case s: SparkListenerSQLExecutionEnd => execEnd(s.executionId) = t.fromEpochMs(s.time)
      case a: SparkListenerSQLAdaptiveExecutionUpdate => replans(a.executionId) += 1
      case _ =>
    }
  }
}

object EngineListener {
  final case class Job(group: String, start: Long, stages: Seq[Int])
  final case class Exec(group: String, start: Long)
}

/** Planning phases (analysis, optimization, physical planning) per action,
  * with the epoch millis at which the action's analysis started.
  */
final class PlanningListener extends QueryExecutionListener {
  val phases = mutable.ArrayBuffer.empty[(Long, Map[String, Double])]
  private def add(qe: QueryExecution): Unit = synchronized {
    val p = qe.tracker.phases
    if (p.nonEmpty)
      phases += ((p.values.map(_.startTimeMs).min, p.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) / 1e3 }))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = add(qe)
}

/** Stream starts and per-micro-batch progress, with their epoch millis. */
final class StreamListener extends StreamingQueryListener {
  val started = mutable.ArrayBuffer.empty[Long]
  val progress = mutable.ArrayBuffer.empty[(Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]
  private def epochMs(iso: String): Long = java.time.Instant.parse(iso).toEpochMilli
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = synchronized {
    started += epochMs(e.timestamp)
  }
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    progress += ((epochMs(e.progress.timestamp), e.progress))
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
