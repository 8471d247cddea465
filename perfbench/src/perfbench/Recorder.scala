package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One reported value, its unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, n: Int = 1)

object Stats {
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** A p90 needs at least ten samples beyond it. */
  def p90Supported(n: Int): Boolean = n >= 100
}

/** A timed interval: `parent` is the enclosing span's id, `opId` the
  * script operation it belongs to (its Spark job group).
  */
final case class Span(id: String, name: String, startMs: Long, endMs: Long,
    parent: String, opId: String)

/** Times every call the benchmark makes into graft.
  *
  * `op` wraps one script operation: it is counted as attempted, and
  * either its wall time is sampled under its kind or it is counted as
  * failed (a failed call never enters a latency sample). `phase` times a
  * sub-step without counting it as an operation. With tracing on, every
  * operation runs under its own Spark job group so the listener's job,
  * stage and task events can be attributed to it afterwards.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  val attempted = mutable.LinkedHashMap.empty[String, Int]
  val failed = mutable.LinkedHashMap.empty[String, Int]
  val errors = mutable.LinkedHashMap.empty[String, String]
  val wallMs = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val notes = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val spans = ArrayBuffer.empty[Span]
  val opKind = mutable.LinkedHashMap.empty[String, String]
  private var seq = 0
  private var stack: List[String] = Nil
  private var currentOp = ""

  private def sample(into: mutable.Map[String, ArrayBuffer[Double]],
      key: String, v: Double): Unit =
    into.getOrElseUpdate(key, ArrayBuffer.empty) += v

  /** Record a value under `key` (a count or time noted by the caller). */
  def note(key: String, v: Double): Unit = sample(notes, key, v)

  private def timed[T](name: String, isOp: Boolean)(body: => T): T = {
    seq += 1
    val id = s"$name#$seq"
    val parent = stack.headOption.getOrElse("")
    val outerOp = currentOp
    if (isOp) {
      currentOp = id
      opKind(id) = name
      if (traced) sc.setJobGroup(id, name, interruptOnCancel = false)
    }
    stack = id :: stack
    val s0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = body
      val ms = (System.nanoTime() - t0) / 1e6
      sample(if (isOp) wallMs else notes, if (isOp) name else s"$name.wall_ms", ms)
      r
    } finally {
      stack = stack.tail
      if (traced) spans += Span(id, name, s0, System.currentTimeMillis(),
        parent, currentOp)
      if (isOp) {
        currentOp = outerOp
        if (traced) {
          if (outerOp.isEmpty) sc.clearJobGroup()
          else sc.setJobGroup(outerOp, opKind(outerOp), interruptOnCancel = false)
        }
      }
    }
  }

  /** One counted script operation; None when the call threw. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted(kind) = attempted.getOrElse(kind, 0) + 1
    try Some(timed(kind, isOp = true)(body))
    catch {
      case NonFatal(e) =>
        failed(kind) = failed.getOrElse(kind, 0) + 1
        errors.getOrElseUpdate(kind,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
        None
    }
  }

  /** A timed sub-step (sampled as `<name>.wall_ms`), not an operation. */
  def phase[T](name: String)(body: => T): T = timed(name, isOp = false)(body)

  def totalAttempted: Int = attempted.values.sum
  def totalFailed: Int = failed.values.sum

  /** Latency summary of one operation kind: median always, p90 only
    * when the sample supports it, each with its sample count.
    */
  def latency(kind: String, prefix: String): Seq[Metric] =
    wallMs.get(kind).filter(_.nonEmpty).toSeq.flatMap { xs =>
      Metric(s"${prefix}_p50_ms", Stats.median(xs), "ms", xs.size) +:
        (if (Stats.p90Supported(xs.size))
          Seq(Metric(s"${prefix}_p90_ms", Stats.quantile(xs, 0.9), "ms", xs.size))
        else Nil)
    }

  /** Items handled per second of wall time spent in the given kinds. */
  def rate(name: String, unit: String, kinds: Seq[String],
      itemsPerOp: String => Double): Option[Metric] = {
    val ks = kinds.filter(k => wallMs.get(k).exists(_.nonEmpty))
    if (ks.isEmpty) None
    else {
      val ms = ks.map(k => wallMs(k).sum).sum
      val items = ks.map(k => wallMs(k).size * itemsPerOp(k)).sum
      Some(Metric(name, items / (ms / 1000.0), unit, ks.map(wallMs(_).size).sum))
    }
  }
}

/** Spark listener that keeps job and task events in memory, for
  * attribution to script operations through their job group.
  */
final class JobTrace extends SparkListener {
  import JobTrace._

  val jobs = ArrayBuffer.empty[Job]
  val tasks = ArrayBuffer.empty[Task]
  private val byId = mutable.Map.empty[Int, Job]
  @volatile private var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val j = new Job(e.jobId, g, e.time, e.stageIds)
    jobs += j; byId(e.jobId) = j; events += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time); events += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      val gettingResult =
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val delay = math.max(0L, (i.finishTime - i.launchTime) -
        m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult)
      tasks += Task(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, delay, m.jvmGCTime,
        m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wait until every started job has ended and events stopped arriving
    * (the listener bus delivers asynchronously).
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    var last = -1L
    var done = false
    while (!done && System.currentTimeMillis() < deadline) {
      Thread.sleep(150)
      val (n, open) = synchronized((events, jobs.exists(_.end < 0)))
      done = !open && n == last
      last = n
    }
  }

  /** Per-operation Spark figures for the ops in `ops` (id -> span). */
  def perOp(ops: Seq[Span]): Map[String, Map[String, Double]] = synchronized {
    val stageJob = mutable.Map.empty[Int, Job]
    jobs.foreach(j => j.stages.foreach(s => stageJob.getOrElseUpdate(s, j)))
    val tasksByGroup = tasks.groupBy(t => stageJob.get(t.stage).map(_.group).getOrElse(""))
    val jobsByGroup = jobs.groupBy(_.group)
    ops.map { sp =>
      val js = jobsByGroup.getOrElse(sp.id, Nil)
      val ts = tasksByGroup.getOrElse(sp.id, Nil)
      // union of job intervals clipped to the call
      val iv = js.map(j => (math.max(j.start, sp.startMs),
        math.min(if (j.end < 0) sp.endMs else j.end, sp.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      sp.id -> Map(
        "jobs" -> js.size.toDouble,
        "tasks" -> ts.size.toDouble,
        "exec_run_ms" -> ts.map(_.runMs).sum.toDouble,
        "exec_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
        "scheduler_delay_ms" -> ts.map(_.schedDelayMs).sum.toDouble,
        "gc_ms" -> ts.map(_.gcMs).sum.toDouble,
        "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "outside_jobs_ms" -> math.max(0L, (sp.endMs - sp.startMs) - covered).toDouble)
    }.toMap
  }

  /** Job and task events as child spans of the operation that ran them. */
  def childSpans(): Seq[Span] = synchronized {
    val stageJob = mutable.Map.empty[Int, Job]
    jobs.foreach(j => j.stages.foreach(s => stageJob.getOrElseUpdate(s, j)))
    jobs.toSeq.map(j => Span(s"job-${j.id}", "spark.job", j.start, j.end,
      j.group, j.group)) ++
      tasks.toSeq.zipWithIndex.map { case (t, i) =>
        val j = stageJob.get(t.stage)
        Span(s"task-$i", s"spark.task.stage-${t.stage}", t.launch, t.finish,
          j.map(x => s"job-${x.id}").getOrElse(""), j.map(_.group).getOrElse(""))
      }
  }
}

object JobTrace {
  final class Job(val id: Int, val group: String, val start: Long,
      val stages: Seq[Int]) { @volatile var end: Long = -1L }
  final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
      cpuNs: Long, schedDelayMs: Long, gcMs: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long)
}
