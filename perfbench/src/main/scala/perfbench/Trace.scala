package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** A timed interval. `parent` is the id of the span that caused it (-1 for
  * a root); `req` is the request it belongs to (-1 outside requests).
  * Times are `System.nanoTime` for benchmark spans and are converted from
  * listener wall-clock milliseconds for job and stage spans. */
final case class Span(id: Int, parent: Int, req: Int, name: String, start: Long, end: Long,
    attrs: Map[String, Double] = Map.empty) {
  def dur: Long = end - start
}

/** Per-stage task totals, summed over the stage's tasks. */
final class TaskTotals {
  var tasks = 0L; var failed = 0L
  var durationMs = 0L; var runMs = 0L; var deserMs = 0L; var resultSerMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var inputBytes = 0L; var inputRecords = 0L
  def add(o: TaskTotals): Unit = {
    tasks += o.tasks; failed += o.failed; durationMs += o.durationMs; runMs += o.runMs
    deserMs += o.deserMs; resultSerMs += o.resultSerMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; inputBytes += o.inputBytes
    inputRecords += o.inputRecords
  }
}

/** In-memory span recorder. Benchmark code wraps each call into a layer in
  * [[span]]; a [[SparkListener]] records jobs, stages and task totals, tied
  * to their request through the job group the benchmark sets per request.
  * Until [[start]] nothing is recorded and [[span]] is a plain
  * pass-through. Nothing is written until [[write]] at the end of the run. */
final class Tracer(sc: SparkContext) {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, String, Long)]
  private var nextId = 0
  private var req = -1
  // nanoTime = wallMs * 1e6 + offset, for mapping listener times.
  private val nanoOffset = System.nanoTime() - System.currentTimeMillis() * 1000000L

  /** Listener-side records, keyed by job / stage id. */
  final case class JobRec(group: String, start: Long, var end: Long, stages: Seq[Int])
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stageTotals = new java.util.concurrent.ConcurrentHashMap[Int, TaskTotals]()
  val stageTimes = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()

  private val listener = new SparkListener {
    private def wall(ms: Long) = ms * 1000000L + nanoOffset
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs.put(e.jobId, JobRec(g.getOrElse(""), wall(e.time), -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = wall(e.time))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stageTimes.put(i.stageId, (wall(i.submissionTime.getOrElse(0L)),
        wall(i.completionTime.getOrElse(0L))))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val t = new TaskTotals
      t.tasks = 1
      if (!e.taskInfo.successful) t.failed = 1
      t.durationMs = e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        t.runMs = m.executorRunTime; t.deserMs = m.executorDeserializeTime
        t.resultSerMs = m.resultSerializationTime
        t.shuffleRead = m.shuffleReadMetrics.totalBytesRead
        t.shuffleWrite = m.shuffleWriteMetrics.bytesWritten
        t.spill = m.memoryBytesSpilled + m.diskBytesSpilled
        t.inputBytes = m.inputMetrics.bytesRead; t.inputRecords = m.inputMetrics.recordsRead
      }
      stageTotals.computeIfAbsent(e.stageId, _ => new TaskTotals).synchronized {
        stageTotals.get(e.stageId).add(t)
      }
    }
  }
  /** Registers the listener and turns span recording on. */
  def start(): Unit = { sc.addSparkListener(listener); enabled = true }

  /** Waits (up to 10 s) until the asynchronous listener has seen every
    * started job end, then for one more quiet interval. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (jobs.values.stream.anyMatch(_.end < 0) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }

  /** Starts request `id`: its job group, and the root span. */
  def request[T](id: Int, op: String)(body: => T): T = {
    req = id
    sc.setJobGroup(s"req-$id", op, interruptOnCancel = false)
    try span(s"request.$op")(body)
    finally { sc.clearJobGroup(); req = -1 }
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack.push((id, name, System.nanoTime()))
      try body
      finally {
        val (_, _, t0) = stack.pop()
        spans += Span(id, parent, req, name, t0, System.nanoTime())
      }
    }

  /** Adds attributes to the most recently closed span named `name`. */
  def annotate(name: String, attrs: Map[String, Double]): Unit = if (enabled) {
    val i = spans.lastIndexWhere(_.name == name)
    if (i >= 0) spans(i) = spans(i).copy(attrs = spans(i).attrs ++ attrs)
  }

  def benchSpans: Seq[Span] = spans.toSeq

  /** Job and stage spans: a job's parent is the innermost benchmark span of
    * its request that contains the job's start; a stage's parent is its
    * job. Stage spans carry their task totals as attributes. */
  def sparkSpans(): Seq[Span] = {
    val byReq = spans.groupBy(_.req)
    var id = nextId + 1000000
    val out = mutable.ArrayBuffer.empty[Span]
    jobs.forEach { (jobId, j) =>
      val r = if (j.group.startsWith("req-")) j.group.drop(4).toInt else -1
      val parent = byReq.getOrElse(r, Nil).filter(s => s.start <= j.start && j.start <= s.end)
        .sortBy(_.dur).headOption.map(_.id).getOrElse(-1)
      val jid = id; id += 1
      out += Span(jid, parent, r, s"spark.job", j.start, math.max(j.end, j.start),
        Map("job_id" -> jobId.toDouble))
      j.stages.foreach { st =>
        Option(stageTimes.get(st)).foreach { case (s0, s1) =>
          val t = Option(stageTotals.get(st)).getOrElse(new TaskTotals)
          out += Span(id, jid, r, "spark.stage", s0, math.max(s1, s0), Map(
            "stage_id" -> st.toDouble, "tasks" -> t.tasks.toDouble,
            "run_ms" -> t.runMs.toDouble, "shuffle_read" -> t.shuffleRead.toDouble,
            "shuffle_write" -> t.shuffleWrite.toDouble, "input_bytes" -> t.inputBytes.toDouble,
            "input_records" -> t.inputRecords.toDouble))
          id += 1
        }
      }
    }
    out.toSeq
  }

  /** Task totals of all stages of the jobs of requests `reqs`. */
  def requestTotals(reqs: Set[Int]): TaskTotals = {
    val t = new TaskTotals
    val seen = mutable.Set.empty[Int]
    jobs.forEach { (_, j) =>
      if (j.group.startsWith("req-") && reqs(j.group.drop(4).toInt))
        j.stages.foreach { st =>
          if (seen.add(st)) Option(stageTotals.get(st)).foreach(t.add)
        }
    }
    t
  }

  def jobIntervals(reqs: Set[Int]): Seq[(Int, Long, Long)] = {
    val out = mutable.ArrayBuffer.empty[(Int, Long, Long)]
    jobs.forEach { (_, j) =>
      if (j.group.startsWith("req-") && reqs(j.group.drop(4).toInt))
        out += ((j.group.drop(4).toInt, j.start, math.max(j.end, j.start)))
    }
    out.toSeq
  }

  /** A span's duration minus the part of it its children cover. */
  def selfTimes(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map(s => s.id -> Tracer.uncovered(s, kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))))
      .toMap
  }

  /** Writes all spans as JSON lines: name, start/end (ns, relative to the
    * first span), parent, request, self time and attributes. */
  def write(path: String): Int = {
    val all = benchSpans ++ sparkSpans()
    val self = selfTimes(all)
    val t0 = if (all.isEmpty) 0L else all.map(_.start).min
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.sortBy(_.start).foreach { s =>
      val a = s.attrs.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},"name":"${s.name}",""" +
        s""""start_ns":${s.start - t0},"end_ns":${s.end - t0},"self_ns":${self(s.id)},"attrs":{$a}}""")
    } finally w.close()
    all.size
  }
}

object Tracer {
  /** The part of span `s` that none of `intervals` covers, in ns. */
  def uncovered(s: Span, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L; var end = s.start
    intervals.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    s.dur - covered
  }
}
