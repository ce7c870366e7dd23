package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** The benchmark JVM. `run.py` builds it and calls
  *
  * {{{
  * perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *                    --bench-dir perfbench --work DIR --out result.json
  * perfbench.Main tables --bench-dir perfbench --work DIR
  * }}}
  *
  * `run` sets the workload up several times, warms it up with one cycle
  * under a different seed, then drives it closed-loop with one client for
  * whole cycles until `--seconds` of request time have passed and at least
  * [[MinSamples]] requests ran, checking every answer. With
  * `--trace 1` it first measures half as long untraced (for the tracing
  * overhead), then `--seconds` traced (without the sample minimum: per-layer
  * metrics have no bounds, and a traced run should cost about what an
  * untraced one does), and reports per-layer metrics and writes the spans. `tables` writes the query workload's tables and their
  * oracle SQL, from which `expected.py` derives the expected digests.
  */
object Main {
  implicit val formats: Formats = DefaultFormats

  /** Set-up runs this many times per run; setup_s takes the median. */
  val SetupRepeats = 3
  /** Warm-up cycles before measuring: each op's first execution in a JVM
    * pays class loading, JIT and code generation; one whole cycle takes
    * 17-25 s on 4 cores, and the run budget has room for no more. */
  val WarmupCycles = 1
  /** A measured window holds at least this many requests. */
  val MinSamples = 14

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("")
    val a = argv.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val benchDir = new File(a.getOrElse("bench-dir", "perfbench"))
    val work = new File(a("work")); work.mkdirs()
    val conf = JsonMethods.parse(new File(benchDir, "workloads.json"))
    mode match {
      case "tables" => tables(conf, work)
      case "run" =>
        val ok = run(conf, benchDir, work, a("workload"), a("seed").toLong, a("seconds").toDouble,
          a("trace") == "1", new File(a("out")))
        sys.exit(if (ok) 0 else 1)
      case other => System.err.println(s"unknown mode '$other'"); sys.exit(2)
    }
  }

  def session(work: File): SparkSession = {
    val k = Runtime.getRuntime.availableProcessors
    val s = SparkSession.builder().master(s"local[$k]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def workload(conf: JValue, name: String, benchDir: File): Workload =
    name match {
      case "graph" =>
        val g = conf \ "graph"
        new GraphWorkload((g \ "graph_seed").extract[Long], (g \ "scale").extract[Int],
          (g \ "edge_factor").extract[Int],
          (g \ "ops").extract[Map[String, Int]].toSeq.sortBy(_._1),
          (g \ "vacuum_every").extract[Int], (g \ "keep_last").extract[Int])
      case "queries" =>
        val q = conf \ "queries"
        val expected = JsonMethods.parse(new File(benchDir, "expected.json"))
        require((expected \ "sf").extract[Double] == (q \ "sf").extract[Double] &&
          (expected \ "data_seed").extract[Long] == (q \ "data_seed").extract[Long],
          "expected.json was generated for other tables; rerun expected.py")
        new QueryWorkload((q \ "list").extract[Seq[String]], (q \ "sf").extract[Double],
          (q \ "data_seed").extract[Long],
          (expected \ "digests").extract[Map[String, Map[String, JValue]]]
            .map { case (k, v) => k -> v("sha256").extract[String] })
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

  private def tables(conf: JValue, work: File): Unit = {
    val spark = session(work)
    val q = conf \ "queries"
    QueryWorkload.writeTables(spark, new File(work, "tables"), (q \ "sf").extract[Double],
      (q \ "data_seed").extract[Long])
    val sql = (q \ "list").extract[Seq[String]].map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
    java.nio.file.Files.writeString(new File(work, "oracle_sql.json").toPath,
      JsonMethods.compact(Extraction.decompose(sql)))
    spark.stop()
  }

  final case class Req(id: Int, op: String, ns: Long, ok: Boolean)

  /** Runs whole cycles, at least one, until `seconds` of loop time (minus
    * the benchmark's own time preparing requests and checking answers) have
    * passed and `more` no longer holds. */
  private[perfbench] def drive(spark: SparkSession, w: Workload, t: Tracer, rnd: SplittableRandom,
      firstId: Int, seconds: Double, more: Seq[Req] => Boolean = _ => false)
      : (Seq[Req], Double) = {
    val reqs = mutable.ArrayBuffer.empty[Req]
    var ownNs = 0L
    val t0 = System.nanoTime()
    def active = (System.nanoTime() - t0 - ownNs) / 1e9
    while (reqs.isEmpty || active < seconds || more(reqs.toSeq)) {
      w.cycle(rnd).foreach { op =>
        val id = firstId + reqs.size
        val c0 = System.nanoTime()
        val request = try Some(w.prepare(spark, op, rnd))
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"request $id ($op) could not be prepared: $e"); None }
        ownNs += System.nanoTime() - c0
        val r0 = System.nanoTime()
        val check = request.flatMap(r => try Some(t.request(id, op)(r(t)))
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"request $id ($op) threw: $e"); None })
        val ns = System.nanoTime() - r0
        val c1 = System.nanoTime()
        val ok = check.exists(c => try c() catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"check of request $id ($op) threw: $e"); false })
        if (!ok) System.err.println(s"request $id ($op) FAILED its check")
        ownNs += System.nanoTime() - c1
        reqs += Req(id, op, ns, ok)
      }
    }
    (reqs.toSeq, active)
  }

  /** Requests that threw or failed their check, plus failed end-of-run
    * checks; `failed_frac` is this over the requests attempted. */
  def failures(reqs: Seq[Req], finalFailed: Int): Int = reqs.count(!_.ok) + finalFailed

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM"))
    line.map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  private def codeCacheMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("CodeCache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  def run(conf: JValue, benchDir: File, work: File, name: String, seed: Long, seconds: Double,
      trace: Boolean, out: File): Boolean = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val w = workload(conf, name, benchDir)
    val k = Runtime.getRuntime.availableProcessors

    // Set-up, repeated; the median repetition is reported and the last one
    // serves the run.
    val inputs = (1 to SetupRepeats).map { i =>
      val dir = new File(work, s"setup-$i")
      val t0 = System.nanoTime()
      w.setup(spark, dir)
      (System.nanoTime() - t0) / 1e9
    }
    (1 until SetupRepeats).foreach(i =>
      org.apache.commons.io.FileUtils.deleteQuietly(new File(work, s"setup-$i")))
    val inputsS = Stats.median(inputs)
    val setupS = sessionS + inputsS

    // Warm-up: the same mix under another seed.
    val tracer = new Tracer(spark.sparkContext)
    val wrnd = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val w0 = System.nanoTime()
    val warm = (1 to WarmupCycles).flatMap(i =>
      drive(spark, w, tracer, wrnd, -1000000 * i, 0.0)._1)
    val warmupS = (System.nanoTime() - w0) / 1e9

    val rnd = new SplittableRandom(seed)
    val gc0 = gcMs
    val (untraced, untracedS) = drive(spark, w, tracer, rnd, 0,
      if (trace) seconds / 2 else seconds, rs => !trace && rs.size < MinSamples)
    val (measured, measuredS) = if (!trace) (untraced, untracedS) else {
      tracer.start()
      drive(spark, w, tracer, rnd, untraced.size, seconds)
    }
    val gcDelta = gcMs - gc0

    // Heap still reachable once the run is over: what the program keeps in
    // memory between requests (caches, persisted data, planner state).
    // Repeated collections with pauses between them: Spark's cleaner thread
    // releases persisted and checkpointed blocks only after their owners
    // have been collected, asynchronously.
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(500) }
    System.gc()
    val heapRetainedMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val (checked, finalFailed) = w.finalCheck(() => {
      spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      session(work)
    })

    val lat = measured.map(_.ns / 1e9)
    // Every request is checked, warm-up and (traced runs) untraced ones too.
    val all = (warm ++ (if (trace) untraced ++ measured else measured)).toSeq
    val failed = failures(all, finalFailed)
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]
    info("samples") = lat.size
    info("input_sha256") = w.inputDigest(seed)
    info("setup_repeats_s") = inputs
    info("warmup_s") = warmupS
    info("final_versions_checked") = checked
    info("failed_frac") = failed.toDouble / all.size
    info("latency_p90_s") = Stats.tailPercentile(lat, 90).fold(r => s"refused: $r", v => v)
    info("requests") = measured.map(r => Seq(r.op, r.ns / 1e9))
    info("per_op_p50_s") = measured.groupBy(_.op).map { case (op, rs) =>
      op -> Stats.median(rs.map(_.ns / 1e9)) }
    if (!trace) {
      metrics("setup_s") = setupS
      metrics("latency_p50_s") = Stats.median(lat)
      metrics("throughput_rps") = lat.size / measuredS
      metrics("heap_retained_mb") = heapRetainedMb
    } else {
      tracer.drain()
      val spans = tracer.benchSpans
      val ids = measured.map(_.id).toSet
      val n = ids.size.toDouble
      val tot = tracer.requestTotals(ids)
      val jobs = tracer.jobIntervals(ids)
      val byReq = jobs.groupBy(_._1)
      val roots = spans.filter(s => s.name.startsWith("request.") && ids(s.req))
      val driverOnly = roots.map(r =>
        Tracer.uncovered(r, byReq.getOrElse(r.req, Nil).map { case (_, a, b) => (a, b) }) / 1e9)
      val stagesRun = tracer.jobs.asScala.collect {
        case (_, j) if j.group.startsWith("req-") && ids(j.group.drop(4).toInt) =>
          j.stages.count(st => tracer.stageTotals.containsKey(st))
      }.sum
      val rootIds = roots.map(_.id).toSet
      val calls = spans.filter(s => rootIds(s.parent) &&
        (s.name.startsWith("GraphOps.") || s.name.startsWith("query.")))
      val rowsOut = spans.filter(_.name == "sink.collect").flatMap(_.attrs.get("rows")).sum
      val tracedTp = measured.size / measuredS
      val untracedTp = untraced.size / untracedS
      metrics ++= Seq(
        "spark.jobs_per_req" -> jobs.size / n,
        "spark.stages_per_req" -> stagesRun / n,
        "spark.tasks_per_req" -> tot.tasks / n,
        "spark.sched_wait_ms_per_req" ->
          (tot.durationMs - tot.runMs - tot.deserMs - tot.resultSerMs) / n,
        "spark.task_busy_frac" -> tot.runMs / 1000.0 / (measuredS * k),
        "spark.driver_only_s_per_req" -> driverOnly.sum / n,
        "spark.shuffle_read_bytes_per_req" -> tot.shuffleRead / n,
        "spark.shuffle_write_bytes_per_req" -> tot.shuffleWrite / n,
        "spark.spill_bytes" -> tot.spill.toDouble,
        "spark.failed_tasks" -> tot.failed.toDouble,
        "Tables.rows_scanned_per_req" -> tot.inputRecords / n,
        "Tables.bytes_scanned_per_req" -> tot.inputBytes / n,
        "Tables.rows_scanned_per_row_out" -> (if (rowsOut > 0) tot.inputRecords / rowsOut else 0.0),
        "request.plan_s" -> Workload.p50(calls.map(_.dur / 1e9)),
        "request.exec_s" -> Workload.spanP50(spans, "sink.collect"),
        "jvm.gc_ms_per_req" -> gcDelta / (untraced.size + measured.size).toDouble,
        "jvm.code_cache_mb" -> codeCacheMb,
        "jvm.rss_peak_mb" -> rssPeakMb,
        "setup.session_s" -> sessionS,
        "setup.inputs_s" -> inputsS,
        "setup.warmup_s" -> warmupS,
        "trace_overhead_frac" -> (tracedTp / untracedTp - 1))
      metrics ++= w.layerMetrics(tracer, spans)
      val spanFile = new File(out.getParentFile, s"spans-$name-$seed.jsonl")
      info("span_file") = spanFile.getPath
      info("spans") = tracer.write(spanFile.getPath)
    }
    val result = Map("correct" -> (failed == 0), "attempted" -> all.size, "failed" -> failed,
      "metrics" -> metrics.toMap, "info" -> info.toMap)
    java.nio.file.Files.writeString(out.toPath, JsonMethods.compact(Extraction.decompose(result)))
    failed == 0
  }
}
