package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.plans.GraphOps
import graft.sources.VersionedGraphStore

/** One closed-loop traffic mix. The runner calls [[setup]] several times
  * (each into a fresh directory; the last one serves the run), then draws
  * whole cycles from [[cycle]]. For each op, [[prepare]] does the
  * benchmark's own untimed work (drawing arguments, editing the model) and
  * returns the request, which the runner times; the request returns the
  * deferred output check, evaluated outside the timed section. */
trait Workload {
  def name: String
  def setup(spark: SparkSession, dir: File): Unit
  /** One cycle: a fixed multiset of op names, in a seeded order. */
  def cycle(rnd: SplittableRandom): Seq[String]
  def prepare(spark: SparkSession, op: String, rnd: SplittableRandom): Tracer => (() => Boolean)
  /** End-of-run checks against a fresh session; returns (checked, failed). */
  def finalCheck(fresh: () => SparkSession): (Int, Int) = (0, 0)
  /** Digest of the generated inputs and of the first cycles' op order for
    * `seed` (the same seed must give the same digest). */
  def inputDigest(seed: Long): String

  /** Workload-specific per-layer metrics from the traced spans. */
  def layerMetrics(t: Tracer, spans: Seq[Span]): Map[String, Double] = Map.empty
}

object Workload {
  def shuffled[T: scala.reflect.ClassTag](xs: Seq[T], rnd: SplittableRandom): Seq[T] = {
    val a = xs.toArray
    for (i <- a.length - 1 to 1 by -1) {
      val j = rnd.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x
    }
    a.toSeq
  }

  def scheduleDigest(w: Workload, seed: Long, cycles: Int = 4): String = {
    val rnd = new SplittableRandom(seed)
    Canon.sha256(Seq.fill(cycles)(w.cycle(rnd).mkString(",")).mkString(";"))
  }

  def dirBytes(f: File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirBytes).sum

  def dirFiles(f: File): Int =
    if (f.isFile) 1 else Option(f.listFiles()).getOrElse(Array.empty[File]).map(dirFiles).sum

  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** p50 seconds of the spans named `name`. */
  def spanP50(spans: Seq[Span], name: String): Double =
    p50(spans.filter(_.name == name).map(_.dur / 1e9))
}

/** GraphOps reads and VersionedGraphStore commits on one R-MAT graph (fixed
  * by `graphSeed`; the run seed draws the requests): the reference system's
  * read path (BFS, DFS-leaf, plus SSSP, personalized PageRank and connected
  * components) and its primary-server write path (whole-graph replace), each
  * read loading the latest snapshot. */
final class GraphWorkload(graphSeed: Long, scale: Int, edgeFactor: Int,
    weights: Seq[(String, Int)], vacuumEvery: Int, keepLast: Int) extends Workload {
  val name = "graph"
  import GraphWorkload._

  private var store: File = _
  /** Model of every retained version: version id -> graph. */
  private val model = mutable.LinkedHashMap.empty[Long, Graph]
  private var commits = 0
  private val commitStats = mutable.ArrayBuffer.empty[(Long, Int, Int)] // bytes, files, changed
  private val refCache = mutable.HashMap.empty[(Long, String, Long), AnyRef]

  private def latest: (Long, Graph) = model.last

  private def frame(spark: SparkSession, g: Graph): DataFrame = {
    import spark.implicits._
    g.src.indices.map(i => (g.src(i), g.dst(i), g.w(i))).toDF("src", "dst", "w")
  }

  def setup(spark: SparkSession, dir: File): Unit = {
    model.clear(); refCache.clear(); startCache.clear(); commitStats.clear(); commits = 0
    store = new File(dir, "store")
    val g = GraphGen.rmat(scale, edgeFactor, graphSeed)
    val v = VersionedGraphStore.commit(frame(spark, g), store.getPath)
    model(v) = g
  }

  def cycle(rnd: SplittableRandom): Seq[String] =
    Workload.shuffled(weights.flatMap { case (op, k) => Seq.fill(k)(op) }, rnd)

  def inputDigest(seed: Long): String = {
    val g = GraphGen.rmat(scale, edgeFactor, graphSeed)
    Canon.sha256(edgeSet(g).mkString(",") + "|" + Workload.scheduleDigest(this, seed))
  }

  private val startCache = mutable.HashMap.empty[Long, Array[Long]]

  /** Start vertices are the 1/16 of vertices with the most out-edges whose
    * BFS reaches the modal depth among them. A traversal's cost is set by
    * its number of supersteps, so fixing the depth keeps requests of one op
    * comparable across seeds and versions; the hubs' traversals cover the
    * giant component. */
  private def startsOf(g: Graph): Array[Long] = {
    val hubs = (0 until g.n).sortBy(v => (-g.outDegree(v), v)).take(math.max(1, g.n / 16))
      .map(_.toLong)
    val depth = hubs.map(h => h -> Refs.bfsLevels(g, h).map(_._2).max).toMap
    val modal = depth.values.groupBy(identity).maxBy { case (d, n) => (n.size, -d) }._1
    hubs.filter(depth(_) == modal).toArray
  }

  def prepare(spark: SparkSession, op: String, rnd: SplittableRandom): Tracer => (() => Boolean) =
    if (op == "commit") commit(spark, rnd)
    else {
      val (ver, g) = latest
      val cand = startCache.getOrElseUpdate(ver, startsOf(g))
      val start = cand(rnd.nextInt(cand.length))
      t => read(spark, t, op, ver, g, start)
    }

  private def read(spark: SparkSession, t: Tracer, op: String, ver: Long, g: Graph,
      start: Long): () => Boolean = {
    val e = t.span("VersionedGraphStore.load")(VersionedGraphStore.load(spark, store.getPath))
    val out = op match {
      case "connectedComponents" =>
        val sym = e.select("src", "dst").union(e.select(col("dst").as("src"), col("src").as("dst")))
        t.span(s"GraphOps.$op")(GraphOps.connectedComponents(spark, sym))
      case "bfsLevels" => t.span(s"GraphOps.$op")(GraphOps.bfsLevels(spark, e, start))
      case "bfsTreeLeaves" => t.span(s"GraphOps.$op")(GraphOps.bfsTreeLeaves(spark, e, start))
      case "sssp" => t.span(s"GraphOps.$op")(GraphOps.sssp(spark, e, start))
      case "personalizedPageRank" =>
        t.span(s"GraphOps.$op")(GraphOps.personalizedPageRank(spark, e, start))
    }
    val rows = t.span("sink.collect")(out.collect())
    t.annotate("sink.collect", Map("rows" -> rows.length.toDouble))
    if (op == "bfsLevels")
      t.annotate("GraphOps.bfsLevels",
        Map("levels" -> (if (rows.isEmpty) 0.0 else rows.map(_.getInt(1)).max + 1.0)))
    () => check(op, ver, g, start, rows)
  }

  private def check(op: String, ver: Long, g: Graph, start: Long, rows: Array[Row]): Boolean = {
    val key = (ver, op, if (op == "connectedComponents") -1L else start)
    def ref[T <: AnyRef](f: => T): T = refCache.getOrElseUpdate(key, f).asInstanceOf[T]
    op match {
      case "bfsLevels" =>
        sameRows(rows.map(r => (r.getLong(0), r.getInt(1).toLong)),
          ref(Refs.bfsLevels(g, start)).map { case (v, l) => (v, l.toLong) })
      case "bfsTreeLeaves" =>
        sameRows(rows.map(r => (r.getLong(0), r.getInt(1).toLong)),
          ref(Refs.bfsTreeLeaves(g, start)).map { case (v, l) => (v, l.toLong) })
      case "sssp" => sameRows(rows.map(r => (r.getLong(0), r.getLong(1))), ref(Refs.sssp(g, start)))
      case "connectedComponents" =>
        sameRows(rows.map(r => (r.getLong(0), r.getLong(1))), ref(Refs.connectedComponents(g)))
      case "personalizedPageRank" =>
        val got = rows.map(r => (r.getLong(0), r.getDouble(1))).sortBy(_._1)
        val want = ref(Refs.personalizedPageRank(g, start))
        got.length == want.length && got.zip(want).forall { case ((v, a), (u, b)) =>
          v == u && Refs.close(a, b)
        }
    }
  }

  private def commit(spark: SparkSession, rnd: SplittableRandom): Tracer => (() => Boolean) = {
    val (next, changed) = GraphWorkload.edit(latest._2, rnd)
    val nextStarts = startsOf(next)
    commits += 1
    t => {
      val v = t.span("VersionedGraphStore.commit")(
        VersionedGraphStore.commit(frame(spark, next), store.getPath))
      model(v) = next
      startCache(v) = nextStarts
      val dropped = if (commits % vacuumEvery != 0) Nil else t.span("VersionedGraphStore.vacuum")(
        VersionedGraphStore.vacuum(store.getPath, keepLast, graceMs = 0L))
      dropped.foreach(model.remove)
      () => {
        // the benchmark's own state for dropped versions goes too, so the
        // heap measured at the end of the run is the program's
        refCache.keys.filter(k => dropped.contains(k._1)).foreach(refCache.remove)
        dropped.foreach(startCache.remove)
        val snap = new File(store, manifest(store, v))
        commitStats += ((Workload.dirBytes(snap), Workload.dirFiles(snap), changed))
        VersionedGraphStore.versions(store.getPath) == model.keys.toSeq
      }
    }
  }

  override def finalCheck(fresh: () => SparkSession): (Int, Int) = {
    val spark = fresh()
    val vs = VersionedGraphStore.versions(store.getPath)
    val failed = vs.count { v =>
      val want = model.get(v).map(edgeSet)
      val got = VersionedGraphStore.loadAt(spark, store.getPath, v)
        .select("src", "dst", "w").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
      !want.contains(got)
    }
    (vs.size, failed + (if (vs == model.keys.toSeq) 0 else 1))
  }

  override def layerMetrics(t: Tracer, spans: Seq[Span]): Map[String, Double] = {
    val bfs = spans.filter(_.name == "GraphOps.bfsLevels")
    val jobs = t.sparkSpans().filter(_.name == "spark.job")
    val jobsPerLevel = bfs.flatMap { s =>
      val n = jobs.count(j => j.req == s.req && j.start >= s.start && j.start <= s.end)
      s.attrs.get("levels").filter(_ > 0).map(n / _)
    }
    val live = latest._2.m
    val stats = commitStats.toSeq
    Map(
      "GraphOps.jobs_per_level" -> Workload.p50(jobsPerLevel),
      "VersionedGraphStore.bytes_written_per_commit" -> Workload.p50(stats.map(_._1.toDouble)),
      "VersionedGraphStore.files_per_commit" -> Workload.p50(stats.map(_._2.toDouble)),
      "VersionedGraphStore.write_amp" -> (if (stats.isEmpty) 0.0
        else stats.map(_._1).sum.toDouble / (16.0 * stats.map(_._3).sum)),
      "bytes_stored_per_user_byte" -> Workload.dirBytes(store) / (16.0 * live)
    ) ++ Seq("bfsLevels", "bfsTreeLeaves", "sssp", "personalizedPageRank",
      "connectedComponents").map(op => s"GraphOps.${op}_s" -> Workload.spanP50(spans, s"GraphOps.$op")) ++
      Seq("commit", "load", "vacuum").map(op =>
        s"VersionedGraphStore.${op}_s" -> Workload.spanP50(spans, s"VersionedGraphStore.$op"))
  }
}

object GraphWorkload {
  def edgeSet(g: Graph): Seq[(Long, Long, Long)] =
    g.src.indices.map(i => (g.src(i), g.dst(i), g.w(i))).sorted

  def manifest(store: File, v: Long): String =
    java.nio.file.Files.readString(new File(store, f"_manifests/v$v%08d.manifest").toPath)
      .linesIterator.next().trim

  /** A seeded edit batch: about 1 % of the edges deleted and as many new
    * distinct non-loop edges inserted. Returns the new graph and the number
    * of edges changed. */
  def edit(g: Graph, rnd: SplittableRandom): (Graph, Int) = {
    val k = math.max(1, g.m / 100)
    val drop = mutable.HashSet.empty[Int]
    while (drop.size < k) drop += rnd.nextInt(g.m)
    val keep = (0 until g.m).filterNot(drop)
    val present = mutable.HashSet.empty[Long]
    keep.foreach(i => present += Graph.key(g.src(i), g.dst(i)))
    val add = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    while (add.size < k) {
      val (u, v) = (rnd.nextInt(g.n).toLong, rnd.nextInt(g.n).toLong)
      if (u != v && present.add(Graph.key(u, v))) add += ((u, v, 1L + rnd.nextInt(100)))
    }
    val next = Graph(g.n, keep.map(g.src).toArray ++ add.map(_._1), keep.map(g.dst).toArray ++
      add.map(_._2), keep.map(g.w).toArray ++ add.map(_._3))
    (next, 2 * k)
  }

  def sameRows(got: Array[(Long, Long)], want: Array[(Long, Long)]): Boolean =
    got.sortBy(_._1).sameElements(want)
}

/** A fixed list of oracled `SparkEntry.queries` over deterministic tables.
  * Each request runs one query function and collects its result, whose
  * digest must equal the stored DuckDB digest. */
final class QueryWorkload(queries: Seq[String], sf: Double, dataSeed: Long,
    expected: Map[String, String]) extends Workload {
  val name = "queries"
  private var data: File = _

  def setup(spark: SparkSession, dir: File): Unit = {
    data = new File(dir, "tables")
    QueryWorkload.writeTables(spark, data, sf, dataSeed)
  }

  def cycle(rnd: SplittableRandom): Seq[String] = Workload.shuffled(queries, rnd)

  def inputDigest(seed: Long): String = Canon.sha256(
    TableGen.tables(sf, dataSeed).map(t => t.name + t.rows.mkString(",")).mkString("|") + "|" +
      Workload.scheduleDigest(this, seed))

  def prepare(spark: SparkSession, op: String, rnd: SplittableRandom): Tracer => (() => Boolean) =
    t => {
      val df = t.span(s"query.$op")(graft.SparkEntry.queries(op)(spark, data.getPath))
      val rows = t.span("sink.collect")(df.collect())
      t.annotate("sink.collect", Map("rows" -> rows.length.toDouble))
      () => expected.get(op).contains(Canon.digest(df.schema, rows))
    }

  override def layerMetrics(t: Tracer, spans: Seq[Span]): Map[String, Double] =
    queries.map(q => s"query.$q.p50_s" -> Workload.spanP50(spans, s"query.$q")).toMap
}

object QueryWorkload {
  /** Writes the tables as single parquet files `<dir>/<table>.parquet`,
    * the layout of the engine's fixtures. */
  def writeTables(spark: SparkSession, dir: File, sf: Double, seed: Long): Unit = {
    val tmp = new File(dir, "_tmp")
    TableGen.tables(sf, seed).foreach { tb =>
      val out = new File(tmp, tb.name)
      spark.createDataFrame(java.util.Arrays.asList(tb.rows: _*), tb.schema)
        .coalesce(1).write.mode("overwrite").parquet(out.getPath)
      val part = out.listFiles().filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, new File(dir, s"${tb.name}.parquet").toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }
}
