package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  private lazy val graph = new GraphWorkload(0, 8, 4,
    Seq("bfsLevels" -> 2, "commit" -> 1, "sssp" -> 1), 4, 3)
  private lazy val queries = new QueryWorkload(Seq("q_a", "q_b", "q_c"), 0.0005, 7,
    Map.empty)

  test("the same seed gives identical inputs, another seed different ones") {
    assert(graph.inputDigest(1) == graph.inputDigest(1))
    assert(graph.inputDigest(1) != graph.inputDigest(2))
    assert(queries.inputDigest(1) == queries.inputDigest(1))
    assert(queries.inputDigest(1) != queries.inputDigest(2))
    val (a, b) = (GraphGen.rmat(8, 4, 5), GraphGen.rmat(8, 4, 5))
    assert(a.src.sameElements(b.src) && a.dst.sameElements(b.dst) && a.w.sameElements(b.w))
  }

  test("the median of an even sample is the mean of its two middle values") {
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
  }

  test("the tail-percentile rule refuses a p90 with fewer than 10 samples beyond it") {
    val fifty = (1 to 50).map(_.toDouble)
    assert(Stats.tailPercentile(fifty, 90).isLeft)
    val hundred = (1 to 100).map(_.toDouble)
    assert(Stats.tailPercentile(hundred, 90) == Right(90.0))
    // ties at the top leave nothing strictly beyond the percentile
    assert(Stats.tailPercentile(Seq.fill(200)(1.0), 90).isLeft)
  }

  test("a corrupted answer and a thrown request count as failed") {
    val g = GraphGen.rmat(8, 4, 3)
    val start = (0 until g.n).find(g.outDegree(_) > 0).get.toLong
    val ref = Refs.bfsLevels(g, start).map { case (v, l) => (v, l.toLong) }
    val w = new Workload {
      val name = "corrupting"
      def setup(spark: SparkSession, dir: java.io.File): Unit = ()
      def cycle(rnd: SplittableRandom): Seq[String] = Seq("good", "corrupt", "throw")
      def inputDigest(seed: Long): String = ""
      def prepare(spark: SparkSession, op: String, rnd: SplittableRandom) = _ => {
        val got = op match {
          case "good" => ref.clone()
          case "corrupt" => ref.updated(ref.length - 1, (ref.last._1, ref.last._2 + 1))
          case _ => throw new IllegalStateException("request failed")
        }
        () => GraphWorkload.sameRows(got, ref)
      }
    }
    val spark = SparkSession.builder().master("local[1]").config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val (reqs, _) = Main.drive(spark, w, new Tracer(spark.sparkContext),
        new SplittableRandom(1), 0, 0.0)
      assert(reqs.map(_.op) == Seq("good", "corrupt", "throw"))
      assert(Main.failures(reqs, 0) == 2)
      assert(Main.failures(reqs, 1) == 3)
    } finally spark.stop()
  }
}
