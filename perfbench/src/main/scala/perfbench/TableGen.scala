package perfbench

import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Deterministic star schema plus event, document and embedding tables,
  * shaped like the engine's test fixtures (same table names, column names,
  * types and value domains), so `SparkEntry.queries` and their DuckDB
  * oracles run on it unchanged. Row counts scale with `sf` the way the
  * fixtures do (lineitem ≈ 6M × sf); documents and embeddings are fixed at
  * 500 rows. The tables are a pure function of `(sf, seed)`.
  */
object TableGen {
  val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  val Adjectives = Array("small", "large", "red", "blue", "hot", "cold", "old", "new")
  val Nouns = Array("widget", "bolt", "gear", "gizmo", "ring", "plate", "anvil")
  val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes = Array("click", "error", "purchase", "signup", "view")
  val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")
  val Words = Array("join", "hash", "row", "batch", "scan", "column", "customer",
    "filter", "small", "slow", "merge", "order", "vector", "line", "table", "data",
    "agg", "value", "key", "stream", "window", "a", "spark", "part", "group", "big",
    "sort", "query", "fast", "the")
  val Docs = 500
  val Dim = 64

  private def cents(x: Double): Double = math.round(x * 100) / 100.0

  private def day(d: LocalDate): LocalDateTime = d.atStartOfDay()

  final case class Table(name: String, schema: StructType, rows: Seq[Row])

  def tables(sf: Double, seed: Long): Seq[Table] = {
    val rnd = new SplittableRandom(seed)
    def pick[T](a: Array[T]): T = a(rnd.nextInt(a.length))
    def uniform(lo: Double, hi: Double): Double = lo + (hi - lo) * rnd.nextDouble()
    val nCust = math.max(10, (150000 * sf).toInt)
    val nSupp = math.max(5, (10000 * sf).toInt)
    val nPart = math.max(20, (200000 * sf).toInt)
    val nOrd = math.max(50, (1500000 * sf).toInt)
    val nUsers = math.max(10, (15000 * sf).toInt)
    val nEvents = math.max(100, (1000000 * sf).toInt)

    val region = Table("region",
      StructType(Seq(StructField("r_regionkey", IntegerType), StructField("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    val nation = Table("nation",
      StructType(Seq(StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
        StructField("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    val customer = Table("customer",
      StructType(Seq(StructField("c_custkey", LongType), StructField("c_name", StringType),
        StructField("c_nationkey", IntegerType), StructField("c_acctbal", DoubleType),
        StructField("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25),
        cents(uniform(-999.99, 9999.99)), pick(Segments))))
    val supplier = Table("supplier",
      StructType(Seq(StructField("s_suppkey", LongType), StructField("s_name", StringType),
        StructField("s_nationkey", IntegerType), StructField("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25),
        cents(uniform(-999.99, 9999.99)))))
    val retail = Array.tabulate(nPart)(i => 900.0 + (i % 1000) / 10.0)
    val part = Table("part",
      StructType(Seq(StructField("p_partkey", LongType), StructField("p_name", StringType),
        StructField("p_brand", StringType), StructField("p_type", StringType),
        StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong, s"${pick(Adjectives)} ${pick(Nouns)}",
        s"Brand#${1 + rnd.nextInt(25)}", pick(PartTypes), 1 + rnd.nextInt(50), retail(i))))

    val first = LocalDate.of(1995, 1, 1)
    val orderDays = java.time.temporal.ChronoUnit.DAYS.between(first, LocalDate.of(2001, 8, 1)).toInt
    val ordRows = Seq.newBuilder[Row]
    val lineRows = Seq.newBuilder[Row]
    for (o <- 0 until nOrd) {
      val od = first.plusDays(rnd.nextInt(orderDays + 1).toLong)
      ordRows += Row(o.toLong, rnd.nextInt(nCust).toLong, pick(Array("F", "O", "P")),
        cents(uniform(1000, 500000)), day(od), pick(Priorities))
      for (ln <- 1 to 1 + rnd.nextInt(7)) {
        val pk = rnd.nextInt(nPart)
        val qty = (1 + rnd.nextInt(50)).toDouble
        lineRows += Row(o.toLong, pk.toLong, rnd.nextInt(nSupp).toLong, ln, qty,
          cents(qty * retail(pk) * uniform(0.5, 1.5)), rnd.nextInt(11) / 100.0,
          rnd.nextInt(9) / 100.0, pick(Array("A", "N", "R")), pick(Array("F", "O")),
          day(od.plusDays(1L + rnd.nextInt(121))))
      }
    }
    val orders = Table("orders",
      StructType(Seq(StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
        StructField("o_orderstatus", StringType), StructField("o_totalprice", DoubleType),
        StructField("o_orderdate", TimestampNTZType), StructField("o_orderpriority", StringType))),
      ordRows.result())
    val lineitem = Table("lineitem",
      StructType(Seq(StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
        StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
        StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
        StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
        StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
        StructField("l_shipdate", TimestampNTZType))),
      lineRows.result())

    // Events: a 30-day stream with increasing timestamps (microseconds).
    val spanUs = 30L * 24 * 3600 * 1000000
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val evTs = Array.fill(nEvents)(rnd.nextLong(spanUs)).sorted
    val events = Table("events",
      StructType(Seq(StructField("event_id", LongType), StructField("ts", TimestampNTZType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))),
      (0 until nEvents).map(i => Row(i.toLong, t0.plusNanos(evTs(i) * 1000),
        rnd.nextInt(nUsers).toLong, pick(EventTypes), cents(uniform(0.01, 330)),
        s"""{"k": ${rnd.nextInt(100)}}""")))

    // Documents: random word sequences; about 5 % are exact copies of an
    // earlier document and 5 % near copies (two words replaced), so the
    // dedup operators have work to find.
    val texts = new Array[String](Docs)
    for (d <- 0 until Docs) {
      val r = rnd.nextDouble()
      texts(d) =
        if (d > 10 && r < 0.05) texts(rnd.nextInt(d))
        else if (d > 10 && r < 0.10) {
          val w = texts(rnd.nextInt(d)).split(' ')
          for (_ <- 0 until 2) w(rnd.nextInt(w.length)) = "dup"
          w.mkString(" ")
        } else Array.fill(10 + rnd.nextInt(90))(pick(Words)).mkString(" ")
    }
    val documents = Table("documents",
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))),
      (0 until Docs).map(d => Row(d.toLong, texts(d), pick(Langs), s"src${d % 20}",
        texts(d).length.toLong)))
    val embeddings = Table("embeddings",
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))),
      (0 until Docs).map { v =>
        val x = Array.fill(Dim)(rnd.nextGaussian())
        val norm = math.sqrt(x.map(a => a * a).sum)
        Row(v.toLong, x.map(a => (a / norm).toFloat).toSeq, rnd.nextInt(10))
      })
    Seq(region, nation, customer, supplier, part, orders, lineitem, events, documents,
      embeddings)
  }
}
