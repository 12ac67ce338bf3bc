package graftbench

import java.time.LocalDateTime
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every random choice of a workload comes from a
  * `java.util.SplittableRandom` seeded from `--seed`, so one seed always
  * gives the same vectors, documents, queries and CDC events.
  *
  * The analytics corpus mirrors the schema of graft's parquet fixtures
  * (TPC-H-like star schema plus `events`, `documents`, `embeddings`), and
  * is generated from a fixed corpus seed so that its query results can be
  * pinned by fingerprint; only the query order follows `--seed`.
  */
object Gen {

  val Vocabulary: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  /** Corpus words that survive BM25's stopword filter (query terms). */
  val QueryVocabulary: IndexedSeq[String] =
    Vocabulary.filterNot(graft.operators.Bm25.EnglishStopwords.contains)

  def gaussian(r: java.util.SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian on JDK 17
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2.0 * math.log(u)) * math.cos(2.0 * math.Pi * v)
  }

  /** One fixture-style document text: 10 to 100 corpus words. */
  def docText(r: java.util.SplittableRandom): String =
    Seq.fill(10 + r.nextInt(91))(Vocabulary(r.nextInt(Vocabulary.length))).mkString(" ")

  /** `n` documents with ids 0 until n; about 5% are near-duplicates of an
    * earlier document (its text plus the token "dup"), as in the fixtures. */
  def documents(n: Int, r: java.util.SplittableRandom): Array[String] = {
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      out(i) =
        if (i > 10 && r.nextInt(20) == 0) out(r.nextInt(i)) + " dup"
        else docText(r)
      i += 1
    }
    out
  }

  /** Gaussian-cluster vectors: `clusters` centres drawn N(0, 1) per
    * dimension, each point a centre plus N(0, spread²) noise. */
  final class Clusters(val centres: Array[Array[Float]], spread: Double) {
    def sample(r: java.util.SplittableRandom): Array[Float] = {
      val c = centres(r.nextInt(centres.length))
      Array.tabulate(c.length)(d => (c(d) + spread * gaussian(r)).toFloat)
    }
  }

  def clusters(k: Int, dims: Int, spread: Double, r: java.util.SplittableRandom): Clusters =
    new Clusters(Array.fill(k)(Array.fill(dims)(gaussian(r).toFloat)), spread)

  private def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** Write the analytics corpus as one parquet file per table under `dir`.
    * Row counts follow the fixtures' proportions at scale factor `sf`
    * (sf 0.01: 60,000 line items, 500 documents, 500 embeddings). */
  def writeCorpus(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    val r = new java.util.SplittableRandom(seed)
    def n(base: Int): Int = math.max(1, (base * sf).round.toInt)
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    def f(name: String, t: DataType) = StructField(name, t, nullable = false)
    def money(lo: Double, hi: Double): Double =
      math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(from: LocalDateTime, days: Int): LocalDateTime = from.plusDays(r.nextInt(days).toLong)

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      regions.zipWithIndex.map { case (nm, i) => Row(i, nm) })
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))

    val nCust = n(150000)
    val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99), segments(r.nextInt(5)))))

    val nSupp = n(10000)
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99))))

    val nPart = n(200000)
    val adjectives = Seq("small", "red", "blue", "hot", "cold", "green", "big", "shiny")
    val nouns = Seq("ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve")
    val types = Seq("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${adjectives(r.nextInt(8))} ${nouns(r.nextInt(8))}", s"Brand#${1 + r.nextInt(25)}",
        types(r.nextInt(6)), 1 + r.nextInt(50), 900.0 + r.nextInt(1000) / 10.0)))

    val nOrders = n(1500000)
    val statuses = Seq("F", "O", "P")
    val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val epoch = LocalDateTime.of(1995, 1, 1, 0, 0)
    val orderDates = Array.fill(nOrders)(day(epoch, 2400))
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrders).map(i => Row(i.toLong, r.nextInt(nCust).toLong, statuses(r.nextInt(3)),
        money(1000.0, 500000.0), orderDates(i), priorities(r.nextInt(5)))))

    val nLines = n(6000000)
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until nLines).map { i =>
        val o = r.nextInt(nOrders)
        val qty = (1 + r.nextInt(50)).toDouble
        Row(o.toLong, r.nextInt(nPart).toLong, r.nextInt(nSupp).toLong, 1 + i % 7, qty,
          math.round(qty * (900.0 + r.nextInt(1100)) * 100) / 100.0, r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)),
          orderDates(o).plusDays(1L + r.nextInt(120)))
      })

    val nEvents = n(1000000)
    val users = n(15000)
    val kinds = Seq("view", "click", "purchase", "signup", "error")
    val evEpoch = LocalDateTime.of(2024, 1, 1, 0, 0)
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until nEvents).map(i => Row(i.toLong,
        evEpoch.plusNanos((r.nextDouble() * 30 * 86400e9).toLong / 1000 * 1000),
        r.nextInt(users).toLong, kinds(r.nextInt(5)),
        math.max(0.01, math.round(50.0 * -math.log(1.0 - r.nextDouble()) * 100) / 100.0),
        s"""{"k": ${r.nextInt(100)}}""")))

    val nDocs = n(50000)
    val langs = Seq("en", "en", "en", "zh", "es", "fr", "de")
    val texts = documents(nDocs, r)
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      texts.indices.map(i => Row(i.toLong, texts(i), langs(r.nextInt(langs.length)),
        s"src${i % 20}", texts(i).length.toLong)))

    val nVec = n(50000)
    val labelCentres = Array.fill(10)(Array.fill(64)(gaussian(r)))
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = false)), f("label", IntegerType))),
      (0 until nVec).map { i =>
        val label = r.nextInt(10)
        val v = Array.tabulate(64)(d => 0.5 * labelCentres(label)(d) + gaussian(r))
        Row(i.toLong, unit(v).toSeq, label)
      })
  }
}
