package graft

/** The analytics harness: session factory, timed sweep, declared subsets. */
class HarnessSpec extends SparkSpec {

  test("sweep: a throwing query comes back failed and untimed, a good one with N times") {
    val fakes: Map[String, Sweep.Query] = Map(
      "good" -> ((s, _) => s.range(3).toDF()),
      "boom" -> ((_, _) => throw new IllegalStateException("boom")))
    val res = Sweep.run(spark, "unused", Seq("good", "boom"), runs = 3, "spec",
      queries = fakes)
    assert(res.map(_.name) == Seq("good", "boom"))
    val Seq(good, boom) = res
    assert(good.secs.length == 3 && !good.failed && good.median.isDefined)
    assert(boom.failed && boom.secs.isEmpty && boom.median.isEmpty && boom.min.isEmpty)
    // the pairwise report nulls the failed side and lists the name once
    val report = Sweep.pairwise("a_sec", res, "b_sec", res, ratioDecimals = 1)
    assert(report.failed == "[\"boom\"]")
    assert(report.queries.contains("\"boom\":{\"a_sec\":null,\"b_sec\":null,\"ratio\":null}"))
    assert(report.ratios.map(_._1) == Seq("good"))
  }

  test("sweep: names past the deadline are left out, not timed") {
    val past = System.nanoTime() - 1
    assert(Sweep.run(spark, "unused", Seq("q1_agg"), runs = 1, "spec", past).isEmpty)
  }

  test("SPARK_GRAFT_ONLY: unknown names are rejected and listed") {
    assert(Sweep.select(None, Seq("q1_agg")) == Seq("q1_agg"))
    assert(Sweep.select(Some("q1_agg,ann_lsh"), Nil) == Seq("q1_agg", "ann_lsh"))
    val e = intercept[IllegalArgumentException](
      Sweep.select(Some("q1_agg,q1_agq,nope"), Nil))
    assert(e.getMessage.contains("q1_agq,nope"))
  }

  test("every declared subset names declared queries; gated queries carry no oracle SQL") {
    val names = SparkEntry.queries.keySet
    val subsets = Map(
      "indexBackedQueries" -> SparkEntry.indexBackedQueries.toSet,
      "benchSf1Queries" -> SparkEntry.benchSf1Queries.toSet,
      "scaleQueries" -> SparkEntry.scaleQueries.toSet,
      "agreementGatedQueries" -> SparkEntry.agreementGatedQueries,
      "sf1OracleExclusions" -> SparkEntry.sf1OracleExclusions,
      "sf10SpotQueries" -> SparkEntry.sf10SpotQueries,
      "sf100SpotQueries" -> SparkEntry.sf100SpotQueries,
      "dynamicOracleQueries" -> SparkEntry.dynamicOracleQueries)
    subsets.foreach { case (subset, members) =>
      assert((members -- names).isEmpty, s"$subset names unknown queries")
    }
    assert(SparkEntry.agreementGatedQueries.nonEmpty)
    assert((SparkEntry.agreementGatedQueries & SparkEntry.oracleSql.keySet).isEmpty)
  }

  test("factory session: UTC, nanosAsLong, shuffle partitions = cpus") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == SparkSpec.cpus.toString)
    assert(spark.sparkContext.master == s"local[${SparkSpec.cpus}]")
  }

  test("master strings map to their task slots") {
    assert(GraftSession.cores("local") == 1)
    assert(GraftSession.cores("local[3]") == 3)
    assert(GraftSession.cores("local[2,4]") == 2)
    assert(GraftSession.cores("local[*]") == Runtime.getRuntime.availableProcessors)
    assert(GraftSession.cores("local-cluster[2,16,8192]") == 32)
    intercept[IllegalArgumentException](GraftSession.cores("yarn"))
  }
}
