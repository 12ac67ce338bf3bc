package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The analytics harness shared by Bench, BenchScale and BenchCluster: warm
  * a corpus, then time a list of named queries over N runs each.
  *
  * Failure discipline: only runs that returned count as times. A query
  * whose every run throws comes back with no times — reported as `null`
  * and listed as failed, never as a plausible elapsed-time-to-throw sample.
  */
object Sweep {

  type Query = (SparkSession, String) => DataFrame

  /** One query's timed runs: the seconds of the runs that succeeded, and
    * whether any run rebuilt an index store instead of reusing it. */
  final case class Timed(name: String, secs: Seq[Double], rebuilt: Boolean) {
    def failed: Boolean = secs.isEmpty
    def min: Option[Double] = secs.minOption
    def median: Option[Double] =
      if (failed) None else Some(secs.sorted.apply(secs.length / 2))
  }

  /** Query names from `SPARK_GRAFT_ONLY` (comma-separated), else `default`.
    * An unknown name is an error: a typo must not turn into an empty sweep
    * that looks complete. */
  def only(default: Seq[String]): Seq[String] =
    select(sys.env.get("SPARK_GRAFT_ONLY"), default)

  def select(csv: Option[String], default: Seq[String]): Seq[String] =
    csv.map { s =>
      val names = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.mkString(",")}")
      names
    }.getOrElse(default)

  /** Warm `dir` so timed runs measure steady-state compute: scan every
    * table (codegen, parquet footers, file listing), pay the one-time ICU
    * init, and build the index stores of the index-backed members of
    * `names` (the timed runs then measure probe cost, not build cost — the
    * reference builds its indexes at ingest, not per query). Store builds
    * stop once `budgetSec` has passed since the warm began. Returns the
    * seconds each store build took. */
  def warm(spark: SparkSession, dir: String, names: Seq[String],
      budgetSec: Double = Double.PositiveInfinity): Seq[(String, Double)] = {
    val t0 = System.nanoTime()
    Tables.names.foreach { n =>
      try Tables.load(spark, dir, n).count() catch { case _: Throwable => () }
    }
    // The first upper()/lower() anywhere triggers CollationAwareUTF8String's
    // static init, which loads ICU case-mapping and CJK break dictionaries
    // from the jars: measured 13-38 s of wall when it lands inside a timed
    // query. Concat with a non-foldable column defeats constant folding and
    // collect() defeats column pruning, so the upper/lower run in a task.
    locally {
      import org.apache.spark.sql.functions.{col, concat, lit, lower, upper}
      spark.range(1)
        .select(upper(concat(lit("首尔 ölçü İI"), col("id").cast("string"))).as("u"),
          lower(concat(lit("İI"), col("id").cast("string"))).as("l"))
        .collect()
    }
    names.filter(SparkEntry.indexBackedQueries.contains)
      .takeWhile(_ => (System.nanoTime() - t0) / 1e9 < budgetSec)
      .map { n =>
        val rb = graft.sources.IndexStorage.rebuilds.get()
        val t1 = System.nanoTime()
        try SparkEntry.queries(n)(spark, dir).count() catch { case _: Throwable => () }
        val sec = (System.nanoTime() - t1) / 1e9
        val how = if (graft.sources.IndexStorage.rebuilds.get() > rb) "built" else "reused"
        System.err.println(f"[graft] warm $n: store $how in $sec%.3f s")
        n -> sec
      }
  }

  /** Time each of `names` `runs` times against `dir`, each run after a GC
    * and `clearCache` (localCheckpoint blocks are reclaimed only after a GC
    * notices the orphaned references; without it the storage pressure of a
    * long sweep lands on whatever queries run last). Every job of a timed
    * run carries the description `bench:<query>:<run>`. Names not yet
    * started when `deadline` (a `System.nanoTime` value) passes are left
    * out of the result. */
  def run(spark: SparkSession, dir: String, names: Seq[String], runs: Int,
      label: String, deadline: Long = Long.MaxValue,
      queries: Map[String, Query] = SparkEntry.queries): Seq[Timed] =
    names.takeWhile(_ => System.nanoTime() < deadline).map { name =>
      val fn = queries(name)
      val rb = graft.sources.IndexStorage.rebuilds.get()
      val secs = (1 to runs).flatMap { i =>
        System.gc()
        spark.catalog.clearCache()
        System.err.println(s"[graft] $label: $name run $i/$runs")
        spark.sparkContext.setJobDescription(s"bench:$name:$i")
        val t0 = System.nanoTime()
        try { fn(spark, dir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[graft] $label FAILED: $name: ${e.getMessage}")
          None
        } finally spark.sparkContext.setJobDescription(null)
      }
      Timed(name, secs, graft.sources.IndexStorage.rebuilds.get() > rb)
    }

  /** Side-by-side report of two sweeps over the same names. */
  final case class Pairwise(queries: String, ratios: Seq[(String, Double)],
      failed: String)

  /** Per query `{"<aKey>":min a,"<bKey>":min b,"ratio":b/a}` (null where
    * a side failed), the ratios, and the names that failed on either side. */
  def pairwise(aKey: String, a: Seq[Timed], bKey: String, b: Seq[Timed],
      ratioDecimals: Int): Pairwise = {
    val aMin = a.map(t => t.name -> t.min).toMap
    val rows = b.map { t =>
      val am = aMin.getOrElse(t.name, None)
      (t.name, am, t.min, for { x <- am; y <- t.min if x > 0 } yield y / x)
    }
    val secs = (o: Option[Double]) => o.map(fmt(2)).getOrElse("null")
    val queries = jsonObject(rows.map { case (n, am, bm, r) =>
      n -> (s"""{"$aKey":${secs(am)},"$bKey":${secs(bm)},""" +
        s""""ratio":${r.map(fmt(ratioDecimals)).getOrElse("null")}}""")
    })
    val failed = (b ++ a).filter(_.failed).map(_.name).distinct.sorted
    Pairwise(queries, rows.flatMap { case (n, _, _, r) => r.map(n -> _) },
      jsonList(failed))
  }

  /** Locale.ROOT, so a comma-decimal default locale cannot corrupt the
    * JSON ("24,400"). */
  def fmt(decimals: Int)(d: Double): String =
    String.format(java.util.Locale.ROOT, s"%.${decimals}f", Double.box(d))

  def jsonList(names: Seq[String]): String =
    names.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** `{"k":v,...}` from already-rendered JSON values. */
  def jsonObject(entries: Seq[(String, String)]): String =
    entries.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")

  def write(path: String, json: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), json.getBytes("UTF-8"))
}
