package graft

import graft.Sweep.fmt

/** Scale-decade spot sweep: time a shuffle-heavy query subset on a BASE
  * corpus and on a SCALED corpus (GenScale outputs, e.g. sf1 → sf10) in one
  * JVM, min-of-N each, and report per-query ratios against the data growth
  * factor. The recorded artifact (BENCH_sf10.json) is the second measured
  * decade behind the "scales linearly" claims — the first (sf0.1 → sf1)
  * lives in Bench's `sf1` section.
  *
  * Usage: BenchScale <baseDir> <scaledDir> [factor=10] [outFile]
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_RUNS (default 2),
  *      SPARK_GRAFT_ONLY (comma-separated subset override; default
  *      `SparkEntry.scaleQueries`).
  *
  * The pinned `knn_join_lsh`/`dedup_embedding_lsh`/`semantic_dedup` rows
  * time the deterministic oracle variants, kept as the recorded cost of
  * the quadratic fixed-parameter shape; the `_auto` forms are the API
  * defaults.
  */
object BenchScale {
  def main(args: Array[String]): Unit = {
    val baseDir = args(0)
    val scaledDir = args(1)
    val factor = args.lift(2).map(_.toDouble).getOrElse(10.0)
    val outFile = args.lift(3)
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt)
    val subset = Sweep.only(SparkEntry.scaleQueries)
    val spark = GraftSession.local()

    def sweep(dir: String): (Double, Seq[Sweep.Timed]) = {
      val build = Sweep.warm(spark, dir, subset).map(_._2).sum
      (build, Sweep.run(spark, dir, subset, runs, s"scale bench [$dir]"))
    }
    val (baseBuild, base) = sweep(baseDir)
    val (scaledBuild, scaled) = sweep(scaledDir)
    val report = Sweep.pairwise("base_sec", base, "scaled_sec", scaled, ratioDecimals = 1)
    val over = Sweep.jsonObject(
      report.ratios.filter(_._2 > factor).map { case (n, r) => n -> fmt(1)(r) })
    val json =
      s"""{"metric":"scale_ratio","factor":${fmt(1)(factor)},"stat":"min_of_$runs",""" +
        s""""base":"${new java.io.File(baseDir).getName}",""" +
        s""""scaled":"${new java.io.File(scaledDir).getName}",""" +
        s""""build_sec":{"base":${fmt(1)(baseBuild)},"scaled":${fmt(1)(scaledBuild)}},""" +
        s""""failed":${report.failed},"over_factor":$over,"queries":${report.queries}}"""
    println(json)
    outFile.foreach(Sweep.write(_, json))
    spark.stop()
  }
}
