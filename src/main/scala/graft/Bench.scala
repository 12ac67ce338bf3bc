package graft

import graft.Sweep.{fmt, jsonList, jsonObject}

/** Analytics benchmark: every `SparkEntry.queries` entry, median-of-N, at
  * `SPARK_GRAFT_SF_DIR` (default: the sf0.1 fixture), plus an optional
  * sf1 (10×) section. Prints ONE JSON line to stdout; the full per-query
  * detail goes to stderr and a sidecar file.
  *
  * Env: SPARK_GRAFT_CPUS, SPARK_GRAFT_RUNS (default 3), SPARK_GRAFT_ONLY
  * (comma-separated subset; skips the sf1 section), SPARK_GRAFT_SF1_DIR,
  * SPARK_GRAFT_SF1=0, SPARK_GRAFT_SF1_BUDGET, SPARK_GRAFT_SF1_RUNS.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val onlyEnv = sys.env.get("SPARK_GRAFT_ONLY")
    val names = Sweep.only(SparkEntry.queries.keySet.toSeq).sorted
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
    val spark = GraftSession.local()
    val ms = fmt(3) _
    val buildSec = Sweep.warm(spark, sfDir, names)
    // ---- host canary (VERDICT r12 #2) --------------------------------
    // A fixed pure-CPU loop and a fixed one-table scan, timed after warmup
    // and before the query loop, emitted in the headline JSON. 23 of the
    // 27 r12 "regressions" were untouched code wearing a uniform ~1.4×
    // host factor nobody could prove from the JSON alone; these two
    // numbers let a reader normalize round-over-round medians for host
    // drift (cpu ≈ single-core speed; scan ≈ storage+parquet-decode
    // speed). Single-threaded by construction so executor count cannot
    // change what they measure.
    val canary = {
      System.gc()
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 400000000) { x ^= x >>> 33; x *= 0xFF51AFD7ED558CCDL; i += 1 }
      val cpuSec = (System.nanoTime() - t0) / 1e9
      if (x == 42L) System.err.println("[graft] canary fixed point") // defeat DCE
      val t1 = System.nanoTime()
      try Tables.load(spark, sfDir, "documents")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
      val scanSec = (System.nanoTime() - t1) / 1e9
      System.err.println(f"[graft] canary: cpu=$cpuSec%.3f scan=$scanSec%.3f")
      (cpuSec, scanSec)
    }
    // median-of-N (plus min) per query: a single recorded run cannot be
    // trusted on a shared host — the r3 bench burned ~30s of host contention
    // in one alphabetical window and briefly looked like four regressions.
    // median≈min on a quiet machine; median>>min flags contention, not code.
    val results = Sweep.run(spark, sfDir, names, runs, "bench")
    val timed = results.filterNot(_.failed)
    val failed = results.filter(_.failed).map(_.name)
    def jmap(f: Sweep.Timed => String): String = jsonObject(results.map(r => r.name -> f(r)))
    val orNull = (o: Option[Double]) => o.map(ms).getOrElse("null")
    // The driver's recorder keeps only the LAST ~2000 chars of stdout and
    // its parser wants ONE JSON line in the contract shape (build.sbt sets
    // run / outputStrategy := StdoutOutput so the forked JVM's stdout
    // passes through raw). So: stdout carries EXACTLY ONE bare JSON line —
    // the headline — sized to fit the recorded tail completely even with
    // sbt's trailing "[success] …" line (~80 chars) after it. The full
    // 3-decimal median/min/store-rebuilt/store-build detail goes to stderr
    // and the sidecar file, never stdout. A failed query is null here.
    val median = (t: Sweep.Timed) => t.median.get
    val total = timed.map(median).sum
    // min-based total alongside the median-based one: on a contended host
    // median >> min flags drift (r9's +24.5% artifact was exactly this);
    // a reader comparing rounds should trust whichever pair agrees
    val totalMin = timed.map(_.min.get).sum
    val sfName = new java.io.File(sfDir).getName // "sf0.1", not the full path
    val detail = s"""{"detail":"3-decimal median + min + store-rebuilt",""" +
      s""""runs_per_query":$runs,"queries_min":${jmap(r => orNull(r.min))},""" +
      s""""queries_store_rebuilt":${jmap(_.rebuilt.toString)},""" +
      s""""queries_build_sec":${jsonObject(buildSec.map { case (n, s) => n -> ms(s) })},""" +
      s""""queries_median":${jmap(r => orNull(r.median))}}"""
    try Sweep.write("/tmp/graft-bench-detail.json", detail) catch { case _: Throwable => () }
    System.err.println(detail)
    // ---- optional sf1 (10×) scale-validation section ------------------
    // When a GenScale-derived 10× corpus is present (default path, or
    // SPARK_GRAFT_SF1_DIR), run a family-covering headline subset against
    // it and report per-query time + the ratio vs this run's sf0.1
    // median — the empirical check behind every "scales linearly" claim.
    // Wall-clock-budgeted (SPARK_GRAFT_SF1_BUDGET sec, default 900): if
    // the budget trips, the count of SKIPPED queries is reported — a
    // truncated sweep must say so, never look complete.
    val sf1Dir = sys.env.get("SPARK_GRAFT_SF1_DIR")
      .orElse(Option("/root/repo/testdata-sf1")
        .filter(d => new java.io.File(d, "lineitem.parquet").exists()))
      .filter(_ => sys.env.get("SPARK_GRAFT_SF1").forall(_ != "0") && onlyEnv.isEmpty)
    val sf1Section: Option[String] = sf1Dir.map { dir =>
      val subset = SparkEntry.benchSf1Queries
      val budgetSec = sys.env.getOrElse("SPARK_GRAFT_SF1_BUDGET", "900").toDouble
      val deadline = System.nanoTime() + (budgetSec * 1e9).toLong
      // store warm: probe-vs-probe comparability with the sf0.1 medians
      // (which run against pre-built stores); build cost counts against
      // the budget and is reported separately
      val builds = Sweep.warm(spark, dir, subset, budgetSec * 0.6)
      val build = builds.map(_._2).sum
      val mainMed = timed.map(t => t.name -> median(t)).toMap
      // min-of-N (default 2): the sf1 section runs AFTER the 170-query
      // marathon in the same JVM, and a single run absorbs its
      // accumulated GC/cache pressure — measured 2× inflation on the
      // heaviest queries vs a standalone run. The min is the
      // contention-free estimate, same rationale as the main loop's
      // median-vs-min pair.
      val sf1Runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_SF1_RUNS", "2").toInt)
      val sf1Res = Sweep.run(spark, dir, subset, sf1Runs, "sf1 bench", deadline)
        .sortBy(_.name)
      val skipped = subset.length - sf1Res.length
      val buildOf = builds.toMap
      // full detail (time, ratio, store-rebuilt, failed, store build) to
      // stderr + sidecar
      val detail1 = jsonObject(sf1Res.map { r =>
        val ratio = r.min.flatMap(tt => mainMed.get(r.name).filter(_ > 0.0)
          .map(m => fmt(1)(tt / m))).getOrElse("null")
        r.name -> (s"""{"sec":${orNull(r.min)},"failed":${r.failed},""" +
          s""""x_vs_sf01":$ratio,"store_rebuilt":${r.rebuilt},""" +
          s""""build_sec":${buildOf.get(r.name).map(ms).getOrElse("null")}}""")
      })
      val sidecar = s"""{"sf1_detail":$detail1,"sf1_build_sec":${ms(build)}}"""
      System.err.println(sidecar)
      try Sweep.write("/tmp/graft-bench-sf1-detail.json", sidecar)
      catch { case _: Throwable => () }
      // headline payload: per-query seconds (null = FAILED, every run
      // threw); ratios only where >10× (the superlinear exceptions the
      // sweep exists to expose — ratios on sub-50ms sf0.1 medians are
      // noise and stay in the sidecar)
      val qs1 = jsonObject(sf1Res.map(r => r.name -> r.min.map(fmt(2)).getOrElse("null")))
      val sup = jsonObject(sf1Res.flatMap { r =>
        r.min.flatMap(tt => mainMed.get(r.name).filter(_ >= 0.05).map(m => tt / m))
          .filter(_ > 10.0).map(x => r.name -> fmt(1)(x))
      })
      s""""sf1":{"n":${sf1Res.length},"skipped":$skipped,""" +
        s""""failed":${jsonList(sf1Res.filter(_.failed).map(_.name))},""" +
        s""""stat":"min_of_$sf1Runs","total":${fmt(1)(sf1Res.flatMap(_.min).sum)},""" +
        s""""build_sec":${fmt(1)(build)},"over_10x":$sup,"queries":$qs1}"""
    }

    // headline queries map: the slowest-first PREFIX that fits a budget
    // (2-decimal) — the regression-informative slice; everything
    // omitted is sub-noise at sf0.1 and lives in the sidecar/stderr detail.
    // The fill stops at the first entry that doesn't fit (never skip-and-
    // continue): "the N slowest" must mean exactly that, or a slow long-
    // named query could silently drop while a faster short-named one stays.
    // The ONE stdout line must fit the driver's ~2000-char recorded tail,
    // so when the sf1 section is present it gets the chars the sf0.1 map
    // gives up, and the failed list takes its length out of the budget.
    val failedJson = jsonList(failed)
    val budget = (if (sf1Section.isDefined) 610 else 1510) - failedJson.length
    val entry = (t: Sweep.Timed) => t.name -> fmt(2)(median(t))
    val cost = (t: Sweep.Timed) => t.name.length + fmt(2)(median(t)).length + 4 // "n":v,
    val bySlow = timed.sortBy(t => -median(t))
    val kept = bySlow.zip(bySlow.scanLeft(0)(_ + cost(_)).tail)
      .takeWhile(_._2 <= budget).map(_._1)
    val qsSlow = jsonObject(kept.sortBy(_.name).map(entry))
    val sf1Part = sf1Section.map("," + _).getOrElse("")
    // n_queries_in_map / dropped_from_map (VERDICT r12 #9): the slowest-N
    // stdout prefix reshuffles membership as queries speed up or slow
    // down; these counts let a comparator distinguish "left the headline
    // because it got faster" from an actual removal. Failed queries are
    // counted in n_queries and listed under "failed", not as dropped.
    println(s"""{"metric":"total","value":${ms(total)},"unit":"sec",""" +
      s""""value_min":${ms(totalMin)},""" +
      s""""n_queries":${results.length},""" +
      s""""n_queries_in_map":${kept.length},""" +
      s""""dropped_from_map":${timed.length - kept.length},""" +
      s""""failed":$failedJson,""" +
      s""""canary":{"cpu":${fmt(2)(canary._1)},"scan":${fmt(2)(canary._2)}},""" +
      s""""queries_note":"the ${kept.length} slowest by median; full map in /tmp/graft-bench-detail.json + stderr",""" +
      s""""queries":$qsSlow$sf1Part,"sf":"$sfName"}""")
    spark.stop()
  }
}
