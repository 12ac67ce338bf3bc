package graftbench

import graft.SparkEntry
import graft.sources.IndexStorage
import java.util.SplittableRandom
import org.apache.spark.sql.Row
import scala.collection.mutable

/** `batch`: the work that runs beside serving, one operation at a time on
  * the driver thread, in seed-permuted passes:
  *  - a family-covering subset of `SparkEntry.queries` over a generated
  *    corpus with the fixtures' schema, each fully materialised with the
  *    `noop` sink (so projected columns cannot be pruned away, as `count()`
  *    would allow);
  *  - CDC micro-batches committed into segment stores ([[Ingest]]), each
  *    proven searchable by a BM25 and an LSH search of the reconciled views.
  *
  * Set-up executes every query once (which builds its index stores, in a
  * directory no other run uses), fingerprints its rows, bootstraps the
  * segment stores with the corpus documents and commits one warm-up batch.
  */
object Batch {
  /** Corpus seed: fixed, so query results can be pinned by fingerprint. */
  val CorpusSeed = 42L
  /** One: with the warm-up commit before it, the timed commit is the one
    * that folds both stores under `CompactionPolicy(2)` in every run. */
  val CdcPerPass = 1
  val CorpusScale = 0.005

  /** Query → operator family: one query per family, taken from the 33
    * family-covering queries of graft's `Bench` so that set-up and a
    * timed pass fit the run's time budget on 4 cores. */
  val Families: Seq[(String, String)] = Seq(
    "q1_agg" -> "tpch", "ann_rescored" -> "ann", "bm25_multi" -> "bm25",
    "dedup_exact" -> "dedup", "stratified_sample" -> "curation", "token_ids" -> "text",
    "pagerank" -> "graph", "heavy_hitters" -> "sketches", "asof_join" -> "temporal",
    "image_features" -> "multimodal")

  /** Order-insensitive fingerprint of a result: row count plus the sum of
    * a 64-bit hash of each row rendered with doubles to 5 significant
    * digits (so run-to-run float summation order cannot change it). */
  def fingerprint(rows: Array[Row]): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case d: Double => if (d.isNaN) "NaN" else String.format(java.util.Locale.ROOT, "%.5g", Double.box(d + 0.0))
      case f: Float => render(f.toDouble)
      case b: java.math.BigDecimal => render(b.doubleValue)
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "=" + render(x) }.sorted.mkString("{", ",", "}")
      case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
      case a: Array[Byte] => a.map(b => f"$b%02x").mkString
      case other => other.toString
    }
    var sum = 0L
    rows.foreach { r =>
      val h = java.security.MessageDigest.getInstance("MD5").digest(render(r).getBytes("UTF-8"))
      sum += java.nio.ByteBuffer.wrap(h).getLong
    }
    s"${rows.length}:${java.lang.Long.toHexString(sum)}"
  }

  def shuffled[T](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = mutable.ArrayBuffer(xs: _*)
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
    a.toSeq
  }

  def run(res: Result): Unit = {
    val o = res.opts
    val scale = if (o.tiny) 0.001 else CorpusScale
    // the corpus depends only on the sources and the scale, so runs of one
    // build share it; it is written once, to a temporary name, then renamed
    val dir = s"${o.cache}/corpus-$scale"
    val r = new SplittableRandom(o.seed)
    val queries = Families.map(_._1)
    val missing = queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries missing from SparkEntry.queries: ${missing.mkString(", ")}")

    // set-up: session, table warm-up, one execution of every query, the
    // segment-store bootstrap and one warm-up batch; writing the generated
    // corpus is not counted
    val t0 = System.nanoTime()
    val spark = Main.session(res)
    val g0 = System.nanoTime()
    if (!new java.io.File(dir).exists()) {
      val tmp = s"$dir.${ProcessHandle.current().pid()}"
      Gen.writeCorpus(spark, tmp, scale, CorpusSeed)
      new java.io.File(tmp).renameTo(new java.io.File(dir))
    }
    val writeS = (System.nanoTime() - g0) / 1e9
    Main.note("corpus ready", t0)
    val fingerprints = mutable.LinkedHashMap.empty[String, String]
    val warmMs = mutable.LinkedHashMap.empty[String, Double]
    shuffled(queries, r).foreach { q =>
      val rebuilds = IndexStorage.rebuilds.get()
      val w0 = System.nanoTime()
      res.checked(s"$q warm-up") {
        val rows = SparkEntry.queries(q)(spark, dir).collect()
        warmMs(q) = Main.ms(w0)
        fingerprints(q) = fingerprint(rows)
      }
      if (SparkEntry.indexBackedQueries.contains(q))
        res.checked(s"$q rebuilt its index store in this run")(
          require(IndexStorage.rebuilds.get() > rebuilds, s"$q reused an index store"))
    }
    Main.note("queries warmed up", t0)
    import spark.implicits._
    val docs = spark.read.parquet(s"$dir/documents.parquet").orderBy("doc_id")
      .select("text").as[String].collect().toSeq
    val ingest = new Ingest(res, spark, docs, o.seed)
    Main.note("segment stores bootstrapped", t0)
    ingest.commit(timed = false)
    Main.note("warm-up batch committed", t0)
    res.setup += (System.nanoTime() - t0) / 1e9 - writeS

    // timed phase: whole passes, as many as fit in the run's seconds (at
    // least one), so every run measures the same operations; a pass runs
    // every query once and commits CdcPerPass batches, in seeded order
    val ops = queries ++ Seq.fill(CdcPerPass)("cdc")
    val jvm0 = Main.jvmWork()
    val p0 = System.nanoTime()
    val deadline = p0 + (o.seconds * 1e9).toLong
    var pass = 0
    var done = 0
    var passNs = 0L
    while (pass == 0 || System.nanoTime() + passNs < deadline) {
      pass += 1
      val pass0 = System.nanoTime()
      System.gc()
      shuffled(ops, r).foreach {
        case "cdc" => ingest.commit(timed = true); done += 1
        case q =>
          spark.catalog.clearCache()
          val op = s"$q#$done"
          spark.sparkContext.setJobGroup(op, q, interruptOnCancel = false)
          val q0 = System.nanoTime()
          res.checked(s"$q execution") {
            res.tracer.span("query", op) {
              val df = res.tracer.span("SparkEntry.queries.build", op)(SparkEntry.queries(q)(spark, dir))
              res.tracer.span("spark.execute", op)(df.write.format("noop").mode("overwrite").save())
            }
          }.foreach(_ => res.latency(q, Main.ms(q0)))
          spark.sparkContext.clearJobGroup()
          done += 1
      }
      passNs = System.nanoTime() - pass0
    }
    res.values("timed_s") = (System.nanoTime() - p0) / 1e9
    Main.note(s"$pass timed passes done", t0)
    res.values("jvm") = Main.jvmWorkSince(jvm0)
    res.values("jvm_ops") = done
    res.values("passes") = pass
    res.values("ops") = done
    ingest.finish()
    res.values("families") = Families.toMap
    res.values("fingerprints") = fingerprints
    res.values("warmup_ms") = warmMs
    res.values("index_backed") = queries.filter(SparkEntry.indexBackedQueries.contains)
    res.values("store_files") = ServeRead.countFiles(new java.io.File(s"${o.work}/tmp/graft-indexes")) +
      res.values("ingest_store_files").asInstanceOf[Int]
  }
}
