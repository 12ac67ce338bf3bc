package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.{HttpShell, Routes, Wire}
import graft.functions.VectorFunctions.Euclidean
import graft.operators.{ApproxAnn, Catalog, Engine, RestrictionCompiler}
import graft.sources.IndexStorage
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** `serve-read`: a closed loop of [[Clients]] client threads sending ANN and BM25
  * requests over loopback HTTP to `HttpShell.start(engine)`, with the
  * engine wired as graft's `Serve` main wires it.
  *
  * Vector table: Gaussian-cluster vectors with an integer `sel` column in
  * [0, 1000) declared as a filtering column, registered twice: `vec_exact`
  * (no backend) and `vec_lsh` (adaptive LSH over a store built with
  * `ApproxAnn.buildLshIndex` at `autoNbitsFor`). BM25 index: the document
  * corpus plus one planted document per planted term.
  *
  * Request mix: 30% `exact`, 25% `lsh`, 25% `filtered` (`sel < t` on the
  * LSH index, selectivity 50/10/1/0.1%, allow_filtering), 20% `bm25`
  * (1-3 corpus terms plus one planted term); k = 10 throughout.
  *
  * In the traced run requests alternate between HTTP (with the listeners
  * on: the traced end-to-end figures) and a request that calls
  * the layers in-process, in the order `Routes.handle` calls them, one span
  * per layer and one Spark job group per request.
  */
object ServeRead {
  val Ks = "bench"
  val Dims = 64
  val K = 10
  val Planted = 64
  val Vectors = 2000
  val Documents = 2000
  /** Closed-loop warm-up at the end of set-up. The JIT compilers work
    * through the first minute of load: every request makes Spark generate
    * and load new classes, so the compilers never go idle, and latency keeps
    * falling for about 45 s. A warm-up of that length does not fit the
    * benchmark's time budget; this one takes the steepest part of the fall
    * out of the timed phase. */
  val WarmupSeconds = 10.0
  private val mapper = new ObjectMapper

  /** Client threads of the closed loop. One: every request's driver-side
    * planning and code generation, and the JIT compilers' work on the
    * classes it generates, then have cores to spare beside Spark's task
    * threads. With 2 or 4 clients on 4 cores they competed for the cores,
    * and a slower host slowed the loop by more than it slowed the host. */
  val Clients = 1

  final case class Req(cls: String, vec: Array[Float], below: Int, terms: Seq[String], planted: Int) {
    def index: String = cls match {
      case "exact" => "vec_exact"
      case "bm25" => "docs"
      case _ => "vec_lsh"
    }
    def route: String = if (cls == "bm25") "bm25" else "ann"
    def body: String =
      if (cls == "bm25") s"""{"query":"${terms.mkString(" ")}","limit":$K}"""
      else {
        val filter =
          if (below < 0) ""
          else s""","filter":{"restrictions":[{"type":"<","lhs":"sel","rhs":$below}],"allow_filtering":true}"""
        s"""{"vector":[${vec.mkString(",")}],"limit":$K$filter}"""
      }
  }

  final class Inputs(val vecs: Array[Array[Float]], val sel: Array[Int],
      val clusters: Gen.Clusters, val plantedIds: Array[Long], seed: Long) {
    private val offset = new SplittableRandom(seed * 7919L).nextInt(Cycle.length)

    /** Request `i`: its class follows [[Cycle]] from a seeded offset, so
      * every run, however many requests it completes, sees the mix to
      * within one request per class. */
    def request(i: Int): Req = {
      val (cls, k) = Cycle(Math.floorMod(i + offset, Cycle.length))
      val r = new SplittableRandom(seed * 1000003L + i)
      val vec = clusters.sample(r)
      val below = if (cls == "filtered") Seq(500, 100, 10, 1, 100)(k) else -1
      val p = r.nextInt(Planted)
      val terms = Seq.fill(1 + r.nextInt(3))(Gen.QueryVocabulary(r.nextInt(Gen.QueryVocabulary.length))) :+
        plantedTerm(p)
      Req(cls, vec, below, terms, p)
    }

    /** Filter-respecting brute-force top-k, ties by pk, as `Ann.plan` orders. */
    def truth(q: Array[Float], below: Int): (Seq[(Long, Double)], Int) = {
      val hits = vecs.indices.iterator.filter(i => below < 0 || sel(i) < below).map { i =>
        val v = vecs(i)
        var d = 0.0
        var j = 0
        while (j < v.length) { val x = v(j).toDouble - q(j).toDouble; d += x * x; j += 1 }
        (i.toLong, d)
      }.toArray
      (hits.sortBy(h => (h._2, h._1)).take(K).toSeq, hits.length)
    }
  }

  /** One cycle of the request mix: 6 `exact`, 5 `lsh`, 5 `filtered` (the
    * k-th of them at selectivity 50, 10, 1, 0.1 and 10%) and 4 `bm25`, as
    * (class, k), each class spread evenly over the cycle. */
  val Cycle: IndexedSeq[(String, Int)] =
    Seq("exact" -> 6, "lsh" -> 5, "filtered" -> 5, "bm25" -> 4)
      .flatMap { case (c, n) => (0 until n).map(k => ((k + 0.5) / n, c, k)) }
      .sortBy(t => (t._1, t._2)).map(t => (t._2, t._3)).toIndexedSeq

  def plantedTerm(p: Int): String = s"zqplanted${p}x"

  private def meta(index: String, table: String, target: String, pk: String, kind: Catalog.IndexKind,
      filtering: Seq[String] = Nil) =
    Catalog.IndexMetadata(Ks, index, table, target, Seq(pk), filteringColumns = filtering, kind = kind)

  def columnTypes(engine: Engine, index: String): Map[String, graft.api.JsonValues.NativeType] =
    engine.indexFrame(Ks, index).map(_.schema.fields.flatMap(f =>
      Routes.nativeTypeOf(f.dataType).map(f.name -> _)).toMap).getOrElse(Map.empty)

  final class Served(val spark: SparkSession, val engine: Engine, val shell: HttpShell.Server,
      val storePath: String)

  /** Set-up: session, engine wiring, LSH store build, HTTP shell and a
    * short closed-loop warm-up. Writing the generated inputs is not
    * counted. */
  def setUp(res: Result, in: Inputs, docs: Seq[String]): Served = {
    val o = res.opts
    val t0 = System.nanoTime()
    val spark = Main.session(res)
    Main.note("session", t0)
    val vecPath = s"${o.work}/data/vectors.parquet"
    val docPath = s"${o.work}/data/documents.parquet"
    val w0 = System.nanoTime()
    locally {
      import spark.implicits._
      in.vecs.indices.map(i => (i.toLong, in.vecs(i).toSeq, in.sel(i))).toDF("id", "embedding", "sel")
        .coalesce(1).write.parquet(vecPath)
      docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .coalesce(1).write.parquet(docPath)
    }
    val writeNs = System.nanoTime() - w0
    Main.note("inputs written", t0)
    val vectors = spark.read.parquet(vecPath)
    val engine = new Engine
    val vs = Catalog.Vs(Catalog.IndexOptionsVs(Dims, Euclidean))
    engine.addIndex(meta("vec_exact", "vectors", "embedding", "id", vs, Seq("sel")), vectors)
    engine.addIndex(meta("vec_lsh", "vectors", "embedding", "id", vs, Seq("sel")), vectors)
    engine.addIndex(meta("docs", "documents", "text", "doc_id", Catalog.Fts(Catalog.IndexOptionsFts())),
      spark.read.parquet(docPath))
    Main.note("indexes registered", t0)
    val storePath = s"${o.work}/stores/serve-lsh"
    val tb = System.nanoTime()
    val rebuilds = IndexStorage.rebuilds.get()
    val nb = ApproxAnn.autoNbitsFor(vectors, "embedding")
    val store = IndexStorage.materializeCached(spark, vecPath, storePath, Seq("_bucket")) {
      ApproxAnn.buildLshIndex(vectors, "embedding", nb, Dims)
    }
    res.checked("the LSH store is rebuilt in its fresh directory") {
      require(IndexStorage.rebuilds.get() > rebuilds, s"store $storePath was reused")
    }
    engine.setApproxServing(Ks, "vec_lsh", Engine.ApproxServing(store, nbits = nb))
    res.values("store_build_ms") = Seq(Main.ms(tb))
    res.values("nbits") = nb
    Main.note("LSH store built", t0)
    val shell = HttpShell.start(engine)
    val warm = new AtomicInteger(0)
    loop(Clients, WarmupSeconds) { () =>
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      () => post(client, shell.port, in.request(-1 - warm.getAndIncrement()))
    }
    Main.note("warmed up", t0)
    res.setup += (System.nanoTime() - t0 - writeNs) / 1e9
    new Served(spark, engine, shell, storePath)
  }

  def post(client: HttpClient, port: Int, q: Req): HttpResponse[String] =
    client.send(HttpRequest.newBuilder(URI.create(
        s"http://127.0.0.1:$port/api/v1/indexes/$Ks/${q.index}/${q.route}"))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(q.body)).build(),
      HttpResponse.BodyHandlers.ofString())

  def run(res: Result): Unit = {
    val o = res.opts
    val nVec = if (o.tiny) 1000 else Vectors
    val nDocs = if (o.tiny) 300 else Documents
    val r = new SplittableRandom(o.seed)
    val cl = Gen.clusters(if (o.tiny) 16 else 256, Dims, 0.3, r)
    val vecs = Array.fill(nVec)(cl.sample(r))
    val sel = Array.fill(nVec)(r.nextInt(1000))
    val corpus = Gen.documents(nDocs, new SplittableRandom(Batch.CorpusSeed))
    val planted = Array.tabulate(Planted)(p => Gen.docText(r) + " " + plantedTerm(p))
    val in = new Inputs(vecs, sel, cl, Array.tabulate(Planted)(p => (nDocs + p).toLong), o.seed)
    val served = setUp(res, in, (corpus ++ planted).toSeq)
    res.values("vectors") = nVec
    res.values("documents") = nDocs + Planted
    res.values("store_files") = countFiles(new java.io.File(served.storePath))

    val next = new AtomicInteger(0)
    val checks = new ConcurrentLinkedQueue[(Req, String, String)]()
    // untraced: every request over HTTP, latency measured at the client.
    // Traced: requests alternate between HTTP and in-process calls through
    // the layers, so both kinds run under the same load and at the same
    // stage of JIT warm-up; the HTTP ones are the traced end-to-end figures,
    // and with the in-process ones they give the transport time. The
    // alternation flips its phase every cycle of the mix, so each kind sees
    // every class.
    val httpPrefix = if (o.trace) "http:" else ""
    val fallback = new AtomicLong(0L)
    val lshOps = new AtomicLong(0L)
    // (seconds into the window at which an HTTP request ended, its latency):
    // shows how far latency still falls during the window
    val timeline = new ConcurrentLinkedQueue[Seq[Double]]()
    val jvm0 = Main.jvmWork()
    val w0 = System.nanoTime()
    val (wall, done) = loop(Clients, o.seconds) { () =>
      val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      () => {
        val i = next.getAndIncrement()
        val q = in.request(i)
        val t0 = System.nanoTime()
        if (!o.trace || (i + i / Cycle.length) % 2 == 0) try {
          val resp = post(client, served.shell.port, q)
          val ms = Main.ms(t0)
          timeline.add(Seq((System.nanoTime() - w0) / 1e9, ms))
          if (resp.statusCode() == 200) { res.latency(httpPrefix + q.cls, ms); checks.add((q, resp.body(), httpPrefix)) }
          else { res.attempt(); res.fail(s"${q.cls}: HTTP ${resp.statusCode()}: ${resp.body().take(200)}") }
        } catch { case e: java.io.IOException => res.attempt(); res.fail(s"${q.cls}: $e") }
        else try {
          val (body, frame) = inProcess(res, served, q, s"${q.cls}-$i")
          res.latency(q.cls, Main.ms(t0))
          checks.add((q, body, ""))
          if (q.cls == "lsh" || q.cls == "filtered") {
            lshOps.incrementAndGet()
            if (!frame.exists(_.queryExecution.analyzed.toString.contains("_bucket"))) fallback.incrementAndGet()
          }
        } catch { case e: Exception => res.attempt(); res.fail(s"${q.cls} in-process: $e") }
      }
    }
    res.values("timed_s") = wall
    res.values("clients") = Clients
    res.values("timeline") = timeline.asScala.toSeq.sortBy(_.head)
    res.values("completed") = done
    res.values("jvm") = Main.jvmWorkSince(jvm0)
    res.values("jvm_ops") = done
    res.values("lsh_ops") = lshOps.get()
    res.values("lsh_fallbacks") = fallback.get()
    served.shell.stop()

    val recall = checks.asScala.toSeq.flatMap { case (q, body, prefix) => check(res, in, q, body, prefix) }
    res.values("recall_at_10") = recall
  }

  /** Closed loop: `clients` threads repeat their operation until `seconds`
    * have passed. Returns (seconds, ops that ended within them): an op still
    * running at the deadline is not counted, so throughput is not diluted
    * by how long the last requests happen to take. */
  def loop(clients: Int, seconds: Double)(mk: () => () => Unit): (Double, Long) = {
    val done = new AtomicLong(0L)
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val threads = (1 to clients).map { _ =>
      val t = new Thread(() => {
        val op = mk()
        while (System.nanoTime() < deadline) { op(); if (System.nanoTime() <= deadline) done.incrementAndGet() }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    (seconds, done.get())
  }

  /** One request through the layers in-process, in `Routes.handle` order.
    * Returns the response body and, for an ANN request, the frame it was
    * answered from (to tell afterwards, untimed, whether it fell back).
    *
    * Spark plans the frame an encoder runs lazily, inside the encoder's
    * action; `Wire.annResponseJson` even plans a frame of its own. So the
    * encoder runs under the job group `<op>/encode`, and the listener's
    * optimization and planning phase times of that group are the request's
    * `spark.planning`: the report carves them out of `execute_encode`. */
  def inProcess(res: Result, s: Served, q: Req, op: String): (String, Option[DataFrame]) = {
    val tr = res.tracer
    val engine = s.engine
    val sc = s.spark.sparkContext
    def encode(body: => String): String = {
      sc.setJobGroup(s"$op/encode", q.cls, interruptOnCancel = false)
      try tr.span("api.Wire.execute_encode", op)(body)
      finally sc.setJobGroup(op, q.cls, interruptOnCancel = false)
    }
    sc.setJobGroup(op, q.cls, interruptOnCancel = false)
    try tr.span("op", op) {
      val key = Catalog.IndexKey(Ks, q.index)
      val (m, types) = tr.span("api.Routes.resolve", op) {
        (engine.catalog.get(key).get.meta, columnTypes(engine, q.index))
      }
      if (q.cls == "bm25") {
        val (text, limit) = tr.span("api.Wire.decode", op)(Wire.parseBm25Request(q.body))
        val t0 = System.nanoTime()
        engine.withQuiescedRead(Ks, q.index) {
          tr.record("operators.Engine.fence_wait", op, t0, System.nanoTime())
          val df = tr.span("operators.Engine.plan_build", op)(engine.bm25(Ks, q.index, text, limit))
          (encode(Wire.bm25ResponseJson(df, m.primaryKeyColumns.head, types)), None)
        }
      } else {
        val req = tr.span("api.Wire.decode", op)(Wire.parseAnnRequest(q.body, types))
        tr.span("operators.Catalog.route", op) {
          val (eq, rng) = RestrictionCompiler.splitColumns(req.restrictions)
          engine.catalog.bestIndex(key, eq, rng)
        }
        val t0 = System.nanoTime()
        engine.withQuiescedRead(Ks, q.index) {
          tr.record("operators.Engine.fence_wait", op, t0, System.nanoTime())
          val df = tr.span("operators.Engine.plan_build", op)(engine.ann(Ks, q.index, req))
          (encode(Wire.annResponseJson(df, m.primaryKeyColumns, types)), Some(df))
        }
      }
    } finally sc.clearJobGroup()
  }

  /** Check one answer; returns its recall@10 for `lsh` and `filtered`. */
  def check(res: Result, in: Inputs, q: Req, body: String, prefix: String): Option[Double] = {
    res.checked(s"$prefix${q.cls} answer") {
      val root: JsonNode = mapper.readTree(body)
      if (q.cls == "bm25") {
        val ids = root.get("primary_keys").get("doc_id").elements().asScala.map(_.asLong()).toSeq
        val scores = root.get("scores").elements().asScala.map(_.asDouble()).toSeq
        require(ids.contains(in.plantedIds(q.planted)), s"planted doc ${in.plantedIds(q.planted)} missing from $ids")
        require(scores == scores.sortBy(-_), "scores not sorted")
        None
      } else {
        val ids = root.get("primary_keys").get("id").elements().asScala.map(_.asLong()).toSeq
        val dists = root.get("distances").elements().asScala.map(_.asDouble()).toSeq
        val (truth, matches) = in.truth(q.vec, q.below)
        if (q.cls == "exact") {
          require(ids == truth.map(_._1), s"ids $ids != truth ${truth.map(_._1)}")
          dists.zip(truth).foreach { case (d, (_, t)) =>
            require(math.abs(d - t) <= 1e-4 * math.max(1e-12, math.abs(t)), s"distance $d != $t")
          }
          None
        } else {
          require(dists == dists.sorted, "distances not sorted")
          require(ids.length == math.min(K, matches), s"${ids.length} rows for ${math.min(K, matches)} expected")
          if (q.below >= 0) require(ids.forall(id => in.sel(id.toInt) < q.below), "row violates its filter")
          Some(truth.count(t => ids.contains(t._1)).toDouble / math.max(1, truth.length))
        }
      }
    }.flatten
  }

  def countFiles(dir: java.io.File): Int =
    Option(dir.listFiles()).map(_.map(f =>
      if (f.isDirectory) countFiles(f) else if (f.getName.endsWith(".parquet")) 1 else 0).sum).getOrElse(0)
}
