package perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.HttpServer
import graft.Tables
import graft.core.QuadDb
import graft.sources.SparqlResults
import graft.sparql._
import perfbench.Main._

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CompletableFuture, Executors, TimeUnit}
import scala.collection.mutable

/** The `serve` and `mix` workloads: SPARQL over HTTP to
  * `tools.Endpoint` on a durable star-graph quad store.
  *
  * Store: customer facts in per-nation named graphs (`nation/<k>`, the
  * `Tables.customerQuads` layout) plus orders, supplier, nation and
  * region facts in the default graph.
  */
object Serve {

  /** A read request and the answer it must produce. */
  final case class Read(template: String, kind: String, text: String,
                        accept: String, expect: Canon.Answer)

  def read(n: JsonNode): Read = Read(n.get("template").asText(),
    n.get("kind").asText(), n.get("text").asText(), n.get("accept").asText(),
    Canon.Answer(n.get("expect").get("n").asLong(),
      n.get("expect").get("digest").asText()))

  /** Build the store from the generated tables; returns its quad count. */
  def buildStore(ctx: Ctx, path: String): Long = {
    val (sp, dir) = (ctx.spark, ctx.dataDir)
    val db = QuadDb.unionDisjoint(
      Tables.customerQuads(sp, dir),
      QuadDb.fromTripleDb(Tables.ordersDb(sp, dir)),
      QuadDb.fromTripleDb(Tables.supplierDb(sp, dir)),
      QuadDb.fromTripleDb(Tables.nationDb(sp, dir)),
      QuadDb.fromTripleDb(Tables.regionDb(sp, dir)))
    QuadDb.save(db, path)
    QuadDb.load(sp, path).df.count()
  }

  // ------------------------------------------------------------ HTTP

  final class Client(port: Int) {
    private val pool = Executors.newFixedThreadPool(4)
    val http: HttpClient = HttpClient.newBuilder()
      .version(HttpClient.Version.HTTP_1_1).executor(pool).build()
    private val base = s"http://127.0.0.1:$port"

    def queryRequest(r: Read): HttpRequest =
      HttpRequest.newBuilder(URI.create(s"$base/sparql"))
        .header("Content-Type", "application/sparql-query")
        .header("Accept", r.accept)
        .POST(HttpRequest.BodyPublishers.ofString(r.text, UTF_8)).build()

    def updateRequest(text: String): HttpRequest =
      HttpRequest.newBuilder(URI.create(s"$base/update"))
        .header("Content-Type", "application/sparql-update")
        .POST(HttpRequest.BodyPublishers.ofString(text, UTF_8)).build()

    def send(req: HttpRequest): HttpResponse[String] =
      http.send(req, HttpResponse.BodyHandlers.ofString(UTF_8))

    def close(): Unit = { pool.shutdownNow(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  def warn(what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $what failed: $e")

  /** Does the response carry exactly the expected answer? */
  def correct(r: Read, resp: HttpResponse[String]): Boolean =
    resp.statusCode() == 200 && {
      val ctype = resp.headers().firstValue("Content-Type").orElse("")
      try Canon.answer(Canon.parseBody(r.kind, ctype, resp.body())) == r.expect
      catch { case _: Exception => false }
    }

  /** Set-up is done `Reps` times (fresh store, fresh endpoint); the last
    * is kept and warmed up with one read per template. `setup_s` is
    * the median build time plus the warm-up time. */
  private val Reps = 3

  final case class Rig(store: String, server: HttpServer, client: Client,
                       buildS: Double, warmS: Double, quads: Long,
                       warmFailed: Int, warmN: Int) {
    def setupS: Double = buildS + warmS
    def stop(): Unit = { client.close(); server.stop(0) }
  }

  def setUp(ctx: Ctx): Rig = {
    var last: (String, HttpServer, Long) = null
    val times = (1 to Reps).map { i =>
      if (last != null) { last._2.stop(0); deleteTree(last._1) }
      val (ms, r) = timed {
        val store = s"${ctx.runDir}/store-$i"
        val quads = buildStore(ctx, store)
        (store, graft.tools.Endpoint.start(ctx.spark, store, 0), quads)
      }
      last = r
      phase(s"set-up $i built")
      ms / 1000.0
    }
    val (store, server, quads) = last
    val client = new Client(server.getAddress.getPort)
    val warm = seq(ctx.spec.get("warmup")).map(read)
    val warmUpdates = Option(ctx.spec.get("warmup_updates")).map(seq).getOrElse(Nil)
    val (warmMs, bad) = timed {
      warm.count(w => !correct(w, client.send(client.queryRequest(w)))) +
        warmUpdates.count(u => !runUpdate(ctx, store, client, u))
    }
    phase("warm-up done")
    ctx.probe.heapMark()
    Rig(store, server, client, median(times), warmMs / 1000.0, quads, bad,
      warm.size + warmUpdates.size)
  }

  /** One update over HTTP, or a compaction (a library call: the
    * endpoint has no route for it); true when it succeeded. */
  def runUpdate(ctx: Ctx, store: String, client: Client, op: JsonNode): Boolean =
    op.get("kind").asText() match {
      case "compact" => QuadDb.compact(ctx.spark, store); true
      case _ => client.send(client.updateRequest(op.get("text").asText())).statusCode() == 200
    }

  // ------------------------------------------------------------ serve

  /** One open-loop request: due and send times and completion, all in
    * ms since the loop's origin. */
  final case class Sent(i: Int, due: Double, sent: Double,
                        fut: CompletableFuture[(Double, HttpResponse[String])])

  /** Fire `reads` at their due times from one generator thread until
    * `windowMs`; wait for every answer. */
  def openLoop(client: Client, reads: Seq[Read], dueMs: Seq[Double],
               windowMs: Double): Seq[(Sent, Double, HttpResponse[String])] = {
    val origin = System.nanoTime() + 20000000L
    def now(): Double = (System.nanoTime() - origin) / 1e6
    val sent = mutable.ArrayBuffer.empty[Sent]
    var i = 0
    while (i < reads.size && dueMs(i) < windowMs) {
      val wait = dueMs(i) - now()
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
      val t = now()
      val f = client.http
        .sendAsync(client.queryRequest(reads(i)), HttpResponse.BodyHandlers.ofString(UTF_8))
        .thenApply[(Double, HttpResponse[String])](r => (now(), r))
      sent += Sent(i, dueMs(i), t, f)
      i += 1
    }
    sent.toSeq.map { s =>
      val (done, resp) = s.fut.get(120, TimeUnit.SECONDS)
      (s, done, resp)
    }
  }

  /** Server-side (queueing, service) per request. The endpoint answers
    * one request at a time (the JDK HttpServer's default executor is its
    * dispatcher thread), though not necessarily in arrival order: a
    * request starts when it has arrived and the previous answer (in
    * completion order) has gone out. */
  def queueAndService(done: Seq[(Sent, Double, HttpResponse[String])])
      : Seq[(Double, Double)] = {
    var free = Double.MinValue
    done.sortBy(_._2).map { case (s, fin, _) =>
      val start = math.max(s.sent, free)
      free = fin
      (start - s.sent, fin - start)
    }
  }

  def serve(ctx: Ctx): Outcome = {
    val rig = setUp(ctx)
    val reads = seq(ctx.spec.get("ops")).map(read)
    val due = seq(ctx.spec.get("due_ms")).map(_.asDouble())
    val rate = ctx.spec.get("rate").asDouble()
    val windowMs = ctx.seconds * 1000.0 * (if (ctx.trace) 0.5 else 1.0)
    val done = openLoop(rig.client, reads, due, windowMs)
    ctx.probe.heapMark()
    val lat = done.map { case (s, fin, _) => fin - s.due }
    val qs = queueAndService(done)
    val bad = done.count { case (s, _, resp) => !correct(reads(s.i), resp) }
    val base = Map(
      "setup_s" -> rig.setupS,
      "lat_p50_ms" -> quantile(lat, 0.5), "lat_p90_ms" -> quantile(lat, 0.9),
      "ops_per_s" -> done.size / math.max(1e-9, qs.map(_._2).sum / 1000.0),
      "http.queue_ms" -> mean(qs.map(_._1)),
      "gen.late_ms" -> mean(done.map { case (s, _, _) => s.sent - s.due }))
    val layers =
      if (!ctx.trace) Map.empty[String, Double]
      else {
        val rep = replayReads(ctx, rig.store, reads, ctx.seconds * 500.0)
        rep.perOp() + ("http.overhead_ms" ->
          (median(qs.map(_._2)) - median(rep.readMs.toSeq)))
      }
    rig.stop()
    Outcome(done.size + rig.warmN, bad + rig.warmFailed, base ++ layers, Seq(
      "quads" -> rig.quads, "offered_rate_per_s" -> rate,
      "setup_build_s" -> rig.buildS, "warmup_s" -> rig.warmS,
      "requests" -> done.size, "store_bytes" -> treeFiles(rig.store).values.sum))
  }

  // ------------------------------------------------------------ traced replay

  /** Replay reads through the calls `Endpoint` makes, on this thread,
    * with tracing; per-read means of each layer. */
  def replayReads(ctx: Ctx, store: String, reads: Seq[Read],
                  budgetMs: Double): Layers = {
    val acc = new Layers(ctx.probe)
    val t0 = System.nanoTime()
    val it = reads.iterator
    while (it.hasNext && (System.nanoTime() - t0) / 1e6 < budgetMs)
      acc.read(ctx, store, it.next())
    acc
  }

  /** Per-layer accumulator for replayed operations. */
  final class Layers(probe: Probe) {
    private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    private val opMs = mutable.ArrayBuffer.empty[Double]
    /** End-to-end time of each replayed read. */
    val readMs: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
    private val start = probe.snapshot()
    val updates = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]

    private def clock[A](key: String, excludeJobs: Boolean)(body: => A): A = {
      val w0 = System.currentTimeMillis(); val t0 = System.nanoTime()
      val r = probe.traced(body)
      val ms = (System.nanoTime() - t0) / 1e6
      sums(key) += (if (excludeJobs)
        math.max(0.0, ms - probe.jobMillis(w0, System.currentTimeMillis())) else ms)
      r
    }

    /** One read as `Endpoint.respond` runs it; returns the body. */
    def read(ctx: Ctx, store: String, r: Read): String = {
      val t0 = System.nanoTime()
      val db = clock("core.load_ms", excludeJobs = false)(QuadDb.load(ctx.spark, store))
      val q = clock("sparql.parse_ms", excludeJobs = false)(Sparql.parse(r.text))
      val xml = r.accept.contains("xml"); val tsv = r.accept.contains("tab-separated")
      val body = q match {
        case s: SelectQuery =>
          val sol = clock("engine.compile_ms", excludeJobs = true)(Sparql.selectDf(db, s))
          clock("edge.serialize_ms", excludeJobs = true) {
            if (xml) SparqlResults.toXmlDoc(sol)
            else if (tsv) SparqlResults.toTsvDoc(sol)
            else SparqlResults.toJsonDoc(sol)
          }
        case a: AskQuery =>
          val b = clock("engine.compile_ms", excludeJobs = true)(Sparql.ask(db, a))
          clock("edge.serialize_ms", excludeJobs = false) {
            if (xml) SparqlResults.askXmlDoc(b) else SparqlResults.askJsonDoc(b)
          }
        case _ =>
          // CONSTRUCT / DESCRIBE: one call builds, runs and serializes
          clock("engine.compile_ms", excludeJobs = true)(Sparql.runToJson(db, r.text))
      }
      sums("edge.response_bytes") += body.getBytes(UTF_8).length
      opMs += (System.nanoTime() - t0) / 1e6
      readMs += opMs.last
      body
    }

    /** One update as `Endpoint`'s /update route runs it. */
    def update(ctx: Ctx, store: String, kind: String, text: String): Unit = {
      val t0 = System.nanoTime()
      val before = treeFiles(store)
      if (kind == "compact") probe.traced(QuadDb.compact(ctx.spark, store))
      else {
        val ops = clock("sparql.parse_ms", excludeJobs = false)(SparqlUpdate.parse(text))
        probe.traced(SparqlUpdate.run(ctx.spark, store, ops))
      }
      val ms = (System.nanoTime() - t0) / 1e6
      updates.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      val after = treeFiles(store)
      sums("core.bytes_written") += after.collect {
        case (p, n) if !before.contains(p) => n }.sum
      opMs += ms
    }

    /** Means per operation; read-path layers per read, bytes written
      * per update, parse and Spark counters over all replayed ops. */
    def perOp(): Map[String, Double] = {
      def per(k: Int) = math.max(1, k).toDouble
      val n = per(opMs.size)
      val nUpd = per(updates.values.map(_.size).sum)
      val end = probe.snapshot()
      val exec = end.map { case (k, v) => k -> (v - start.getOrElse(k, 0.0)) / n }
      val upd = updates.map { case (k, xs) => s"core.update_ms.$k" -> mean(xs.toSeq) }
      sums.toMap.map { case (k, v) =>
        k -> v / (k match {
          case "core.bytes_written" => nUpd
          case "sparql.parse_ms" => n
          case _ => per(readMs.size)
        })
      } ++ exec ++ upd + ("trace.op_ms" -> median(opMs.toSeq))
    }
  }

  // ------------------------------------------------------------ mix

  /** One rotation of the mix (see gen.py): each update kind once, a
    * compaction, and three reads per update. */
  val MixKinds: Seq[String] = Seq("insert_data", "modify", "delete_data", "graph", "compact")
  private val ReadsPerUpdate = 3

  /** Operations per second of the rotation, from each kind's median
    * latency: the window's own op count would swing with whether a
    * compaction or a graph request happens to fall inside it. */
  def rotationThroughput(byKind: Map[String, Seq[Double]]): Double = {
    val updates = MixKinds.size - 1
    val reads = updates * ReadsPerUpdate
    val ms = MixKinds.map(k => median(byKind.getOrElse(k, Nil))).sum +
      reads * median(byKind.getOrElse("read", Nil))
    (MixKinds.size + reads) / (ms / 1000.0)
  }

  /** Where a durable store keeps its tombstones (graft's on-disk
    * layout; the constant itself is package-private in graft). */
  private val TombstoneDir = "/_tombstones/"

  def mix(ctx: Ctx): Outcome = {
    val rig = setUp(ctx)
    val ops = seq(ctx.spec.get("ops"))
    val readLat = mutable.ArrayBuffer.empty[Double]
    val updLat = mutable.ArrayBuffer.empty[Double]
    val byKind = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var failed = 0
    var attempted = 0
    val layers = new Layers(ctx.probe)
    val t0 = System.nanoTime()
    val deadline = ctx.deadlineNs(t0)
    // traced: updates always replay on this thread (so every kind gets
    // its per-layer split); reads go over HTTP for the first half of the
    // window (untraced, for http.overhead_ms) and replay afterwards. The
    // sequence is one model, so the store stays consistent either way.
    val httpUntil = if (ctx.trace) (t0 + deadline) / 2 else deadline
    // the window also runs until every update kind has been timed once
    def allKinds = MixKinds.forall(byKind.contains)
    val it = ops.iterator
    while (it.hasNext && (System.nanoTime() < deadline || !allKinds)) {
      val op = it.next()
      attempted += 1
      val replay = ctx.trace && System.nanoTime() >= httpUntil
      op.get("kind").asText() match {
        case k @ ("insert_data" | "delete_data" | "modify" | "graph" | "compact") =>
          val text = Option(op.get("text")).map(_.asText()).getOrElse("")
          if (ctx.trace) {
            try {
              layers.update(ctx, rig.store, k, text)
              byKind.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += layers.updates(k).last
            } catch { case e: Exception => failed += 1; warn(k, e) }
          } else {
            val (ms, ok) = timed(runUpdate(ctx, rig.store, rig.client, op))
            updLat += ms
            byKind.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += ms
            if (!ok) failed += 1
          }
        case _ =>
          val r = read(op)
          if (replay) {
            val ok =
              try {
                val body = layers.read(ctx, rig.store, r)
                byKind.getOrElseUpdate("read", mutable.ArrayBuffer.empty) +=
                  layers.readMs.last
                Canon.answer(Canon.parseBody(r.kind, r.accept, body)) == r.expect
              } catch { case e: Exception => warn(r.template, e); false }
            if (!ok) failed += 1
          } else {
            val (ms, resp) = timed(rig.client.send(rig.client.queryRequest(r)))
            readLat += ms
            byKind.getOrElseUpdate("read", mutable.ArrayBuffer.empty) += ms
            if (!correct(r, resp)) failed += 1
          }
      }
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    phase("window done")
    ctx.probe.heapMark()
    val files = treeFiles(rig.store)
    val live = QuadDb.load(ctx.spark, rig.store).df.count()
    val tombFiles = files.keys.count(p =>
      p.contains(TombstoneDir) && p.endsWith(".parquet"))
    val bytesPerQuad = files.values.sum.toDouble / math.max(1L, live)
    val base = Map(
      "setup_s" -> rig.setupS,
      "lat_p50_ms" -> quantile(readLat.toSeq, 0.5),
      "lat_p90_ms" -> quantile(readLat.toSeq, 0.9),
      "ops_per_s" -> rotationThroughput(byKind.view.mapValues(_.toSeq).toMap),
      "mix.update_p50_ms" -> quantile(updLat.toSeq, 0.5),
      "mix.update_p90_ms" -> quantile(updLat.toSeq, 0.9),
      "mix.bytes_per_quad" -> bytesPerQuad,
      "core.tomb_files" -> tombFiles.toDouble)
    val traced = if (ctx.trace) {
      val l = layers.perOp()
      val all = layers.updates.values.flatten.toSeq
      l ++ Map("mix.update_p50_ms" -> quantile(all, 0.5),
        "mix.update_p90_ms" -> quantile(all, 0.9),
        "http.overhead_ms" ->
          (median(readLat.toSeq) - median(layers.readMs.toSeq)))
    } else Map.empty[String, Double]
    rig.stop()
    Outcome(attempted + rig.warmN, failed + rig.warmFailed, base ++ traced, Seq(
      "quads_at_start" -> rig.quads, "live_quads_at_end" -> live,
      "setup_build_s" -> rig.buildS, "warmup_s" -> rig.warmS,
      "ops" -> attempted, "reads" -> readLat.size, "updates" -> updLat.size,
      "window_ops_per_s" -> attempted / elapsedS,
      "kind_p50_ms" -> byKind.map { case (k, xs) => k -> math.round(median(xs.toSeq)) }.toMap,
      "update_p50_ms" -> quantile(updLat.toSeq, 0.5),
      "update_p90_ms" -> quantile(updLat.toSeq, 0.9),
      "bytes_per_quad" -> bytesPerQuad, "tombstone_files" -> tombFiles))
  }
}
