package graft.tools

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.core.QuadDb
import graft.dsl.InvalidBgp
import graft.sources.SparqlResults
import graft.sparql._
import org.apache.spark.sql.SparkSession

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8

/** A minimal SPARQL 1.1 Protocol endpoint over the JDK's built-in
  * `HttpServer` — the demo/interop edge that lets any SPARQL client
  * talk to the engine (tools-tier: no new query machinery, every
  * request lowers onto [[graft.sparql.Sparql]] / [[SparqlUpdate]]).
  *
  * Routes (the §2 protocol shapes):
  *   - `GET /sparql?query=…` and `POST /sparql` (body =
  *     `application/sparql-query` raw text, or form-encoded `query=`)
  *     — query against the durable quad store;
  *   - `POST /update` (body = `application/sparql-update` raw text,
  *     or form-encoded `update=`) — update request against the store.
  *
  * Content negotiation on the Accept header for SELECT:
  * sparql-results+json (default) / sparql-results+xml /
  * text/tab-separated-values — the three lossless result formats.
  * ASK negotiates json/xml; CONSTRUCT returns application/n-triples,
  * DESCRIBE application/n-quads (graphs kept). Response bodies ride
  * the bounded single-document forms — an oversized result is a loud
  * 400 naming the distributed writer, never a driver OOM.
  *
  * The store loads per request (masked read), so updates are visible
  * to the next query. No load cache is needed: a load runs no Spark
  * job, only a partition listing ([[QuadDb.load]]), and a cache would
  * also have to be invalidated by writers the endpoint never sees,
  * such as [[QuadDb.compact]] rewriting files in place.
  */
object Endpoint {

  /** Start serving `storePath` (a [[QuadDb.save]]d store) on `port`
    * (0 = ephemeral; read the bound port off the returned server). */
  def start(spark: SparkSession, storePath: String, port: Int): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/sparql", handler(exch => {
      val q = queryOf(exch)
      val accept = Option(exch.getRequestHeaders.getFirst("Accept"))
        .getOrElse("")
      respond(spark, storePath, q, accept)
    }))
    server.createContext("/update", handler(exch => {
      if (exch.getRequestMethod != "POST")
        throw new InvalidBgp("update requests are POST-only (§2.2)")
      val body = new String(exch.getRequestBody.readAllBytes(), UTF_8)
      val ctype = Option(exch.getRequestHeaders.getFirst("Content-Type"))
        .getOrElse("")
      val text =
        if (ctype.startsWith("application/x-www-form-urlencoded"))
          formParam(body, "update").getOrElse(
            throw new InvalidBgp("missing form parameter 'update'"))
        else body
      SparqlUpdate.run(spark, storePath, text)
      ("text/plain", "update ok\n")
    }))
    server.start()
    server
  }

  /** CLI: `Endpoint <storePath> [port]` — serve until killed. */
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Endpoint <quad-store-path> [port]")
    val port = if (args.length > 1) args(1).toInt else 3330
    val spark = graft.Session.build()
    val server = start(spark, args(0), port)
    println(s"SPARQL endpoint on port " +
      s"${server.getAddress.getPort} (query: /sparql, update: /update)")
    Thread.currentThread().join()
  }

  // ----------------------------------------------------------- internals

  private def handler(f: HttpExchange => (String, String)): HttpHandler =
    (exch: HttpExchange) => {
      val (status, ctype, body) =
        try { val (c, b) = f(exch); (200, c, b) }
        catch {
          case e: InvalidBgp => (400, "text/plain", s"${e.getMessage}\n")
          case e: IllegalArgumentException =>
            (400, "text/plain", s"${e.getMessage}\n")
          case e: Exception => (500, "text/plain", s"${e.getMessage}\n")
        }
      val bytes = body.getBytes(UTF_8)
      exch.getResponseHeaders.set("Content-Type", s"$ctype; charset=utf-8")
      exch.sendResponseHeaders(status, bytes.length)
      val out = exch.getResponseBody
      try out.write(bytes) finally out.close()
    }

  /** The query text of a GET (`?query=`) or POST (raw / form) request. */
  private def queryOf(exch: HttpExchange): String =
    exch.getRequestMethod match {
      case "GET" =>
        Option(exch.getRequestURI.getRawQuery).flatMap(formParam(_, "query"))
          .getOrElse(throw new InvalidBgp("missing query parameter"))
      case "POST" =>
        val body = new String(exch.getRequestBody.readAllBytes(), UTF_8)
        val ctype = Option(exch.getRequestHeaders.getFirst("Content-Type"))
          .getOrElse("")
        if (ctype.startsWith("application/x-www-form-urlencoded"))
          formParam(body, "query").getOrElse(
            throw new InvalidBgp("missing form parameter 'query'"))
        else body
      case m => throw new InvalidBgp(s"unsupported method $m")
    }

  private def formParam(encoded: String, name: String): Option[String] =
    encoded.split('&').iterator.map(_.split("=", 2)).collectFirst {
      case Array(k, v) if URLDecoder.decode(k, UTF_8) == name =>
        URLDecoder.decode(v, UTF_8)
    }

  /** Run + serialize per the Accept header (§2.1.6 conneg subset). */
  private def respond(spark: SparkSession, storePath: String,
                      text: String, accept: String): (String, String) = {
    val db = QuadDb.load(spark, storePath)
    val wantsXml = accept.contains("sparql-results+xml")
    val wantsTsv = accept.contains("tab-separated-values")
    Sparql.parse(text) match {
      case q: SelectQuery =>
        val sol = Sparql.selectDf(db, q)
        if (wantsXml)
          ("application/sparql-results+xml", SparqlResults.toXmlDoc(sol))
        else if (wantsTsv)
          ("text/tab-separated-values", SparqlResults.toTsvDoc(sol))
        else
          ("application/sparql-results+json", SparqlResults.toJsonDoc(sol))
      case q: AskQuery =>
        val b = Sparql.ask(db, q)
        if (wantsXml)
          ("application/sparql-results+xml", SparqlResults.askXmlDoc(b))
        else ("application/sparql-results+json", SparqlResults.askJsonDoc(b))
      case _: ConstructQuery =>
        ("application/n-triples", Sparql.runToJson(db, text))
      case _: DescribeQuery =>
        ("application/n-quads", Sparql.runToJson(db, text))
    }
  }
}
