package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.Tables
import graft.core.{DictDb, Term, TripleDb}
import graft.core.Term._
import graft.dsl._
import graft.engine.Projections
import graft.ops.{Paths, Rdfs}
import graft.sparql.Sparql
import org.apache.spark.sql.DataFrame
import perfbench.Main._

import scala.collection.mutable

/** The `scale` workload: a closed loop of 2–4-pattern star and chain
  * BGPs with seed-drawn constants over the unpivoted lineitem table
  * plus the star graph, on the struct `TripleDb` and the `DictDb`
  * layouts, through the library API (no HTTP, no store loads), plus one
  * RDFS-entailed BGP and one 3-hop `Paths.reachable` walk.
  *
  * Each operation materialises its full answer as (row count, digest)
  * in one aggregation job; the digest is checked against DuckDB's.
  */
object Scale {
  val Templates: Seq[String] = Seq("star2", "star3", "chain3", "chain4",
    "sparql_text", "dict_star3", "dict_chain3", "rdfs", "paths")

  private val Reps = 3

  final case class Rig(tdb: TripleDb, dict: DictDb, rdfsBase: TripleDb,
                       ontology: TripleDb, pathsBase: TripleDb)

  def build(ctx: Ctx): Rig = {
    val (sp, dir) = (ctx.spark, ctx.dataDir)
    val li = TripleDb.fromWideTable(sp.read.parquet(s"$dir/lineitem.parquet"),
      "lineitem", "l_id", fks = Map("l_orderkey" -> "orders",
        "l_partkey" -> "part", "l_suppkey" -> "supplier"))
    val tdb = TripleDb.unionDisjoint(li, Tables.graph(sp, dir))
    val dict = tdb.dictEncode()
    dict.triples.count()
    def kw(n: String) = TKeyword(n)
    val ontology = TripleDb.fromTerms(sp, Seq(
      (kw("c_nationkey"), Rdfs.SubPropertyOf, kw("locatedIn")),
      (kw("s_nationkey"), Rdfs.SubPropertyOf, kw("locatedIn")),
      (kw("c_nationkey"), Rdfs.Domain, kw("Customer")),
      (kw("s_nationkey"), Rdfs.Domain, kw("Supplier")),
      (kw("Customer"), Rdfs.SubClassOf, kw("Party")),
      (kw("Supplier"), Rdfs.SubClassOf, kw("Party"))))
    Rig(tdb, dict,
      TripleDb.unionDisjoint(Tables.customerDb(sp, dir), Tables.supplierDb(sp, dir)),
      ontology,
      TripleDb.unionDisjoint(Tables.ordersDb(sp, dir), Tables.customerDb(sp, dir),
        Tables.nationDb(sp, dir)))
  }

  private def pat(s: TermOrVar, p: String, o: TermOrVar): TriplePattern =
    TriplePattern(s, T(TKeyword(p)), o)

  /** The solution frame of one operation (lazy: no job yet, except
    * where graft itself runs one while building). */
  def frame(rig: Rig, op: JsonNode): DataFrame = {
    val c = op.get("consts")
    def i(k: String) = c.get(k).asLong()
    val (l, o, q) = (V("l"), V("o"), V("q"))
    val star3 = Seq(pat(l, "l_partkey", T(TUri(s"part/${i("p")}"))),
      pat(l, "l_quantity", q), pat(l, "l_orderkey", o))
    val chain3 = Seq(pat(l, "l_orderkey", o),
      pat(o, "o_custkey", T(TUri(s"customer/${i("c")}"))), pat(l, "l_quantity", q))
    op.get("template").asText() match {
      case "star2" => Projections.selectDf(rig.tdb, Seq(
          pat(l, "l_suppkey", T(TUri(s"supplier/${i("s")}"))),
          pat(l, "l_extendedprice", V("price"))), Seq(l, V("price")))
      case "star3" => Projections.selectDf(rig.tdb, star3, Seq(l, q, o))
      case "chain3" => Projections.selectDf(rig.tdb, chain3, Seq(l, o, q))
      case "chain4" => Projections.selectDf(rig.tdb, Seq(
          pat(l, "l_suppkey", V("s")),
          pat(V("s"), "s_nationkey", T(TUri(s"nation/${i("nat")}"))),
          pat(l, "l_returnflag", T(TString(c.get("flag").asText()))),
          pat(l, "l_linestatus", V("st"))), Seq(l, V("st")))
      case "sparql_text" => Sparql.select(rig.tdb,
        s"""PREFIX gk: <urn:graft:kw/>
           |SELECT ?l ?q WHERE {
           |  ?l gk:l_partkey <urn:graft:rel/part/${i("p")}> .
           |  ?l gk:l_quantity ?q .
           |  FILTER (?q > ${c.get("qmin").asDouble()})
           |}""".stripMargin)
      case "dict_star3" => Projections.selectDf(rig.dict, star3, Seq(l, q, o))
      case "dict_chain3" => Projections.selectDf(rig.dict, chain3, Seq(l, o, q))
      case "rdfs" =>
        val ent = Rdfs.materialize(rig.rdfsBase, rig.ontology)
        Projections.selectDf(ent, Seq(
          pat(V("x"), "locatedIn", T(TUri(s"nation/${i("nat")}"))),
          TriplePattern(V("x"), T(Rdfs.TypeP), T(TKeyword("Party")))), Seq(V("x")))
      case "paths" => Paths.reachable(rig.pathsBase,
        Seq(TKeyword("o_custkey"), TKeyword("c_nationkey"), TKeyword("n_regionkey")), 3)
    }
  }

  def expected(op: JsonNode): Canon.Answer =
    Canon.Answer(op.get("expect").get("n").asLong(),
      op.get("expect").get("digest").asText())

  def run(ctx: Ctx): Outcome = {
    val ops = seq(ctx.spec.get("ops"))
    var rig: Rig = null
    val setups = (1 to Reps).map { _ =>
      if (rig != null) rig.dict.unpersist()
      val (ms, r) = timed(build(ctx))
      rig = r
      phase("set-up built")
      ms / 1000.0
    }
    // warm-up: one operation per template (the first round), unchecked
    val (warmMs, _) = timed(ops.take(Templates.size).foreach(op =>
      Canon.answerOf(frame(rig, op))))
    phase("warm-up done")
    ctx.probe.heapMark()
    val lat = mutable.ArrayBuffer.empty[Double]
    val perTemplate = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val compile = mutable.ArrayBuffer.empty[Double]
    val start = ctx.probe.snapshot()
    var failed = 0
    val t0 = System.nanoTime()
    val deadline = ctx.deadlineNs(t0)
    // whole rounds only, so every template weighs the same in the
    // latency quantiles
    val rounds = ops.drop(Templates.size).grouped(Templates.size)
    while (rounds.hasNext && System.nanoTime() < deadline) {
      for (op <- rounds.next()) {
        val (ms, got) = timed {
          try Some(runOp(ctx, rig, op, compile))
          catch { case e: Exception => Serve.warn(op.get("template").asText(), e); None }
        }
        lat += ms
        perTemplate.getOrElseUpdate(op.get("template").asText(),
          mutable.ArrayBuffer.empty) += ms
        if (!got.contains(expected(op))) failed += 1
      }
    }
    val elapsedS = (System.nanoTime() - t0) / 1e9
    phase("window done")
    ctx.probe.heapMark()
    val sizes = Seq("triples" -> rig.tdb.df.count(),
      "dict_triples" -> rig.dict.triples.count(),
      "dict_cached_mb" -> ctx.spark.sparkContext.getRDDStorageInfo
        .map(_.memSize).sum / (1024 * 1024))
    rig.dict.unpersist()
    val base = Map(
      "setup_s" -> (median(setups) + warmMs / 1000.0),
      "lat_p50_ms" -> quantile(lat.toSeq, 0.5),
      "lat_p90_ms" -> quantile(lat.toSeq, 0.9),
      "ops_per_s" -> lat.size / elapsedS)
    val layers = if (!ctx.trace) Map.empty[String, Double] else {
      val n = math.max(1, lat.size).toDouble
      val end = ctx.probe.snapshot()
      end.map { case (k, v) => k -> (v - start.getOrElse(k, 0.0)) / n } ++
        perTemplate.map { case (t, xs) =>
          (t match {
            case "rdfs" => "ops.rdfs_ms"
            case "paths" => "ops.paths_ms"
            case other => s"scale.${other}_ms"
          }) -> median(xs.toSeq)
        } ++ Map("engine.compile_ms" -> mean(compile.toSeq),
          "trace.op_ms" -> median(lat.toSeq))
    }
    Outcome(lat.size, failed, base ++ layers, sizes ++ Seq(
      "template_p50_ms" -> perTemplate.map { case (t, xs) =>
        t -> math.round(median(xs.toSeq)) }.toMap,
      "ops" -> lat.size, "rounds" -> lat.size / Templates.size,
      "setup_build_s" -> median(setups), "warmup_s" -> warmMs / 1000.0))
  }

  /** Run one op; traced, frame building is timed as compile (Spark
    * jobs it runs excluded). */
  private def runOp(ctx: Ctx, rig: Rig, op: JsonNode,
                    compile: mutable.ArrayBuffer[Double]): Canon.Answer =
    if (!ctx.trace) Canon.answerOf(frame(rig, op))
    else {
      val w0 = System.currentTimeMillis()
      val (ms, df) = timed(ctx.probe.traced(frame(rig, op)))
      compile += math.max(0.0, ms - ctx.probe.jobMillis(w0, System.currentTimeMillis()))
      ctx.probe.traced(Canon.answerOf(df))
    }
}
