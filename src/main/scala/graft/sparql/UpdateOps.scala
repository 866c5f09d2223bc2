package graft.sparql

import graft.core.{QuadDb, Term}
import graft.dsl._
import graft.ops.{GraphMgmt, Update}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** SPARQL 1.1 Update requests as TEXT — the update half of the
  * front-end, completing "a user arriving with a SPARQL file can run
  * it": §3.1 data/pattern mutations (INSERT DATA / DELETE DATA /
  * DELETE WHERE / DELETE-INSERT-WHERE) and §3.2 graph management
  * (LOAD / CLEAR / DROP / COPY / MOVE / ADD), each lowering onto the
  * EXISTING [[graft.ops.Update]] / [[graft.ops.GraphMgmt]] operations
  * — the grammar adds zero new mutation machinery.
  *
  * The runner targets a DURABLE quad store ([[QuadDb.save]]'s layout)
  * — the natural object of an update request; ops write DELTAS only
  * (tombstones / novel appends, the §3.1.3 contract). Value-form
  * mutations stay the Scala API ([[graft.ops.Update]]'s QuadDb
  * overloads), documented. A request is a ';'-separated op SEQUENCE
  * evaluated in order (§3's request semantics).
  */
sealed trait UpdateOp extends Product with Serializable

/** `INSERT DATA { quadData }` (§3.1.1): GROUND quads (vars refuse at
  * parse). Set semantics — already-live facts are not duplicated,
  * tombstoned re-assertions resurrect. */
final case class InsertData(quads: Seq[(Term, Term, Term, Term)])
    extends UpdateOp {
  if (quads.isEmpty) throw new InvalidBgp("INSERT DATA needs quads")
}

/** `DELETE DATA { quadData }` (§3.1.2): ground quads; deleting an
  * absent fact is a no-op (only live facts become tombstones). */
final case class DeleteData(quads: Seq[(Term, Term, Term, Term)])
    extends UpdateOp {
  if (quads.isEmpty) throw new InvalidBgp("DELETE DATA needs quads")
}

/** §3.1.3 `DELETE { d } INSERT { i } WHERE { p }` — either template
  * set may be empty (INSERT-WHERE / DELETE-WHERE), not both; the
  * parser lowers `DELETE WHERE { p }` (§3.1.3.2) to templates = the
  * pattern rows. Template graph positions default to the default
  * graph; `GRAPH g { … }` blocks scope them (g may be a var bound by
  * the WHERE). */
final case class Modify(
    deleteTs: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)],
    insertTs: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)],
    where: Seq[PatternRow]) extends UpdateOp {
  if (deleteTs.isEmpty && insertTs.isEmpty)
    throw new InvalidBgp("DELETE/INSERT needs at least one template set")
  if (where.isEmpty) throw new InvalidBgp("DELETE/INSERT needs a WHERE")
}

/** `LOAD [SILENT] <doc> [INTO GRAPH g]` (§3.1.1); the document IRI is
  * a file path (a `file:` scheme strips), format derived from the
  * extension. SILENT swallows load failures (missing/unreadable
  * document, underivable format) — the request continues, per §3.1's
  * error semantics. */
final case class LoadOp(file: String, graph: Term,
                        silent: Boolean = false) extends UpdateOp

/** `CLEAR/DROP (GRAPH g | DEFAULT | ALL)` (§3.2.2/3 — one operation
  * here: no empty-graph containers, [[graft.ops.GraphMgmt]]'s note).
  * `graph = None` means ALL. */
final case class ClearOp(graph: Option[Term]) extends UpdateOp

/** `CLEAR/DROP NAMED` (§3.2.2/3): every NAMED graph empties, the
  * default graph survives. Its own node (not a ClearOp list) because
  * the engine runs it as ONE pushed scan filter — no graph
  * enumeration ([[graft.ops.GraphMgmt.clearNamed]]). */
case object ClearNamedOp extends UpdateOp

/** `CREATE [SILENT] GRAPH g` (§3.2.1). This dataset has no
  * empty-graph containers (a graph exists exactly while quads carry
  * its name), so CREATE writes nothing; per spec it errors when the
  * graph already exists unless SILENT — "exists" here means "has
  * live quads", checked by a limit-1 probe. */
final case class CreateOp(graph: Term, silent: Boolean) extends UpdateOp

final case class CopyOp(from: Term, to: Term) extends UpdateOp
final case class MoveOp(from: Term, to: Term) extends UpdateOp
final case class AddOp(from: Term, to: Term) extends UpdateOp

object SparqlUpdate {

  /** Parse a SPARQL Update request (';'-separated op sequence). */
  def parse(text: String): Seq[UpdateOp] = Parser.parseUpdate(text)

  /** Pretty-print a request (parse ∘ print = identity, fuzzer-pinned). */
  def print(ops: Seq[UpdateOp]): String = Printer.printUpdate(ops)

  /** The LOAD format table (by document extension). */
  private[graft] def formatOf(file: String): String =
    if (file.endsWith(".nt") || file.endsWith(".ntriples")) "ntriples"
    else if (file.endsWith(".ttl")) "turtle"
    else if (file.endsWith(".jsonl") || file.endsWith(".jsonld")) "jsonld"
    else if (file.endsWith(".rdf") || file.endsWith(".rdfxml")) "rdfxml"
    else throw new InvalidBgp(
      s"LOAD cannot derive a format from '$file' (.nt/.ttl/.jsonl/" +
        ".rdf; or call GraphMgmt.loadInto with an explicit format)")

  /** Run a parsed request against a DURABLE quad store, op by op. */
  def run(spark: SparkSession, path: String, ops: Seq[UpdateOp]): Unit =
    ops.foreach(runOne(spark, path, _))

  /** Parse + run a request string against a durable quad store. */
  def run(spark: SparkSession, path: String, text: String): Unit =
    run(spark, path, parse(text))

  private def runOne(spark: SparkSession, path: String,
                     op: UpdateOp): Unit = op match {
    case InsertData(quads) =>
      // literal data does not read the store: no lineage cut needed
      Update.appendNovel(spark, path, QuadDb.schema,
        QuadDb.fromQuads(spark, quads).df)
    case DeleteData(quads) =>
      // only facts actually LIVE become tombstones (absent = no-op)
      val doomed = QuadDb.fromQuads(spark, quads).df
        .join(QuadDb.loadFrame(spark, path),
          Seq("s", "p", "o", "g"), "left_semi")
      if (!doomed.isEmpty) QuadDb.deleteQuads(doomed, path)
    case Modify(del, ins, where) =>
      if (ins.isEmpty) Update.deleteWhereQuads(spark, path, del, where)
      else if (del.isEmpty) Update.insertWhereQuads(spark, path, ins, where)
      else Update.deleteInsertWhereQuads(spark, path, del, ins, where)
    case LoadOp(file, g, silent) =>
      // SILENT = §3.1's swallow-and-continue; the probe runs the load
      // eagerly enough that a missing document fails HERE, not in a
      // later masked read
      try GraphMgmt.loadInto(spark, path, file, formatOf(file), g)
      catch { case e: Exception if silent => () }
    case ClearOp(Some(g)) => GraphMgmt.clearGraph(spark, path, g)
    case ClearOp(None) =>
      // CLEAR ALL: tombstone every live quad (the full-mask form)
      val live = QuadDb.loadFrame(spark, path)
      if (!live.isEmpty) QuadDb.deleteQuads(live, path)
    case ClearNamedOp => GraphMgmt.clearNamedGraphs(spark, path)
    case CreateOp(g, silent) =>
      // no empty-graph containers: nothing to write; §3.2.1's
      // already-exists error surfaces unless SILENT
      if (!silent && !QuadDb.loadFrame(spark, path)
          .where(col("g") === Term.lit(g)).limit(1).isEmpty)
        throw new InvalidBgp(
          s"CREATE GRAPH: graph $g already exists (has live quads) — " +
            "use CREATE SILENT to ignore")
    case CopyOp(from, to) => GraphMgmt.copyGraph(spark, path, from, to)
    case MoveOp(from, to) => GraphMgmt.moveGraph(spark, path, from, to)
    case AddOp(from, to)  => GraphMgmt.addGraph(spark, path, from, to)
  }
}
