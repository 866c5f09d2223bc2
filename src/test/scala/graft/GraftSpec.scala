package graft

import graft.core.{Term, TripleDb}
import graft.core.Term._
import graft.dsl._
import graft.engine.Projections
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole forked test JVM. */
object TestSpark {
  lazy val session: SparkSession = Session.build(cpus = "4", logLevel = "ERROR")
}

/** Base spec: the reference's `friends` fixture (alpha_test.clj:28-45)
  * plus term/pattern shorthands. Result comparison is multiset-based —
  * solution order is undefined in our engine (SURVEY §2.2).
  */
abstract class GraftSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.session

  // term shorthands
  def u(x: String): Term = TUri("http://data/example/" + x)
  def k(x: String): Term = TKeyword(x)
  def s(x: String): Term = TString(x)
  def l(x: Long): Term = TLong(x)

  def db(triples: (Term, Term, Term)*): TripleDb =
    TripleDb.fromTerms(spark, triples)

  // the friends fixture (alpha_test.clj:28-35)
  val rick: Term = u("rick")
  val martin: Term = u("martin")
  val katie: Term = u("katie")
  val julie: Term = u("julie")
  val label: Term = k("rdfs/label")
  val knows: Term = k("foaf/knows")

  def friends: TripleDb = db(
    (rick, label, s("Rick")),
    (martin, label, s("Martin")),
    (katie, label, s("Katie")),
    (julie, label, s("Julie")),
    (rick, knows, martin),
    (rick, knows, katie),
    (katie, knows, julie))

  // pattern shorthands
  def pat(a: TermOrVar, b: TermOrVar, c: TermOrVar): TriplePattern =
    TriplePattern(a, b, c)
  def ?(n: String): V = V(n)

  /** select as a multiset (bag) of tuples; unbound → null. */
  def bag(d: TripleDb, vars: Seq[V], rows: Seq[PatternRow]): Map[Seq[Term], Int] =
    Projections.select(d, rows, vars).groupBy(identity).map { case (k, v) => k -> v.size }

  def bag1(xs: Seq[Seq[Term]]): Map[Seq[Term], Int] =
    xs.groupBy(identity).map { case (k, v) => k -> v.size }

  /** Spark jobs `body` runs on this thread (job tag + status tracker). */
  def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val tag = "graft-jobs-" + java.util.UUID.randomUUID()
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
    org.apache.spark.GraftCoreBridge.drainListenerBus(sc)
    sc.statusTracker.getJobIdsForTag(tag).length
  }

  def resultSet(d: TripleDb, vars: Seq[V], rows: Seq[PatternRow]): Set[Seq[Term]] =
    Projections.select(d, rows, vars).toSet
}
