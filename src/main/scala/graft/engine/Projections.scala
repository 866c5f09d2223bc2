package graft.engine

import graft.core.{DictDb, DictQuadDb, QuadDb, Term, TripleDb}
import graft.dsl._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Projection shapes over compiled BGP solutions (SURVEY §2.1 rows 5-12).
  *
  * `selectDf` is the distributed primary path (a DataFrame of term-struct
  * columns — feed it to further Spark ops at any scale). The driver-side
  * collectors (`select`, `construct`, `build`) mirror the reference's
  * in-memory result shapes (alpha.clj:343-412, 641-665, 580-627); like the
  * reference they materialize results, so they are for human-sized
  * outputs — the scale path stays in DataFrames.
  */
object Projections {

  /** Distributed select: project query vars as term-struct columns.
    * `vars` empty → all vars in first-appearance order (alpha.clj:85-89,
    * 357-358). Bag semantics — no DISTINCT (SURVEY §2.2).
    */
  def selectDf(db: TripleDb, rows: Seq[PatternRow], vars: Seq[V] = Nil): DataFrame = {
    val proj = if (vars.nonEmpty) vars else Bgp.allVars(rows)
    val sol = BgpCompiler.compile(db, rows)
    // a projected var no pattern binds is a fresh var in the reference,
    // reified as `_N` (alpha_test.clj:792-807 projects unbound ?title) —
    // our unbound representation is a NULL term column
    val missing = proj.filterNot(v => sol.columns.contains(v.name))
    val padded = missing.foldLeft(sol)((d, v) =>
      d.withColumn(v.name, lit(null).cast(Term.schema)))
    padded.select(proj.map(v => col(v.name)): _*)
  }

  /** Distributed select over a dictionary-encoded store: the join fold
    * runs on 8-byte long ids; terms rehydrate via [[DictDb.decode]] at
    * the plan edge. Result schema and multiset are identical to the
    * struct path (DictSpec + the differential fuzzer's dict leg).
    */
  def selectDf(db: DictDb, rows: Seq[PatternRow], vars: Seq[V]): DataFrame =
    bindRouted(rows, vars, (r, v) => {
      val sol = BgpCompiler.compileDict(db, r)
      val missing = v.filterNot(x => sol.columns.contains(x.name))
      val padded = missing.foldLeft(sol)((d, x) =>
        d.withColumn(x.name, lit(null).cast(LongType)))
      db.decode(padded.select(v.map(x => col(x.name)): _*),
        v.map(_.name), Bgp.valuesTerms(rows))
    })

  /** The dict-store BIND route (round-12): a group with TOP-LEVEL
    * Bind rows cannot fold them in (8-byte id frames cannot carry
    * computed terms — [[BgpCompiler.compileDict]] stays loud for
    * callers who ask for the id frame itself), so the query runs
    * bind-free, DECODES, then extends per §10.1 and applies the
    * filters that read bind targets — the same §18.5 order the
    * in-group path honors (binds after the folds, their filters
    * after the binds; bind-free filters stay in the fold for the
    * scan-side plans). Binds nested in optional clauses still refuse
    * loudly inside the recursive compile. */
  private def bindRouted(rows: Seq[PatternRow], vars: Seq[V],
                         run: (Seq[PatternRow], Seq[V]) => DataFrame): DataFrame = {
    val binds = rows.collect { case b: Bind => b }
    val proj = if (vars.nonEmpty) vars else Bgp.allVars(rows)
    if (binds.isEmpty) return run(rows, proj)
    val bindTargets = binds.map(_.as.name).toSet
    val (postFilterRows, preRows) =
      rows.filterNot(_.isInstanceOf[Bind]).partition {
        case f: FilterExpr =>
          FilterExpr.referencedVars(f).exists(v => bindTargets.contains(v.name))
        case _ => false
      }
    if (preRows.isEmpty) throw new InvalidBgp(
      "BIND-only group over a dict store — nothing to decode; " +
        "use a struct store or add a pattern")
    val postFilters = postFilterRows.collect { case f: FilterExpr => f }
    val baseVars = (proj ++ binds.flatMap(_.expr.refs) ++
      postFilters.flatMap(FilterExpr.referencedVars))
      .filterNot(v => bindTargets.contains(v.name)).distinct
    val base = run(preRows, baseVars)
    var out = extend(base, binds)
    for (f <- postFilters) out = BgpCompiler.filterFrame(out, f)
    out.select(proj.map(v => col(v.name)): _*)
  }

  /** Distributed select over a quad store: [[graft.dsl.QuadPattern]]
    * rows scope/bind the graph position; everything else (optional /
    * values / paths, unbound-var padding) behaves exactly as the
    * triple path. No default for `vars` (Scala bars twin defaults
    * across overloads) — pass `Nil` for all-vars.
    */
  def selectDf(db: QuadDb, rows: Seq[PatternRow], vars: Seq[V]): DataFrame = {
    val proj = if (vars.nonEmpty) vars else Bgp.allVars(rows)
    val sol = BgpCompiler.compileQuads(db, rows)
    val missing = proj.filterNot(v => sol.columns.contains(v.name))
    val padded = missing.foldLeft(sol)((d, v) =>
      d.withColumn(v.name, lit(null).cast(Term.schema)))
    padded.select(proj.map(v => col(v.name)): _*)
  }

  /** `ask` over a quad store. */
  def ask(db: QuadDb, rows: Seq[PatternRow]): Boolean =
    !BgpCompiler.compileQuads(db, rows).isEmpty

  /** `ask` over a dict-encoded quad store — existence needs no
    * decode; the four-id fold answers directly. */
  def ask(db: DictQuadDb, rows: Seq[PatternRow]): Boolean =
    !BgpCompiler.compileDictQuads(db, rows).isEmpty

  /** Distributed select over a dict-encoded quad store: long-keyed
    * fold over four id columns, terms rehydrated at the edge; BIND
    * rows route through decode-then-extend like [[selectDf]]'s
    * DictDb overload. */
  def selectDf(db: DictQuadDb, rows: Seq[PatternRow], vars: Seq[V]): DataFrame =
    bindRouted(rows, vars, (r, v) => {
      val sol = BgpCompiler.compileDictQuads(db, r)
      val missing = v.filterNot(x => sol.columns.contains(x.name))
      val padded = missing.foldLeft(sol)((d, x) =>
        d.withColumn(x.name, lit(null).cast(LongType)))
      db.decode(padded.select(v.map(x => col(x.name)): _*),
        v.map(_.name), Bgp.valuesTerms(rows))
    })

  /** Solution modifiers (SPARQL §15: ORDER BY / LIMIT / OFFSET /
    * DISTINCT) over ANY `selectDf` result frame — they compose with
    * every store layout because they act on the projected term-struct
    * columns, after dict stores have decoded. Ordering uses the
    * canonical total order ([[Term.sortKey]]); the reference leaves
    * solution order undefined (SURVEY §2.2), so ordered selects are a
    * pure extension — bag semantics stay the default and DISTINCT is
    * opt-in, per SPARQL.
    *
    * Scale shape: `orderBy + limit` compiles to TakeOrderedAndProject
    * (per-partition top-k, one narrow merge — never a global sort;
    * PlanSpec-pinned); DISTINCT is one hash aggregate; OFFSET
    * composes via Spark's global-limit machinery. An ORDER BY with no
    * LIMIT is a full range-shuffle sort — legal, but the k-bounded
    * form is the one that scales.
    */
  def modified(sol: DataFrame, orderBy: Seq[OrderKey] = Nil,
               limit: Int = -1, offset: Int = 0,
               distinct: Boolean = false): DataFrame = {
    var d = if (distinct) sol.dropDuplicates() else sol
    if (orderBy.nonEmpty) {
      val missing = orderBy.map(_.v.name).filterNot(d.columns.contains)
      if (missing.nonEmpty) throw new InvalidBgp(
        s"ORDER BY over unprojected vars: ${missing.mkString(", ")}")
      d = d.orderBy(orderBy.map(ok =>
        if (ok.asc) Term.sortKey(col(ok.v.name)).asc
        else Term.sortKey(col(ok.v.name)).desc): _*)
    }
    if (offset > 0) d = d.offset(offset)
    if (limit >= 0) d = d.limit(limit)
    d
  }

  /** Aggregation (SPARQL 1.1 §11: GROUP BY + COUNT / SUM / AVG /
    * MIN / MAX / SAMPLE / GROUP_CONCAT) over ANY `selectDf` result
    * frame — like [[modified]], it acts on projected term-struct
    * columns so every store layout composes, and it returns a frame
    * of term-struct columns (group keys + one column per aggregate),
    * so [[modified]]'s ORDER BY/LIMIT stack on top for the classic
    * `GROUP BY … ORDER BY count DESC LIMIT k` shape.
    *
    * Semantics (tags documented on the [[graft.dsl.AggFn]] ADT):
    * unbound values are ignored by every aggregate except COUNT(*);
    * SUM/AVG are EXACT while every value is a long (int64 lexical
    * sum — deterministic under any partial-aggregation merge order,
    * the property the oracle gate needs; doubles degrade to float
    * summing, documented), a bound non-numeric (non-string for
    * GROUP_CONCAT) makes the group's value an error = unbound
    * result; MIN/MAX use the canonical total term order; empty
    * groups follow §11.4 (SUM/AVG 0, MIN/MAX/SAMPLE unbound).
    * No GROUP BY vars = one global group (§11.1).
    *
    * Scale shape: ONE hash aggregate with map-side partial
    * aggregation — every function here reduces to Spark's native
    * partial/merge aggregates over narrow projections of the term
    * struct (no collect, no window); COUNT(DISTINCT) adds the usual
    * expand-based two-phase plan; GROUP_CONCAT's collect_list is
    * bounded by the group's string payload, the one per-group memory
    * term to size for.
    */
  def aggregated(sol: DataFrame, groupBy: Seq[V], aggs: Seq[Agg]): DataFrame = {
    require(aggs.nonEmpty, "aggregated needs at least one aggregate")
    val needed = groupBy.map(_.name) ++
      aggs.flatMap(_.v).map(_.name)
    val missing = needed.distinct.filterNot(sol.columns.contains)
    if (missing.nonEmpty) throw new InvalidBgp(
      s"aggregate over unprojected vars: ${missing.mkString(", ")}")
    val dup = (groupBy.map(_.name) ++ aggs.map(_.as.name))
      .groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    if (dup.nonEmpty) throw new InvalidBgp(
      s"duplicate result columns: ${dup.mkString(", ")}")

    val nullS = lit(null).cast(org.apache.spark.sql.types.StringType)
    val nullD = lit(null).cast(org.apache.spark.sql.types.DoubleType)
    val nullTerm = lit(null).cast(Term.schema)
    def longTerm(n: Column): Column =
      Term.mk(lit(Term.KLong), n.cast("string"), n.cast("double"), nullS, nullS)
    def doubleTerm(d: Column): Column =
      Term.mk(lit(Term.KDouble), nullS, d, nullS, nullS)
    def stringTerm(s: Column): Column =
      Term.mk(lit(Term.KString), s, nullD, nullS, nullS)

    def exprOf(a: Agg): Column = {
      lazy val c = col(a.v.get.name)
      lazy val kind = c.getField("kind")
      lazy val isNum = kind.isin(Term.KLong, Term.KDouble)
      // per-group facts the numeric aggregates branch on (coalesced:
      // max() over the zero-solution global group is SQL NULL, which
      // would skip every `when` branch)
      lazy val anyBad = coalesce(
        max(when(c.isNotNull && !isNum, 1).otherwise(0)), lit(0))
      lazy val anyDouble = coalesce(
        max(when(kind === Term.KDouble, 1).otherwise(0)), lit(0))
      lazy val nVals = count(c)
      // coalesce: a GLOBAL aggregate over ZERO solutions still emits
      // one row (SPARQL §11.1), where sum() is SQL NULL — SUM({})
      // must be the term 0, not a malformed null-lexical long
      lazy val sumL = coalesce(sum(when(kind === Term.KLong,
        c.getField("lex").cast("long")).otherwise(lit(0L))), lit(0L))
      lazy val sumD = coalesce(
        sum(when(isNum, c.getField("num")).otherwise(lit(0.0))), lit(0.0))
      (a.fn match {
        case AggCount => longTerm(a.v match {
          case None => count(lit(1))
          case Some(v) => if (a.distinct) count_distinct(col(v.name))
            else count(col(v.name))
        })
        case AggSum =>
          when(anyBad === 1, nullTerm)
            .when(anyDouble === 0, longTerm(sumL)) // incl. SUM({}) = 0
            .otherwise(doubleTerm(sumD))
        case AggAvg =>
          when(anyBad === 1, nullTerm)
            .when(nVals === 0, longTerm(lit(0L))) // AVG({}) = 0
            .when(anyDouble === 0,
              doubleTerm(sumL.cast("double") / nVals))
            .otherwise(doubleTerm(sumD / nVals))
        case AggMin =>
          min_by(c, when(c.isNull, lit(null)).otherwise(Term.sortKey(c)))
        case AggMax =>
          max_by(c, when(c.isNull, lit(null)).otherwise(Term.sortKey(c)))
        case AggSample => first(c, ignoreNulls = true)
        case AggGroupConcat(sep) =>
          val bad = max(when(c.isNotNull && kind =!= Term.KString, 1)
            .otherwise(0))
          when(bad === 1, nullTerm).otherwise(stringTerm(
            array_join(array_sort(collect_list(c.getField("lex"))), sep)))
      }).as(a.as.name)
    }
    val exprs = aggs.map(exprOf)
    val grouped =
      if (groupBy.nonEmpty) sol.groupBy(groupBy.map(v => col(v.name)): _*)
      else sol.groupBy()
    grouped.agg(exprs.head, exprs.tail: _*)
  }

  /** BIND over ANY term-struct frame (a `selectDf` output — incl.
    * dict stores, which are decoded by then — or an [[aggregated]]
    * result): extends each row with the numeric expression's value,
    * errors leaving the var unbound (§10.1 Extend). The in-group
    * [[graft.dsl.Bind]] row is the struct-store form; this is the
    * layout-agnostic post-projection form. */
  def extend(sol: DataFrame, binds: Seq[Bind]): DataFrame =
    BgpCompiler.applyBinds(sol, binds)

  /** HAVING (SPARQL §11.1/§15.5): a three-valued [[FilterExpr]]
    * evaluated over an [[aggregated]] result frame — atoms reference
    * group keys or aggregate results by their `as` names; the same
    * §17.2 error table as group filters (an unbound aggregate value —
    * an error group — compares as error, removing the row, while
    * `BOUND` tests it directly). One codegen'd predicate, no joins. */
  def having(agg: DataFrame, f: FilterExpr): DataFrame =
    BgpCompiler.filterFrame(agg, f)

  /** [[having]] with EXISTS support (§17.4.1.4 in HAVING): the store
    * is still in scope after aggregation, so an EXISTS leaf that is
    * uncorrelated or correlated on SURVIVING columns (group keys /
    * aggregate names) evaluates as the same per-row marker the
    * group-level FILTER uses — "groups over threshold that ALSO have
    * a matching fact". Correlation on a solution var the aggregation
    * consumed refuses loudly; pass `preAggVars` (the pre-aggregation
    * projection) so the refusal can tell a consumed var from a fresh
    * inner-scoped one. */
  def having(db: TripleDb, agg: DataFrame, f: FilterExpr,
             preAggVars: Seq[V] = Nil): DataFrame =
    BgpCompiler.filterFrameExists(db, agg, f, preAggVars.map(_.name).toSet)

  /** [[having]] with EXISTS over a quad store (graph-scoped inner
    * patterns). No default for `preAggVars` (twin-default overloads). */
  def having(db: QuadDb, agg: DataFrame, f: FilterExpr,
             preAggVars: Seq[V]): DataFrame =
    BgpCompiler.filterFrameExists(db, agg, f, preAggVars.map(_.name).toSet)

  /** ORDER BY <expression> sugar (§18.5 OrderBy over arbitrary
    * expressions): each non-variable key rewrites to an implicit
    * pre-Bind of a fresh var + a plain [[OrderKey]], and the fresh
    * columns project away afterwards — semantics and plan are exactly
    * "extend, then [[modified]]" (SelectSpec pins the equivalence; a
    * `(TVar(v), asc)` key degenerates to `OrderKey(v, asc)`
    * unchanged). Expression ERRORS (§17.2) leave the key unbound for
    * that row, which sorts FIRST like §15.1's unbound-first rule.
    * DISTINCT applies to the PROJECTED solutions (before the keys
    * extend, per the §18.5 operator order), and `orderBy + limit`
    * still compiles to TakeOrderedAndProject. */
  def modifiedExpr(sol: DataFrame, orderBy: Seq[(TermExpr, Boolean)],
                   limit: Int = -1, offset: Int = 0,
                   distinct: Boolean = false): DataFrame = {
    val keep = sol.columns.toSeq
    var d = if (distinct) sol.dropDuplicates() else sol
    val keys = orderBy.zipWithIndex.map {
      case ((TVar(v), asc), _) => (OrderKey(v, asc), None)
      case ((e, asc), i) =>
        val fresh = V(s"__ord_$i")
        (OrderKey(fresh, asc), Some(Bind(e, fresh)))
    }
    d = extend(d, keys.flatMap(_._2))
    modified(d, keys.map(_._1), limit, offset, distinct = false)
      .select(keep.map(col): _*)
  }

  /** GROUP BY <expression AS var> sugar (§11.1's GroupBy over
    * expressions): each `(expr, ?as)` pair rewrites to an implicit
    * pre-Bind (`?as` becomes a real projected group key, exactly the
    * SPARQL grammar's `GROUP BY (expr AS ?v)`), then [[aggregated]]
    * runs on the bound names — plans identical to writing the Bind
    * yourself (SelectSpec pins it). A `(TVar(v), ?v)` pair is a plain
    * key (no bind). Expression errors group under the UNBOUND key,
    * like grouping on a nullable optional var. */
  def aggregatedExpr(sol: DataFrame, groupBy: Seq[(TermExpr, V)],
                     aggs: Seq[Agg]): DataFrame = {
    val binds = groupBy.collect {
      case (e, as) if !e.isInstanceOf[TVar] ||
        e.asInstanceOf[TVar].v.name != as.name => Bind(e, as)
    }
    aggregated(extend(sol, binds), groupBy.map(_._2), aggs)
  }

  /** Driver-side select ≙ reference `select` (alpha.clj:343-412): rows of
    * terms; unbound optional vars are `null` (≙ reified `_N`).
    */
  def select(db: TripleDb, rows: Seq[PatternRow], vars: Seq[V] = Nil): Seq[Seq[Term]] =
    selectDf(db, rows, vars).collect().toSeq
      .map(r => r.toSeq.indices.map(i => termAt(r, i)))

  /** ≙ `select-1` (alpha.clj:414-431). Solution order is undefined (the
    * reference's order is incidental index order; SURVEY §2.2).
    */
  def select1(db: TripleDb, rows: Seq[PatternRow], vars: Seq[V] = Nil): Option[Seq[Term]] =
    selectDf(db, rows, vars).head(1).headOption
      .map(r => r.toSeq.indices.map(i => termAt(r, i)))

  /** ≙ `ask` (alpha.clj:713-722) — with the early-exit the reference lacks
    * (its `run*` enumerates everything; SURVEY §3.3).
    */
  def ask(db: TripleDb, rows: Seq[PatternRow]): Boolean =
    !BgpCompiler.compile(db, rows).isEmpty

  /** Dict-store ask: existence needs no decode at all — the long-keyed
    * fold answers directly. */
  def ask(db: DictDb, rows: Seq[PatternRow]): Boolean =
    !BgpCompiler.compileDict(db, rows).isEmpty

  // ---------------------------------------------------------------- construct

  /** Magic subject-grouping key (alpha.clj:497-512). */
  val UriKey: Term = Term.TKeyword("grafter.rdf/uri")

  /** Vars referenced anywhere in a template tree (≙ find-vars-in-tree,
    * alpha.clj:444-445).
    */
  def templateVars(template: Any): Seq[V] = {
    val buf = scala.collection.mutable.LinkedHashSet.empty[V]
    def walk(t: Any): Unit = t match {
      case v: V         => buf += v
      case m: Map[_, _] => m.foreach { case (k, v) => walk(k); walk(v) }
      case s: Iterable[_] => s.foreach(walk)
      case _            =>
    }
    walk(template)
    buf.toSeq
  }

  /** Instantiate a template against one solution (≙ postwalk-replace,
    * alpha.clj:459-462). Unbound vars → null (≙ `_N` left in construct
    * output, README:131-134).
    */
  def instantiate(template: Any, b: Map[String, Term]): Any = template match {
    case V(n)           => b.getOrElse(n, null)
    case m: Map[_, _]   => m.map { case (k, v) => instantiate(k, b) -> instantiate(v, b) }
    case s: Set[_]      => s.map(instantiate(_, b))
    case s: Seq[_]      => s.map(instantiate(_, b))
    case other          => other
  }

  /** Distributed construct grouping for flat map templates — the scale
    * path for [[construct]]'s magic-key grouping (mirrors what
    * [[buildDf]] is to [[build]]). One row per subject, `__n_sols`
    * solution count, and per template entry a
    * `struct<n: long, vals: array<term>>`: `n` = solutions contributing
    * a value (bag count — the reference's scalar-vs-set switch:
    * scalar iff n == 1, Set otherwise, even when merged values are
    * equal; group-predicates-xf, alpha.clj:500-516), `vals` = distinct
    * values. One `collect_set` aggregation = map-side combine, one
    * shuffle total. NULL (unbound) values are dropped — callers with
    * optional template vars keep the driver path, where each unbound
    * occurrence stays a distinct reified fresh var.
    */
  def constructDf(db: TripleDb, subj: V, entries: Seq[(String, V)],
                  rows: Seq[PatternRow]): DataFrame =
    constructAgg(selectDf(db, rows, (subj +: entries.map(_._2)).distinct),
      subj, entries)

  /** [[constructDf]] over a dictionary-encoded store — same grouping
    * over the decoded solution frame (semantics pinned in DictSpec). */
  def constructDf(db: DictDb, subj: V, entries: Seq[(String, V)],
                  rows: Seq[PatternRow]): DataFrame =
    constructAgg(selectDf(db, rows, (subj +: entries.map(_._2)).distinct),
      subj, entries)

  private def constructAgg(sol: DataFrame, subj: V,
                           entries: Seq[(String, V)]): DataFrame = {
    val aggs = count(lit(1)).as("__n_sols") +: entries.map { case (name, v) =>
      struct(count(col(v.name)).as("n"), collect_set(col(v.name)).as("vals"))
        .as(name)
    }
    sol.where(col(subj.name).isNotNull)
      .groupBy(col(subj.name))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** ≙ `construct` (alpha.clj:641-665): instantiate an arbitrary template
    * per solution; a map template containing [[UriKey]] groups by that
    * key and merges other keys (scalar if contributed by 1 solution,
    * Set if ≥2 — alpha.clj:497-512, alpha_test.clj:196-209).
    *
    * Flat magic-key map templates (subject entry is a var, every other
    * entry ground-key → var-or-ground-value, all vars required) group
    * distributedly via [[constructDf]] — only the per-subject rows are
    * collected. Everything else (nested templates, non-map templates,
    * optional vars) takes the per-solution driver path.
    */
  def construct(db: TripleDb, template: Any, rows: Seq[PatternRow]): Seq[Any] = {
    template match {
      case m: Map[_, _] =>
        val mm = m.asInstanceOf[Map[Any, Any]]
        if (mm.contains(UriKey) && flatGroupable(mm, rows))
          return constructGrouped(db, mm, rows)
      case _ =>
    }
    val vars = templateVars(template)
    val sols = bindings(db, rows, vars)
    val inst = sols.map(instantiate(template, _))
    template match {
      case m: Map[_, _] if m.asInstanceOf[Map[Any, Any]].contains(UriKey) =>
        groupByMagicKey(inst.map(_.asInstanceOf[Map[Any, Any]]))
      case _ => inst
    }
  }

  /** The distributed grouping applies iff the subject entry is a var,
    * no key contains vars, every value is a var or a ground term, and
    * every var (subject included) is a *required* var of the BGP — so
    * no solution can leave one unbound (unbound values need the driver
    * path's fresh-var-per-occurrence semantics).
    */
  private def flatGroupable(m: Map[Any, Any], rows: Seq[PatternRow]): Boolean = {
    val req = Bgp.requiredVars(rows).map(_.name).toSet
    m(UriKey) match {
      case sv: V if req.contains(sv.name) =>
        m.forall {
          case (UriKey, _)      => true
          case (k, v: V)        => templateVars(k).isEmpty && req.contains(v.name)
          case (k, _: Term)     => templateVars(k).isEmpty
          case _                => false
        }
      case _ => false
    }
  }

  private def constructGrouped(db: TripleDb, m: Map[Any, Any],
                               rows: Seq[PatternRow]): Seq[Any] = {
    val subjV = m(UriKey).asInstanceOf[V]
    val others = m.toSeq.filter(_._1 != UriKey)
    val varEntries = others.zipWithIndex.collect {
      case ((k, v: V), i) => (s"__c$i", k, v)
    }
    val grouped =
      constructDf(db, subjV, varEntries.map(e => e._1 -> e._3), rows).collect()
    grouped.toSeq.map { r =>
      val subj = termAt(r, 0)
      val nSols = r.getLong(1)
      val varVals = varEntries.map { case (cn, k, _) =>
        val st = r.getStruct(r.fieldIndex(cn))
        val n = st.getLong(0)
        val vals = st.getSeq[Row](1).map(Term.fromRow)
        k -> (if (n == 1) vals.head: Any else vals.toSet: Any)
      }
      val groundVals = others.collect {
        // a ground entry is contributed by every solution of the group:
        // ≥2 solutions merge it into a 1-element Set (reference parity)
        case (k, t: Term) => k -> (if (nSols == 1) t: Any else Set(t): Any)
      }
      ((UriKey -> (subj: Any)) +: (varVals ++ groundVals)).toMap
    }
  }

  def construct1(db: TripleDb, template: Any, rows: Seq[PatternRow]): Option[Any] =
    construct(db, template, rows).headOption

  /** CONSTRUCT INTO NAMED GRAPHS: instantiate `(s, p, o, g)` quad
    * templates per solution and materialize a [[QuadDb]] — query
    * results land INTO graphs (one per tenant/source/nation), which
    * completes the named-graph lifecycle from the QUERY side: the
    * result store composes with graph-scoped BGPs/paths, per-graph
    * entailment/VoID, GDPR deleteGraph, and the N-Quads/TriG writers
    * like any ingested store. Any position may be a var or a ground
    * term; a solution leaving ANY template position unbound emits
    * nothing for that template (SPARQL §16.2's incomplete-solution
    * rule — CONSTRUCT never fabricates partial facts).
    *
    * Scale shape: one narrow select per template over the SAME
    * solution frame + union + the store's per-quad set dedup — no
    * driver materialization anywhere (contrast [[construct]], the
    * reference-parity in-memory collector). */
  def constructQuads(db: TripleDb,
                     templates: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)],
                     rows: Seq[PatternRow]): QuadDb =
    constructQuadsFrom(selectDf(db, rows, rowVars(cells(templates))), templates)

  /** [[constructQuads]] reading FROM a quad store (e.g. re-grouping
    * one dataset's facts into different graphs). */
  def constructQuads(db: QuadDb,
                     templates: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)],
                     rows: Seq[PatternRow]): QuadDb =
    constructQuadsFrom(selectDf(db, rows, rowVars(cells(templates))), templates)

  private def constructQuadsFrom(sol: DataFrame,
      templates: Seq[(TermOrVar, TermOrVar, TermOrVar, TermOrVar)]): QuadDb =
    QuadDb(instantiateRows(sol, QuadDb.schema.fieldNames.toSeq, cells(templates)),
      distinct = true)

  private[graft] def cells(templates: Seq[Product]): Seq[Seq[TermOrVar]] =
    templates.map(_.productIterator.map(_.asInstanceOf[TermOrVar]).toSeq)

  private[graft] def rowVars(templates: Seq[Seq[TermOrVar]]): Seq[V] =
    templates.flatten.collect { case v: V => v }.distinct

  /** Template rows instantiated onto the key columns `keys` (one
    * position per key), per solution of `sol`: one narrow select per
    * template, union, per-row dedup. A row leaving any position unbound
    * instantiates nothing (SPARQL §16.2). */
  private[graft] def instantiateRows(sol: DataFrame, keys: Seq[String],
                                     templates: Seq[Seq[TermOrVar]]): DataFrame = {
    require(templates.nonEmpty, "need >= 1 template")
    def colOf(tv: TermOrVar): Column = tv match {
      case v: V => col(v.name)
      case T(t) => Term.lit(t)
    }
    templates.map { t =>
      sol.select(t.zip(keys).map { case (tv, k) => colOf(tv).as(k) }: _*)
        .where(keys.map(col(_).isNotNull).reduce(_ && _))
    }.reduce(_.unionByName(_)).dropDuplicates(keys)
  }

  /** DESCRIBE (SPARQL §16.4) — the fourth result form, completing
    * SELECT / CONSTRUCT / ASK: every fact ABOUT the resources the
    * query binds to `v`. §16.4 leaves the description shape
    * implementation-defined; this engine pins the bnode-free Concise
    * Bounded Description, which (with no blank nodes in the Term
    * model) is exactly the SUBJECT-position facts of each matched
    * resource — the same per-subject unit the GDPR deletes and the
    * `build` grouping use. `alsoObjects = true` widens to facts
    * pointing AT the resource (the symmetric-CBD dial real stores
    * offer).
    *
    * Scale shape: one DISTINCT over the matched resources (bounded by
    * the answer, not the store) + one left_semi per position against
    * the full relation — broadcastable when the match set is small,
    * AQE otherwise; never a driver materialization. The result is an
    * ordinary triple frame (s, p, o), so it feeds a [[TripleDb]], the
    * interchange writers, or further queries directly. */
  def describeDf(db: TripleDb, v: V, rows: Seq[PatternRow],
                 alsoObjects: Boolean = false): DataFrame = {
    val matched = selectDf(db, rows, Seq(v))
      .where(col(v.name).isNotNull)
      .select(col(v.name).as("__r")).distinct()
    val subj = db.df.join(matched, col("s") === col("__r"), "left_semi")
    if (!alsoObjects) subj
    else subj.unionByName(
      db.df.join(matched, col("o") === col("__r"), "left_semi"))
      .dropDuplicates("s", "p", "o")
  }

  /** [[describeDf]] over a quad store: the description keeps each
    * fact's GRAPH (a resource described across tenant graphs shows
    * which graph asserts what). */
  def describeDf(db: QuadDb, v: V, rows: Seq[PatternRow],
                 alsoObjects: Boolean): DataFrame = {
    val matched = selectDf(db, rows, Seq(v))
      .where(col(v.name).isNotNull)
      .select(col(v.name).as("__r")).distinct()
    val subj = db.df.join(matched, col("s") === col("__r"), "left_semi")
    if (!alsoObjects) subj
    else subj.unionByName(
      db.df.join(matched, col("o") === col("__r"), "left_semi"))
      .dropDuplicates("s", "p", "o", "g")
  }

  private def groupByMagicKey(maps: Seq[Map[Any, Any]]): Seq[Any] =
    maps.groupBy(_(UriKey)).toSeq.map { case (subj, group) =>
      val keys = group.flatMap(_.keys).distinct
      keys.map {
        case UriKey => (UriKey: Any) -> subj // the grouping key stays scalar
        case k =>
          // reference parity (group-predicates-xf, alpha.clj:500-516): a
          // value contributed by ONE solution stays scalar; values merged
          // from ≥2 solutions become a set even when equal — construct
          // never flattens merged sets (only build does)
          val vals = group.flatMap(_.get(k))
          k -> (if (vals.size == 1) vals.head else vals.toSet)
      }.toMap
    }

  // -------------------------------------------------------------------- build

  /** Distributed build (SURVEY §2.4) — the scale path. One row per
    * subject, one `array<term>` column per template entry holding the
    * distinct non-null values of that entry's variable across the
    * subject's solutions (`collect_set` = map-side-combining aggregate:
    * partial aggregation before the shuffle, one shuffle total).
    * Flattening singleton arrays to scalars is an API-edge concern
    * (a Spark column cannot be "string or array", SURVEY §7.4) — see
    * [[build]]. Arrays are NOT sorted; callers needing determinism sort.
    */
  def buildDf(db: TripleDb, subj: V, template: Seq[(String, V)],
              rows: Seq[PatternRow]): DataFrame =
    buildAgg(selectDf(db, rows, (subj +: template.map(_._2)).distinct),
      subj, template)

  /** [[buildDf]] over a dictionary-encoded store — same aggregation
    * over the decoded solution frame (semantics pinned in DictSpec). */
  def buildDf(db: DictDb, subj: V, template: Seq[(String, V)],
              rows: Seq[PatternRow]): DataFrame =
    buildAgg(selectDf(db, rows, (subj +: template.map(_._2)).distinct),
      subj, template)

  private def buildAgg(sol: DataFrame, subj: V,
                       template: Seq[(String, V)]): DataFrame = {
    val aggs = template.map { case (name, v) => collect_set(col(v.name)).as(name) }
    sol.where(col(subj.name).isNotNull)
      .groupBy(col(subj.name))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** ≙ `build` (alpha.clj:580-627): subject-grouped resource maps.
    * Per subject: `subjKey -> subject` plus, per template entry, the
    * distinct values across solutions — key dropped when unbound
    * (alpha.clj:464-486), scalar when 1 value, Set when ≥2
    * (alpha.clj:555-569).
    *
    * Flat templates (every value a `V` or ground `Term` — the common
    * case, alpha_test.clj:763-790) aggregate distributedly via
    * [[buildDf]]; only the already-grouped per-subject rows are
    * collected. Nested templates fall back to per-solution
    * instantiation on the driver (human-sized results only).
    */
  def build(db: TripleDb, subj: TermOrVar, template: Map[Any, Any],
            rows: Seq[PatternRow], subjKey: Term = UriKey): Seq[Map[Any, Any]] = {
    val flat = template.forall {
      case (_: Term, _: V) => true; case (_: Term, _: Term) => true; case _ => false
    }
    subj match {
      // all-ground / empty flat templates have nothing to aggregate —
      // route them through the per-solution path
      case sv: V if flat && template.exists(_._2.isInstanceOf[V]) =>
        val entries = template.toSeq
        val varEntries = entries.zipWithIndex.collect {
          case ((_, v: V), i) => s"__c$i" -> v
        }
        val grouped = buildDf(db, sv, varEntries, rows).collect()
        grouped.toSeq.map { r =>
          val subjTerm = termAt(r, 0)
          val varVals: Map[String, Seq[Term]] = varEntries.map { case (cn, _) =>
            cn -> r.getSeq[Row](r.fieldIndex(cn)).map(Term.fromRow)
          }.toMap
          val merged = entries.zipWithIndex.flatMap {
            case ((k, _: V), i) =>
              val vals = varVals(s"__c$i")
              if (vals.isEmpty) None
              else if (vals.size == 1) Some(k -> (vals.head: Any))
              else Some(k -> (vals.toSet: Any))
            case ((k, t: Term), _) => Some(k -> (t: Any)) // ground: constant per solution
            case ((k, other), _)   => Some(k -> other)
          }.toMap
          merged + (subjKey -> (subjTerm: Any))
        }
      case _ => buildCollect(db, subj, template, rows, subjKey)
    }
  }

  /** Driver-side fallback for ground subjects, nested templates, and
    * variable-keyed templates like `{?p ?o}` (alpha_test.clj:619-629):
    * instantiate the whole template map per solution, then merge per
    * subject with build's drop-unbound / singleton-flatten rules.
    */
  private def buildCollect(db: TripleDb, subj: TermOrVar, template: Map[Any, Any],
                           rows: Seq[PatternRow], subjKey: Term): Seq[Map[Any, Any]] = {
    val subjVars = subj match { case v: V => Seq(v); case _ => Seq.empty }
    val vars = (subjVars ++ templateVars(template)).distinct
    val sols = bindings(db, rows, vars)
    val keyed = sols.map { b =>
      val sv = subj match {
        case v: V  => b.getOrElse(v.name, null)
        case T(t)  => t
      }
      sv -> instantiate(template, b).asInstanceOf[Map[Any, Any]]
    }.filter(_._1 != null)
    keyed.groupBy(_._1).toSeq.map { case (sv, group) =>
      val maps = group.map(_._2)
      val keys = maps.flatMap(_.keys).distinct.filter(_ != null)
      val merged = keys.flatMap { k =>
        val vals = maps.flatMap(_.get(k)).filter(_ != null).distinct
        if (vals.isEmpty) None
        else if (vals.size == 1) Some(k -> vals.head)
        else Some(k -> (vals.toSet: Any))
      }.toMap
      merged + (subjKey -> (sv: Any))
    }
  }

  def build1(db: TripleDb, subj: TermOrVar, template: Map[Any, Any],
             rows: Seq[PatternRow], subjKey: Term = UriKey): Option[Map[Any, Any]] =
    build(db, subj, template, rows, subjKey).headOption

  // ------------------------------------------------------------------ helpers

  private def bindings(db: TripleDb, rows: Seq[PatternRow],
                       vars: Seq[V]): Seq[Map[String, Term]] = {
    val available = Bgp.allVars(rows).map(_.name).toSet
    val proj = vars.filter(v => available.contains(v.name))
    if (proj.isEmpty) {
      // no projectable vars: every solution instantiates the template as-is
      val n = BgpCompiler.compile(db, rows).count()
      require(n <= Int.MaxValue,
        s"$n solutions exceed the driver-side collector limit; use the Df variants")
      return Seq.fill(n.toInt)(Map.empty[String, Term])
    }
    selectDf(db, rows, proj).collect().toSeq.map { r =>
      proj.indices.flatMap { i =>
        Option(termAt(r, i)).map(t => proj(i).name -> t)
      }.toMap
    }
  }

  private def termAt(r: Row, i: Int): Term =
    if (r.isNullAt(i)) null else Term.fromRow(r.getStruct(i))
}
