package graft.engine

import graft.core.{DictDb, DictQuadDb, QuadDb, Term, TripleDb}
import graft.dsl._
import graft.ops.Paths
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import scala.collection.mutable

/** Compiles a BGP (triple patterns + values + optionals) into a solution
  * DataFrame with one term-struct column per query variable.
  *
  * Reference semantics being reproduced (SURVEY §2, §3):
  *   - each `[s p o]` pattern ≙ a `(triple s p o)` goal (alpha.clj:188-191)
  *     → a filtered projection of the triple table; ground positions
  *     become `where` predicates that Catalyst pushes into the scan
  *     (≙ the pldb per-position hash index, alpha.clj:52);
  *   - pattern conjunction ≙ unification on shared vars (alpha.clj:193-203)
  *     → a fold of inner equi-joins on shared var columns;
  *   - `values` ≙ `l/membero` (alpha.clj:175-176) → an OR-filter /
  *     broadcast semi-join when the var is already bound, a generator
  *     cross-join when not (bag semantics preserved);
  *   - `optional` ≙ the single-conde disjunction + per-group regrouping
  *     (alpha.clj:193-203, 274-313, 382-411) → one `left_outer` join per
  *     optional clause on the vars it shares with the *required* pattern
  *     set; unbound → SQL NULL (≙ reified `_N`, alpha.clj:315). Two
  *     clauses binding the same non-required var act as alternatives →
  *     `coalesce` (alpha_test.clj:511-518). Documented divergence
  *     (SURVEY §2.3): within one clause binding ≥2 vars the reference
  *     cross-products per-var *columns* per group; we keep the
  *     SPARQL-correct row pairing of a left join.
  *
  * What the reference leaves to the user, we optimize (SURVEY §4):
  * patterns are pre-ordered most-selective-first (ground-term count +
  * already-bound vars) before the join fold, so Catalyst sees a join tree
  * that filters early. The reference executes patterns in written order
  * (alpha.clj:193-203).
  */
object BgpCompiler {

  /** The physical term representation the join fold runs over. The
    * compile logic (ordering, join fold, values routing, optional left
    * joins) is representation-agnostic; only how a ground term becomes
    * a literal column and how a values collection becomes a frame
    * differ between the struct-keyed [[TripleDb]] and the long-keyed
    * [[DictDb]] (whose triple columns are also named s/p/o).
    */
  private[graft] final case class BgpInput(
      full: DataFrame,
      predIndex: Map[String, DataFrame],
      stats: Map[String, Long],
      groundLit: Term => Column,
      mkCollDf: (SparkSession, Values) => DataFrame,
      dict: Option[DataFrame] = None)

  private def structInput(db: TripleDb): BgpInput =
    BgpInput(db.df, db.predIndex, db.stats, Term.lit, structCollDf)

  private def dictInput(db: DictDb): BgpInput =
    BgpInput(db.triples, db.predIndex, db.stats,
      t => functions.lit(DictDb.termId(t)), dictCollDf, Some(db.dict))

  private def quadInput(db: QuadDb): BgpInput =
    BgpInput(db.df, db.predIndex, db.stats, Term.lit, structCollDf)

  /** Compile a full BGP against a db. Result columns = variable names. */
  def compile(db: TripleDb, rows: Seq[PatternRow]): DataFrame =
    compile(structInput(db), rows)

  /** Quad-store path: [[QuadPattern]] rows scope/bind the graph
    * position; plain [[TriplePattern]] rows match the union of all
    * graphs (QuadDb's documented dataset semantics). Same fold, same
    * ordering, same values/optional machinery — the graph position is
    * just a fourth scan column.
    */
  def compileQuads(db: QuadDb, rows: Seq[PatternRow]): DataFrame =
    compile(quadInput(db), rows)

  /** Dict-encoded quad path: the same fold over four 8-byte id
    * columns; decode at the edge via [[DictQuadDb.decode]]. */
  def compileDictQuads(db: DictQuadDb, rows: Seq[PatternRow]): DataFrame =
    compile(BgpInput(db.quads, db.predIndex, db.stats,
      t => functions.lit(DictDb.termId(t)), dictCollDf, Some(db.dict)), rows)

  /** Dict path: result columns are LONG ids — decode at the edge via
    * [[DictDb.decode]]. Same solution multiset as the struct path
    * (pinned by DictSpec and the differential fuzzer's dict leg).
    */
  def compileDict(db: DictDb, rows: Seq[PatternRow]): DataFrame =
    compile(dictInput(db), rows)

  private def compile(in: BgpInput, rows: Seq[PatternRow]): DataFrame = {
    if (rows.isEmpty) throw new InvalidBgp("empty BGP")
    val spark = in.full.sparkSession

    val patterns: Seq[PatternRow] =
      rows.collect { case p: TriplePattern => p; case q: QuadPattern => q }
    val paths: Seq[PatternRow] =
      rows.collect { case p: PathPattern => p; case q: QuadPathPattern => q }
    val values = rows.collect { case v: Values => v }
    val valuesTables = rows.collect { case vt: ValuesTable => vt }
    val subSelects = rows.collect { case ss: SubSelect => ss }
    val unions = rows.collect { case u: Union => u }
    val optionals = rows.collect { case o: Optional => o }
    val negations: Seq[PatternRow] =
      rows.collect { case n: NotExists => n; case m: Minus => m }
    val filters: Seq[FilterExpr] = rows.collect { case f: FilterExpr => f }
    val binds = rows.collect { case b: Bind => b }

    if (binds.nonEmpty && in.dict.nonEmpty)
      throw new InvalidBgp(
        "BIND over a dict store — 8-byte id frames cannot carry " +
          "computed terms; bind after decode via Projections.extend")

    if (rows.exists(r => r.isInstanceOf[QuadPattern] ||
          r.isInstanceOf[QuadPathPattern]) &&
        !in.full.columns.contains("g"))
      throw new InvalidBgp(
        "quad pattern against a store with no graph position — " +
          "graph-scoped patterns need a QuadDb")

    val requiredVarNames: Set[String] = Bgp.requiredVars(rows).map(_.name).toSet

    // ---- required conjunction: ordered join fold over pattern scans ----
    var acc: Option[DataFrame] = None
    var bound: Set[String] = Set.empty
    // vars a ValuesTable UNDEF cell introduced: their column may be
    // NULL per row, so a pending single-var Values must use the
    // compatibility JOIN (null row binds each coll element) instead
    // of the filter — the filter would silently drop the UNDEF rows
    // (fuzzer counterexample, round 11)
    var maybeNullVals: Set[String] = Set.empty
    val pendingValues = mutable.ArrayBuffer(values: _*)

    def applyValues(a: DataFrame, v: Values): DataFrame =
      if (maybeNullVals.contains(v.v.name)) {
        maybeNullVals -= v.v.name // the join binds every null row
        nullCompatValuesJoin(in, a, v)
      } else valuesFilter(in, a, v)

    def applyBoundValues(): Unit = {
      var i = 0
      while (i < pendingValues.length) {
        val v = pendingValues(i)
        if (bound.contains(v.v.name)) {
          acc = acc.map(applyValues(_, v))
          pendingValues.remove(i)
        } else i += 1
      }
    }

    val (withVars, groundOnly) = patterns.partition(_.vars.nonEmpty)
    for (pat <- orderPatterns(withVars, in.stats)) {
      val scanned = scan(in, sourceFor(in, pat), pat)
      acc = acc match {
        case None => Some(scanned)
        case Some(a) =>
          val shared = scanned.columns.toSeq.filter(a.columns.contains)
          if (shared.nonEmpty) Some(a.join(scanned, shared, "inner"))
          else Some(a.crossJoin(scanned))
      }
      bound ++= pat.vars.map(_.name)
      applyBoundValues()
    }

    // ---- property paths: each PathPattern folds in as a closed
    // (src, dst) pair frame over its ground predicate's edges —
    // ground endpoints BFS a frontier instead of closing the whole
    // relation (Paths.closureEdgesFrom), variable endpoints join the
    // fold on shared vars like any scanned pattern. Pair semantics are
    // DISTINCT (SPARQL 1.1 §9.3: path solutions do not multiply by
    // route count — and enumerating routes would be exponential).
    val (groundPaths, varPaths) = paths.partition(_.vars.isEmpty)
    for (pp <- varPaths) {
      val frame = pp match {
        case p: PathPattern     => pathFrame(in, p)
        case q: QuadPathPattern => quadPathFrame(in, q)
        case other => throw new InvalidBgp(s"unexpected path row: $other")
      }
      acc = acc match {
        case None => Some(frame)
        case Some(a) =>
          val shared = frame.columns.toSeq.filter(a.columns.contains)
          if (shared.nonEmpty) Some(a.join(frame, shared, "inner"))
          else Some(a.crossJoin(frame))
      }
      bound ++= pp.vars.map(_.name)
      applyBoundValues()
    }

    // Join a derived frame (subquery projection / union of branches)
    // into the fold on its vars: equality fast path when no shared
    // var can be null, §10.2 compatibility with a coalesce merge
    // otherwise — the same form as the values tables below.
    def foldInCompat(frame: DataFrame, frameVars: Seq[String],
                     nullable: Set[String]): Unit = {
      val preCols: Set[String] = acc.map(_.columns.toSet).getOrElse(Set.empty)
      val shared = frameVars.filter(preCols.contains)
      val anyNullable =
        shared.exists(c => nullable.contains(c) || maybeNullVals.contains(c))
      acc = acc match {
        case None => Some(frame)
        case Some(a) =>
          if (shared.isEmpty) Some(a.crossJoin(frame))
          else if (!anyNullable) Some(a.join(frame, shared, "inner"))
          else {
            var t = frame
            for (v <- shared) t = t.withColumnRenamed(v, s"__sq_$v")
            val cond = shared.map(v =>
              col(s"__sq_$v").isNull || col(v).isNull ||
                col(s"__sq_$v") === col(v)).reduce(_ && _)
            var joined = a.join(t, cond, "inner")
            for (v <- shared)
              joined = joined.withColumn(v,
                coalesce(col(v), col(s"__sq_$v")))
            Some(joined.drop(shared.map(v => s"__sq_$v"): _*))
          }
      }
      maybeNullVals ++= frameVars
        .filterNot(preCols.contains).filter(nullable.contains)
      bound ++= frameVars
      applyBoundValues()
    }

    // ---- subqueries (SPARQL §12): each inner SELECT evaluates
    // independently (aggregate → having → modifiers → projection),
    // then joins the fold on its projected vars. A projected
    // AGGREGATE can be unbound (error group), so shared vars that can
    // be null join by §10.2 compatibility. ----
    for (ss <- subSelects)
      foldInCompat(subSelectFrame(in, ss), ss.proj.map(_.name),
        subSelectMaybeNull(ss))

    // ---- UNION (SPARQL §7 / §18.2.2): branches compile recursively
    // against the same store, pad to the union of their columns
    // (UNBOUND = NULL, the key type's), and concatenate — MULTISET
    // union, no dedup. The result joins the fold like a subquery
    // frame: a var bound by only SOME branches (or nullable within
    // one) is §10.2-nullable downstream. ----
    for (u <- unions)
      foldInCompat(unionFrame(in, u), u.vars.map(_.name),
        unionMaybeNull(u))

    // ---- multi-var VALUES tables (SPARQL §10.2): the literal
    // solution multiset joins by COMPATIBILITY — shared vars must
    // agree when DEFINED ON BOTH SIDES; an UNDEF cell OR an unbound
    // (NULL) solution var constrains nothing, and the merged solution
    // takes whichever side is defined (round-12 advice: the
    // table-side-only null check silently dropped solutions whose
    // frame var was UNDEF-nullable, and never merged the cell). The
    // table is a caller literal, so it broadcasts; bag semantics ride
    // the inner join. ----
    for (vt <- valuesTables) {
      val tbl = valuesTableDf(in, spark, vt)
      val idx = vt.vs.map(_.name).zipWithIndex.toMap
      def undefIn(n: String): Boolean = vt.rows.exists(r => r(idx(n)).isEmpty)
      val preCols: Set[String] = acc.map(_.columns.toSet).getOrElse(Set.empty)
      val newVars = vt.vs.map(_.name).filterNot(preCols.contains)
      val sharedVars = vt.vs.map(_.name).filter(preCols.contains)
      acc = acc match {
        case None => Some(tbl)
        case Some(a) =>
          if (sharedVars.isEmpty) Some(a.crossJoin(broadcast(tbl)))
          else {
            var t = tbl
            for (v <- sharedVars) t = t.withColumnRenamed(v, s"__vt_$v")
            val cond = sharedVars.map(v =>
              col(s"__vt_$v").isNull || col(v).isNull ||
                col(s"__vt_$v") === col(v))
              .reduce(_ && _)
            var joined = a.join(broadcast(t), cond, "inner")
            for (v <- sharedVars)
              joined = joined.withColumn(v,
                coalesce(col(v), col(s"__vt_$v")))
            Some(joined
              .drop(sharedVars.map(v => s"__vt_$v"): _*)
              .select((a.columns.toSeq ++ newVars).map(col): _*))
          }
      }
      // a NEW var with any UNDEF cell yields a nullable column —
      // downstream joins must compatibility-join it; a SHARED
      // maybe-null var becomes NON-null when every cell of this
      // table defines it (the compat merge coalesces a defined value
      // into every surviving row)
      maybeNullVals ++= newVars.filter(undefIn)
      maybeNullVals --= sharedVars.filterNot(undefIn)
      bound ++= vt.vs.map(_.name)
      applyBoundValues()
    }

    // fully-ground patterns = existence gates (facts are deduped at
    // index time, so each contributes a 0-or-1-row cross join) — except
    // a plain triple pattern over a quad store, which matches once per
    // containing graph (QuadDb's bag-per-quad union semantics);
    // fully-ground paths gate on single-source reachability
    val quadStore = in.full.columns.contains("g")
    val gates: Seq[DataFrame] =
      groundOnly.map { pat =>
        val hits = scanGround(in, sourceFor(in, pat), pat)
        if (quadStore && pat.isInstanceOf[TriplePattern]) hits else hits.limit(1)
      } ++
        groundPaths.map {
          case pp: PathPattern =>
            val (s, o) = (groundTerm(pp.s), groundTerm(pp.o))
            pathRelFrom(in, pushInv(pp.path), srcDf(in, s),
                edgeBuilders(in), allNodes(in.full))
              .where(col("dst") === in.groundLit(o))
          case qp: QuadPathPattern =>
            // fully-ground scoped path: reachability inside ONE graph
            val (s, o) = (groundTerm(qp.s), groundTerm(qp.o))
            val gt = groundTerm(qp.g)
            pathRelFrom(in, pushInv(qp.path), srcDf(in, s),
                scopedEdgeBuilders(in, gt),
                allNodes(in.full.where(col("g") === in.groundLit(gt))))
              .where(col("dst") === in.groundLit(o))
          case other => throw new InvalidBgp(s"unexpected path row: $other")
        }.map(_.limit(1))
    for ((g0, i) <- gates.zipWithIndex) {
      val gate = g0.select(functions.lit(1).as(s"__exists_$i"))
      acc = acc match {
        case None    => Some(gate)
        case Some(a) => Some(a.crossJoin(broadcast(gate)))
      }
    }

    // values whose var no pattern binds → generators (membero on fresh var).
    // A later clause on the SAME var must filter, not re-generate (two
    // conjoined membero goals intersect in the reference), so re-check
    // `bound` each iteration and route bound clauses through valuesFilter.
    while (pendingValues.nonEmpty) {
      val v = pendingValues.remove(0)
      if (bound.contains(v.v.name)) {
        acc = acc.map(applyValues(_, v))
      } else {
        val gen = in.mkCollDf(spark, v)
        val hinted =
          if (v.coll.size <= valuesBroadcastLimit(spark)) broadcast(gen) else gen
        acc = acc match {
          case None    => Some(gen)
          case Some(a) => Some(a.crossJoin(hinted))
        }
        bound += v.v.name
      }
    }

    acc = acc.map(_.drop(gates.indices.map(i => s"__exists_$i"): _*))

    // ---- negation (extension; the reference has no negation form):
    // the inner group compiles like any BGP against the same store,
    // then removes required solutions via left_anti. NOT EXISTS with
    // no shared vars is an inverted existence gate (any inner match
    // empties the result — a broadcast 1-row anti probe); MINUS with
    // no shared vars removes nothing (SPARQL dom-disjoint rule). ----
    // ---- value filters (extension; SPARQL §17 expression subset):
    // evaluated with SPARQL's three-valued error semantics (= SQL
    // NULL logic — the two error tables coincide; see FilterExpr's
    // scaladoc). SPARQL §18.5 evaluates a group's filters AFTER its
    // optional clauses extend the solutions, so filters referencing a
    // variable the required fold does not bind wait for the optional
    // fold (lateFilters); filters over required-bound vars commute
    // with the left joins and apply early, keeping the struct store's
    // scan-side constant-fold plan (PlanSpec-pinned). ----
    if (filters.nonEmpty && acc.isEmpty)
      throw new InvalidBgp(
        "FILTER needs a required group to filter")
    // a values GENERATOR can bind terms the store's dictionary has
    // never issued — the dict-side filter must rehydrate against
    // dict ∪ the BGP's values terms, optional-nested clauses included
    // (the decodeWith extraTerms rule; ids are pure hashes, so the
    // union is value-consistent)
    lazy val filterDict: Option[DataFrame] = in.dict.map { d =>
      val extras = Bgp.valuesTerms(rows).distinct
      if (extras.isEmpty) d
      else d.unionByName(DictDb.termDf(spark, extras)).dropDuplicates("id")
    }
    val (earlyFilters, lateFilters) = filters.partition(f =>
      FilterExpr.referencedVars(f).forall(v =>
        acc.exists(_.columns.contains(v.name))))
    // maybe-null vars of THIS group's final frame — EXISTS correlation
    // joins need to know whether a shared var can be unbound per row
    lazy val groupMaybeNull: Set[String] = staticMaybeNull(rows)
    for (f <- earlyFilters)
      acc = acc.map(applyFilterExists(in, _, f, filterDict, groupMaybeNull))

    if (negations.nonEmpty && acc.isEmpty)
      throw new InvalidBgp(
        "negation (NOT EXISTS / MINUS) needs a required group to filter")
    for (neg <- negations) {
      val innerRows = neg match {
        case n: NotExists => n.rows
        case m: Minus     => m.rows
        case other => throw new InvalidBgp(s"unexpected negation: $other")
      }
      val inner = compile(in, innerRows)
      val innerMaybeNull = staticMaybeNull(innerRows)
      acc = acc.map { a =>
        val shared = inner.columns.toSeq.filter(a.columns.contains)
        val anyNullable = shared.exists(c =>
          maybeNullVals.contains(c) || innerMaybeNull.contains(c))
        if (shared.isEmpty) neg match {
          case _: NotExists =>
            a.join(broadcast(inner.limit(1)), functions.lit(true), "left_anti")
          case _ => a // MINUS, no shared domain
        }
        else if (!anyNullable)
          // both sides always bound on every shared var: §10.2
          // compatibility degenerates to equality — the columnar
          // left_anti fast path (plan-identical to prior rounds)
          a.join(inner.select(shared.map(col): _*), shared, "left_anti")
        else {
          // a shared var may be UNBOUND on either side (ValuesTable
          // UNDEF / optional-only / bind target): full §10.2
          // compatibility — agree where both sides are bound; MINUS
          // additionally needs a per-ROW bound-domain overlap (§8.2's
          // dom-disjoint rule — a row whose shared vars are all
          // unbound on one side survives MINUS but not NOT EXISTS).
          // Existence only needs distinct probe tuples; the non-equi
          // anti join is taken ONLY when nullable vars are in play.
          val probe =
            inner.select(shared.map(c => col(c).as(s"__n_$c")): _*).distinct()
          val agree = shared.map(c =>
            col(c).isNull || col(s"__n_$c").isNull ||
              col(c) === col(s"__n_$c")).reduce(_ && _)
          val cond = neg match {
            case _: Minus => agree && shared.map(c =>
              col(c).isNotNull && col(s"__n_$c").isNotNull).reduce(_ || _)
            case _ => agree
          }
          a.join(probe, cond, "left_anti")
        }
      }
    }

    // ---- optionals: one left join per clause ----
    val noRequired = acc.isEmpty
    var result: DataFrame = acc.getOrElse(
      spark.range(1).select(functions.lit(1).as("__base")))

    for ((opt, i) <- optionals.zipWithIndex) {
      // §18.2.2.2: a FILTER inside the optional group whose vars the
      // clause itself cannot bind becomes the LeftJoin CONDITION,
      // evaluated over the MERGED row — per-row conditional extension
      // (round-12 advice: compiling it standalone errored every
      // clause row away, so the optional silently extended NOTHING).
      // Inner-only filters stay in the clause compile — equivalent by
      // §18.2.2.2 (F sees only clause bindings), and they keep the
      // scan-side constant-fold plan.
      val clauseVars = Bgp.allVars(opt.rows.filterNot(_.isInstanceOf[FilterExpr]))
        .map(_.name).toSet
      val (outerFilterRows, innerRows) = opt.rows.partition {
        case f: FilterExpr =>
          !FilterExpr.referencedVars(f).forall(v => clauseVars.contains(v.name))
        case _ => false
      }
      val outerFilters = outerFilterRows.collect { case f: FilterExpr => f }
      if (outerFilters.exists(containsExists))
        throw new InvalidBgp(
          "EXISTS inside an OPTIONAL filter that references vars outside " +
            "the clause is not supported — lift it to a group-level " +
            "FILTER or correlate it within the clause")
      // marker column: non-null iff this clause matched — needed because a
      // clause of only ground patterns compiles to zero var columns
      // (alpha_test.clj:477-501)
      var clause = compile(in, innerRows).withColumn(s"__m_$i", functions.lit(1))
      val clauseColNames = clause.columns.toSet
      val clauseMaybeNull = staticMaybeNull(innerRows)
      val accCols = result.columns.toSet
      val keys = clause.columns.toSeq
        .filter(c => requiredVarNames.contains(c) && accCols.contains(c))
      // same-var alternatives: a non-key var already bound by an earlier
      // optional clause → rename + coalesce after the join
      val overlap = clause.columns.toSeq
        .filter(c => accCols.contains(c) && !keys.contains(c))
      // a key that may be UNBOUND on either side joins by §10.2
      // compatibility (null constrains nothing) and the merged value
      // coalesces — the plain name-equality join never extends a
      // NULL-keyed row (round-12 advice)
      val compatKeys = keys.filter(c =>
        maybeNullVals.contains(c) || clauseMaybeNull.contains(c))
      if (compatKeys.isEmpty && outerFilters.isEmpty) {
        // fast path — plan-identical to prior rounds
        var right = clause
        for (c <- overlap) right = right.withColumnRenamed(c, s"__alt_$c")
        result =
          if (keys.nonEmpty) result.join(right, keys, "left_outer")
          else result.join(right, functions.lit(true), "left_outer")
        for (c <- overlap)
          result = result.withColumn(c, coalesce(col(c), col(s"__alt_$c")))
            .drop(s"__alt_$c")
      } else {
        // dict stores: the join condition cannot consult the
        // dictionary mid-evaluation, so every filter-referenced var
        // rehydrates as a term-struct sidecar on the side(s) that
        // carry it BEFORE the join (full-frame dict joins — the
        // documented frame-shape cost, taken only for this rare
        // combination)
        val refs = outerFilters.flatMap(FilterExpr.referencedVars)
          .map(_.name).distinct
        val leftRefs = refs.filter(accCols.contains)
        val rightRefs = refs.filter(clauseColNames.contains)
        if (in.dict.nonEmpty && refs.nonEmpty) {
          val d = filterDict.get
          for (v <- leftRefs)
            result = result.join(
              d.select(col("id").as(v), col("term").as(s"__ftl_$v")),
              Seq(v), "left_outer")
          for (v <- rightRefs)
            clause = clause.join(
              d.select(col("id").as(v), col("term").as(s"__ftr_$v")),
              Seq(v), "left_outer")
        }
        var right = clause
        for (c <- overlap) right = right.withColumnRenamed(c, s"__alt_$c")
        for (c <- keys) right = right.withColumnRenamed(c, s"__k_$c")
        val nullTerm = functions.lit(null).cast(Term.schema)
        // the MERGED view of a var for the LeftJoin condition: keys
        // and overlaps coalesce left-then-right, one-sided vars read
        // their side, everything else is unbound
        def mergedKeyCol(n: String): Column =
          if (keys.contains(n)) coalesce(col(n), col(s"__k_$n"))
          else if (overlap.contains(n)) coalesce(col(n), col(s"__alt_$n"))
          else if (accCols.contains(n) || clauseColNames.contains(n)) col(n)
          else functions.lit(null)
        val termOf: String => Column =
          if (in.dict.isEmpty) n =>
            if (accCols.contains(n) || clauseColNames.contains(n))
              mergedKeyCol(n)
            else nullTerm
          else n => {
            val l = if (leftRefs.contains(n)) Some(col(s"__ftl_$n")) else None
            val r = if (rightRefs.contains(n)) Some(col(s"__ftr_$n")) else None
            (l, r) match {
              case (Some(a), Some(b)) => coalesce(a, b)
              case (Some(a), None)    => a
              case (None, Some(b))    => b
              case _                  => nullTerm
            }
          }
        val boundOf: String => Column =
          if (in.dict.isEmpty) n => termOf(n).isNotNull
          else n =>
            if (accCols.contains(n) || clauseColNames.contains(n))
              mergedKeyCol(n).isNotNull
            else functions.lit(false)
        val keyCond: Seq[Column] = keys.map { k =>
          if (compatKeys.contains(k))
            col(k).isNull || col(s"__k_$k").isNull || col(k) === col(s"__k_$k")
          else col(k) === col(s"__k_$k")
        }
        val filterConds = outerFilters.map(f => filterCol(f, termOf, boundOf))
        val cond = (keyCond ++ filterConds)
          .foldLeft(functions.lit(true))(_ && _)
        result = result.join(right, cond, "left_outer")
        for (c <- keys)
          result = result.withColumn(c, coalesce(col(c), col(s"__k_$c")))
            .drop(s"__k_$c")
        for (c <- overlap)
          result = result.withColumn(c, coalesce(col(c), col(s"__alt_$c")))
            .drop(s"__alt_$c")
        result = result.drop(
          leftRefs.map(v => s"__ftl_$v") ++ rightRefs.map(v => s"__ftr_$v"): _*)
      }
    }

    if (noRequired && optionals.nonEmpty) {
      // optional-only query: the reference's conde has no succeed branch,
      // so "nothing matched" yields NO solutions (alpha_test.clj:469-479)
      // — keep only rows where at least one clause matched.
      val markers = optionals.indices.map(i => col(s"__m_$i"))
      result = result.where(markers.map(_.isNotNull).reduce(_ || _))
    }

    // BIND (§10.1 Extend): after the group's folds, before its late
    // filters — filters can read bound vars; binds evaluate in
    // written order (a later bind may read an earlier one); an ERROR
    // leaves the var unbound, the row STAYS (unlike a filter)
    result = applyBinds(result, binds)

    // filters referencing optional-bound (or nowhere-bound) vars run
    // HERE, per SPARQL's group evaluation order — an unbound var in a
    // comparison errors that ROW away (never the whole result), and
    // BOUND/!BOUND test the extension per row
    for (f <- lateFilters)
      result = applyFilterExists(in, result, f, filterDict, groupMaybeNull)

    result
      .drop(optionals.indices.map(i => s"__m_$i"): _*)
      .drop("__base")
  }

  /** Scan positions of a pattern row: (column, term-or-var) pairs —
    * the one place triple and quad patterns differ. */
  private def positionsOf(pat: PatternRow): Seq[(String, TermOrVar)] = pat match {
    case TriplePattern(s, p, o)  => Seq("s" -> s, "p" -> p, "o" -> o)
    case QuadPattern(s, p, o, g) => Seq("s" -> s, "p" -> p, "o" -> o, "g" -> g)
    case other => throw new InvalidBgp(s"not a scan pattern: $other")
  }

  private def predOf(pat: PatternRow): TermOrVar = pat match {
    case TriplePattern(_, p, _)  => p
    case QuadPattern(_, p, _, _) => p
    case other => throw new InvalidBgp(s"not a scan pattern: $other")
  }

  private val nullBool =
    functions.lit(null).cast(org.apache.spark.sql.types.BooleanType)

  /** [[FilterCmp]]'s comparison as a THREE-VALUED Column predicate
    * over a term struct. Comparable families only (see the DSL doc):
    * numeric with long↔double promotion (long vs long exact via the
    * lexical int64), string by binary order, date by canonical ISO
    * order; a term outside the constant's family — or an UNBOUND
    * variable (NULL struct) — is a SPARQL type error = SQL NULL, so
    * it removes the row at the top level but composes correctly
    * under NOT/OR/AND (the two error tables coincide). */
  private def cmpTermCol(c: Column, op: CmpOp, t: Term): Column = {
    def cmp(a: Column, b: Column): Column = op match {
      case Lt => a < b
      case Le => a <= b
      case Gt => a > b
      case Ge => a >= b
      case Neq => a =!= b
      case Eq => a === b
    }
    val kind = c.getField("kind")
    t match {
      case Term.TLong(v) =>
        when(kind === Term.KLong,
            cmp(c.getField("lex").cast(LongType), functions.lit(v)))
          .when(kind === Term.KDouble,
            cmp(c.getField("num"), functions.lit(v.toDouble)))
          .otherwise(nullBool)
      case Term.TDouble(v) =>
        when(kind.isin(Term.KLong, Term.KDouble),
            cmp(c.getField("num"), functions.lit(v)))
          .otherwise(nullBool)
      case Term.TString(str) =>
        when(kind === Term.KString, cmp(c.getField("lex"), functions.lit(str)))
          .otherwise(nullBool)
      case Term.TDate(iso) =>
        when(kind === Term.KDate, cmp(c.getField("lex"), functions.lit(iso)))
          .otherwise(nullBool)
      case other => throw new InvalidBgp(
        s"FILTER comparison constant must be numeric/string/date, got $other")
    }
  }

  /** [[FilterVarCmp]] as a three-valued Column predicate over two term
    * structs: the comparable family is decided per ROW — both longs
    * compare exactly on the lexical int64, any numeric pair via the
    * double field, same-kind strings/dates by lexical order; a
    * cross-family pair or an unbound side is a type error (NULL). */
  private def cmpVarCol(a: Column, op: CmpOp, b: Column): Column = {
    def cmp(x: Column, y: Column): Column = op match {
      case Lt => x < y
      case Le => x <= y
      case Gt => x > y
      case Ge => x >= y
      case Neq => x =!= y
      case Eq => x === y
    }
    val ak = a.getField("kind"); val bk = b.getField("kind")
    when(ak === Term.KLong && bk === Term.KLong,
        cmp(a.getField("lex").cast(LongType), b.getField("lex").cast(LongType)))
      .when(ak.isin(Term.KLong, Term.KDouble) &&
          bk.isin(Term.KLong, Term.KDouble),
        cmp(a.getField("num"), b.getField("num")))
      .when(ak === Term.KString && bk === Term.KString,
        cmp(a.getField("lex"), b.getField("lex")))
      .when(ak === Term.KDate && bk === Term.KDate,
        cmp(a.getField("lex"), b.getField("lex")))
      .otherwise(nullBool)
  }

  /** [[FilterRegex]]: Java-regex unanchored find (`rlike`) over the
    * lexical form of STRING terms; any other kind — or unbound — is a
    * type error (NULL). Flags lower as an inline `(?ism)` prefix —
    * the one spelling Java's Pattern and RE2 (DuckDB oracles) read
    * identically, so the flagged form stays cross-engine replayable. */
  private def regexCol(c: Column, pattern: String,
                       flags: String = ""): Column = {
    val p = if (flags.isEmpty) pattern else s"(?$flags)" + pattern
    when(c.getField("kind") === Term.KString,
      c.getField("lex").rlike(p)).otherwise(nullBool)
  }

  /** A [[FilterExpr]] tree as one three-valued Column predicate.
    * `termOf` resolves a var name to its term-struct column (NULL
    * literal when the frame never binds it); `boundOf` resolves
    * BOUND(?v) — separated because on dict stores boundness is the ID
    * column's nullness, not the rehydrated struct's. SQL's NULL
    * logic in `&&`/`||`/`!` is exactly SPARQL §17.2's error table, so
    * the composition needs no special-casing. */
  private def filterCol(f: FilterExpr, termOf: String => Column,
                        boundOf: String => Column): Column = f match {
    case FilterCmp(v, op, t)    => cmpTermCol(termOf(v.name), op, t)
    case FilterVarCmp(x, op, y) => cmpVarCol(termOf(x.name), op, termOf(y.name))
    case FilterArith(a, op, b)  =>
      cmpVarCol(termExprCol(a, termOf, boundOf), op,
        termExprCol(b, termOf, boundOf))
    case FilterBound(v)         => boundOf(v.name)
    case FilterRegex(v, p, fl)  => regexCol(termOf(v.name), p, fl)
    case FilterIsIri(e)         =>
      val c = termExprCol(e, termOf, boundOf)
      when(c.isNull, nullBool)
        .otherwise(c.getField("kind").isin(Term.KUri, Term.KKeyword))
    case FilterIsLiteral(e)     =>
      val c = termExprCol(e, termOf, boundOf)
      when(c.isNull, nullBool)
        .otherwise(c.getField("kind").isin(Term.KString, Term.KLangString,
          Term.KTyped, Term.KLong, Term.KDouble, Term.KBool, Term.KDate))
    case FilterIsNumeric(e)     =>
      val c = termExprCol(e, termOf, boundOf)
      when(c.isNull, nullBool)
        .otherwise(c.getField("kind").isin(Term.KLong, Term.KDouble))
    case FilterSameTerm(a, b)   =>
      val ac = termExprCol(a, termOf, boundOf)
      val bc = termExprCol(b, termOf, boundOf)
      when(ac.isNull || bc.isNull, nullBool).otherwise(ac === bc)
    case FilterLangMatches(e, range) =>
      // RFC 4647 basic filtering, case-insensitive: "*" = any
      // non-empty tag; else exact or prefix-at-a-dash-boundary
      val c = termExprCol(e, termOf, boundOf)
      val tag = lower(c.getField("lex"))
      val r = range.toLowerCase
      val hit =
        if (range == "*") tag =!= ""
        else tag === r || tag.startsWith(r + "-")
      when(c.getField("kind") === Term.KString, hit).otherwise(nullBool)
    case FilterStrStarts(e, p)  =>
      strArgs2(e, p, termOf, boundOf)((a, b) => a.startsWith(b))
    case FilterStrEnds(e, p)    =>
      strArgs2(e, p, termOf, boundOf)((a, b) => a.endsWith(b))
    case FilterContains(e, p)   =>
      strArgs2(e, p, termOf, boundOf)((a, b) => a.contains(b))
    case FilterAnd(es)          => es.map(filterCol(_, termOf, boundOf)).reduce(_ && _)
    case FilterOr(es)           => es.map(filterCol(_, termOf, boundOf)).reduce(_ || _)
    case FilterNot(e)           => !filterCol(e, termOf, boundOf)
    case _: FilterExists        => throw new InvalidBgp(
      "EXISTS is not available at this evaluation point (HAVING, BIND " +
        "expressions, an optional's outer-referencing condition, or " +
        "inside IF conditions) — existence needs the store; lift the " +
        "EXISTS to a group-level FILTER")
  }

  /** §17.4.3.2 argument-compatibility subset shared by STRSTARTS /
    * STRENDS / CONTAINS: arg1 string or lang-string, arg2 a plain
    * string — the predicate runs on the lexical forms; anything else
    * (unbound included) is a type error (NULL). */
  private def strArgs2(e: TermExpr, arg: TermExpr,
                       termOf: String => Column,
                       boundOf: String => Column)(
                       p: (Column, Column) => Column): Column = {
    val a = termExprCol(e, termOf, boundOf)
    val b = termExprCol(arg, termOf, boundOf)
    when(a.getField("kind").isin(Term.KString, Term.KLangString) &&
        b.getField("kind") === Term.KString,
      p(a.getField("lex"), b.getField("lex"))).otherwise(nullBool)
  }

  /** A [[TermExpr]] as a term-struct Column; NULL = SPARQL error
    * (unbound operand, out-of-domain kind, exact-zero divisor).
    * Numeric ops: long op long stays EXACT on the int64 lexical
    * except `/` (always double per SPARQL's
    * integer-÷-integer-is-decimal rule); any double operand promotes.
    * String/accessor/branch functions follow the domains documented
    * on their DSL nodes. All codegen'd when-chains — no UDF, no
    * join. `boundOf` serves BOUND atoms inside IF conditions (on dict
    * paths boundness is the ID column's nullness, not the rehydrated
    * struct's). */
  private[engine] def termExprCol(e: TermExpr, termOf: String => Column,
                                  boundOf: String => Column): Column = {
    val nullTerm = functions.lit(null).cast(Term.schema)
    val nullS = functions.lit(null).cast(org.apache.spark.sql.types.StringType)
    val nullD = functions.lit(null).cast(org.apache.spark.sql.types.DoubleType)
    def longT(n: Column) = Term.mk(functions.lit(Term.KLong),
      n.cast("string"), n.cast("double"), nullS, nullS)
    def dblT(d: Column) = Term.mk(functions.lit(Term.KDouble),
      nullS, d, nullS, nullS)
    def strT(s: Column) = Term.mk(functions.lit(Term.KString),
      s, nullD, nullS, nullS)
    def uriT(s: Column) = Term.mk(functions.lit(Term.KUri),
      s, nullD, nullS, nullS)
    def rec(x: TermExpr): Column = termExprCol(x, termOf, boundOf)
    // string or lang-string in, same kind (tag preserved) out — the
    // §17.4.3 casing/substring domain rule
    def strFn(x: TermExpr)(f: Column => Column): Column = {
      val c = rec(x)
      val kind = c.getField("kind")
      when(kind.isin(Term.KString, Term.KLangString),
        Term.mk(kind, f(c.getField("lex")), nullD,
          c.getField("lang"), nullS))
        .otherwise(nullTerm)
    }
    e match {
      case NVar(v) =>
        val c = termOf(v.name)
        when(c.getField("kind").isin(Term.KLong, Term.KDouble), c)
          .otherwise(nullTerm)
      case NConst(t) => Term.lit(t)
      case NDiv(a, b) =>
        val ac = rec(a); val bc = rec(b)
        when(ac.isNull || bc.isNull || bc.getField("num") === 0.0, nullTerm)
          .otherwise(dblT(ac.getField("num") / bc.getField("num")))
      case op2: NumExpr =>
        val (a, b) = op2 match {
          case NAdd(x, y) => (x, y); case NSub(x, y) => (x, y)
          case NMul(x, y) => (x, y)
          case other => throw new InvalidBgp(s"not a numeric op: $other")
        }
        def opC(x: Column, y: Column): Column = op2 match {
          case _: NAdd => x + y; case _: NSub => x - y; case _ => x * y
        }
        val ac = rec(a); val bc = rec(b)
        val bothLong = ac.getField("kind") === Term.KLong &&
          bc.getField("kind") === Term.KLong
        when(ac.isNull || bc.isNull, nullTerm)
          .when(bothLong, longT(opC(ac.getField("lex").cast(LongType),
            bc.getField("lex").cast(LongType))))
          .otherwise(dblT(opC(ac.getField("num"), bc.getField("num"))))
      case TVar(v)   => termOf(v.name)
      case TConst(t) => Term.lit(t)
      case TStr(x) =>
        val c = rec(x)
        when(c.getField("kind").isin(Term.KString, Term.KLangString,
            Term.KTyped, Term.KLong, Term.KDate, Term.KKeyword, Term.KUri),
          strT(c.getField("lex"))).otherwise(nullTerm)
      case TLang(x) =>
        val c = rec(x)
        when(c.getField("kind") === Term.KLangString,
            strT(c.getField("lang")))
          .when(c.getField("kind").isin(Term.KString, Term.KTyped,
            Term.KLong, Term.KDouble, Term.KBool, Term.KDate),
            strT(functions.lit("")))
          .otherwise(nullTerm)
      case TDatatype(x) =>
        val c = rec(x)
        val xsd = "http://www.w3.org/2001/XMLSchema#"
        when(c.getField("kind") === Term.KString,
            uriT(functions.lit(xsd + "string")))
          .when(c.getField("kind") === Term.KLangString, uriT(functions.lit(
            "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString")))
          .when(c.getField("kind") === Term.KTyped, uriT(c.getField("datatype")))
          .when(c.getField("kind") === Term.KLong,
            uriT(functions.lit(xsd + "integer")))
          .when(c.getField("kind") === Term.KDouble,
            uriT(functions.lit(xsd + "double")))
          .when(c.getField("kind") === Term.KBool,
            uriT(functions.lit(xsd + "boolean")))
          .when(c.getField("kind") === Term.KDate,
            uriT(functions.lit(xsd + "date")))
          .otherwise(nullTerm)
      case TStrlen(x) =>
        val c = rec(x)
        when(c.getField("kind").isin(Term.KString, Term.KLangString),
          longT(length(c.getField("lex")).cast(LongType))).otherwise(nullTerm)
      case TSubstr(x, start, len) =>
        strFn(x)(s => substring(s, start, len.getOrElse(Int.MaxValue)))
      case TUcase(x) => strFn(x)(upper)
      case TLcase(x) => strFn(x)(lower)
      case TReplace(x, p, rep) =>
        strFn(x)(s => regexp_replace(s, p, rep))
      case TStrLang(x, lang) =>
        val c = rec(x)
        when(c.getField("kind") === Term.KString,
          Term.mk(functions.lit(Term.KLangString), c.getField("lex"),
            nullD, functions.lit(lang), nullS)).otherwise(nullTerm)
      case TStrDt(x, dt) =>
        val c = rec(x)
        when(c.getField("kind") === Term.KString,
          Term.mk(functions.lit(Term.KTyped), c.getField("lex"),
            nullD, nullS, functions.lit(dt))).otherwise(nullTerm)
      case before @ (TStrBefore(_, _) | TStrAfter(_, _)) =>
        // §17.4.3.4/5: arg1's tag rides on a MATCH, a miss is the
        // PLAIN empty string (the spec's asymmetry); an empty needle
        // matches at position 0 (tagged "" for BEFORE, arg1 whole
        // for AFTER)
        val (x, nd, isBefore) = before match {
          case TStrBefore(a, b) => (a, b, true)
          case TStrAfter(a, b)  => (a, b, false)
          case other => throw new InvalidBgp(s"unreachable: $other")
        }
        val a = rec(x); val b = rec(nd)
        val lex = a.getField("lex"); val nlex = b.getField("lex")
        val emptyN = length(nlex) === 0
        val pos = when(emptyN, functions.lit(1)).otherwise(instr(lex, nlex))
        val matched = emptyN || instr(lex, nlex) > 0
        val part =
          if (isBefore) lex.substr(functions.lit(1), pos - 1)
          else lex.substr(pos + length(nlex), functions.lit(Int.MaxValue))
        when(a.getField("kind").isin(Term.KString, Term.KLangString) &&
            b.getField("kind") === Term.KString,
          when(matched, Term.mk(a.getField("kind"), part, nullD,
              a.getField("lang"), nullS))
            .otherwise(strT(functions.lit(""))))
          .otherwise(nullTerm)
      case TConcat(es) =>
        val cs = es.map(rec)
        val allStr = cs.map(_.getField("kind") === Term.KString)
          .reduce(_ && _)
        when(allStr, strT(concat(cs.map(_.getField("lex")): _*)))
          .otherwise(nullTerm)
      case num @ (TAbs(_) | TRound(_) | TCeil(_) | TFloor(_)) =>
        val x = num match {
          case TAbs(e0) => e0; case TRound(e0) => e0
          case TCeil(e0) => e0; case TFloor(e0) => e0
          case other => throw new InvalidBgp(s"unreachable: $other")
        }
        val c = rec(x)
        val kind = c.getField("kind")
        // double-preserving floor: x − pmod(x, 1.0) stays a DOUBLE for
        // any magnitude (Spark's floor() returns LONG — overflow past
        // int64); fn:round = floor(x + 0.5), identical both engines
        def floorD(d: Column): Column = d - pmod(d, functions.lit(1.0))
        val d = c.getField("num")
        val dblVal: Column = num match {
          case _: TAbs   => abs(d)
          case _: TRound => floorD(d + 0.5)
          case _: TCeil  => -floorD(-d)
          case _: TFloor => floorD(d)
          case other => throw new InvalidBgp(s"unreachable: $other")
        }
        val longVal: Column = num match {
          case _: TAbs => abs(c.getField("lex").cast(LongType))
          case _       => c.getField("lex").cast(LongType) // integral already
        }
        when(kind === Term.KLong, longT(longVal))
          .when(kind === Term.KDouble, dblT(dblVal))
          .otherwise(nullTerm)
      case TDatePart(x, field) =>
        // §17.4.5 over the CANONICAL LEXICAL — fixed-position substring
        // + int64 cast, no date library on either engine (zero
        // calendar/locale drift); the regex is the domain gate
        val c = rec(x)
        val lex = c.getField("lex")
        val dateOk = lex.rlike("^\\d{4}-\\d{2}-\\d{2}")
        val timeOk = lex.rlike("^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}")
        val (pos, len, need) = field match {
          case DfYear    => (1, 4, dateOk)
          case DfMonth   => (6, 2, dateOk)
          case DfDay     => (9, 2, dateOk)
          case DfHours   => (12, 2, timeOk)
          case DfMinutes => (15, 2, timeOk)
          case DfSeconds => (18, 2, timeOk)
        }
        when(c.getField("kind") === Term.KDate && need,
          longT(substring(lex, pos, len).cast(LongType))).otherwise(nullTerm)
      case TTz(x) =>
        val c = rec(x)
        val lex = c.getField("lex")
        when(c.getField("kind") === Term.KDate &&
            lex.rlike("^\\d{4}-\\d{2}-\\d{2}"),
          strT(when(lex.endsWith("Z"), functions.lit("Z"))
            .when(lex.rlike("[+-]\\d{2}:\\d{2}$"),
              substring(lex, -6, 6))
            .otherwise(functions.lit(""))))
          .otherwise(nullTerm)
      case TTimezone(x) =>
        // §17.4.5.7: the designator as a CANONICAL xsd:dayTimeDuration
        // typed literal — fixed-position lexical arithmetic only (the
        // TDatePart discipline): hh/mm read from the trailing ±hh:mm,
        // zero components drop, sign prints only when negative and
        // nonzero, Z/±00:00 → PT0S; NO designator is an error per spec
        val c = rec(x)
        val lex = c.getField("lex")
        val hasOff = lex.rlike("[+-]\\d{2}:\\d{2}$")
        val hh = substring(lex, -5, 2).cast(LongType)
        val mm = substring(lex, -2, 2).cast(LongType)
        val neg = substring(lex, -6, 1) === "-"
        val body = when(hh === 0 && mm === 0, functions.lit("PT0S"))
          .otherwise(concat(functions.lit("PT"),
            when(hh > 0, concat(hh.cast("string"), functions.lit("H")))
              .otherwise(functions.lit("")),
            when(mm > 0, concat(mm.cast("string"), functions.lit("M")))
              .otherwise(functions.lit(""))))
        val dur = when(neg && (hh > 0 || mm > 0),
          concat(functions.lit("-"), body)).otherwise(body)
        def durT(s: Column): Column =
          Term.mk(functions.lit(Term.KTyped), s, nullD, nullS,
            functions.lit("http://www.w3.org/2001/XMLSchema#dayTimeDuration"))
        when(c.getField("kind") === Term.KDate &&
            lex.rlike("^\\d{4}-\\d{2}-\\d{2}"),
          when(lex.endsWith("Z"), durT(functions.lit("PT0S")))
            .when(hasOff, durT(dur))
            .otherwise(nullTerm))
          .otherwise(nullTerm)
      case TIri(x) =>
        val c = rec(x)
        when(c.getField("kind") === Term.KUri, c)
          .when(c.getField("kind") === Term.KString, uriT(c.getField("lex")))
          .otherwise(nullTerm)
      case TEncodeForUri(x) =>
        // fn:encode-for-uri: per-CODEPOINT dispatch (split on the
        // zero-width between-codepoints boundary — no empty cells),
        // unreserved passes, anything else becomes uppercase %XX
        // triples of its UTF-8 bytes. A per-element lambda over a
        // short lexical — bounded by string length, not rows.
        val c = rec(x)
        val encoded = array_join(
          transform(split(c.getField("lex"), "(?!^)"), ch =>
            when(ch.rlike("^[A-Za-z0-9._~-]$"), ch)
              .otherwise(regexp_replace(upper(hex(encode(ch, "UTF-8"))),
                "(..)", "%$1"))), "")
        when(c.getField("kind") === Term.KString, strT(encoded))
          .otherwise(nullTerm)
      case TBNode(x) =>
        val c = rec(x)
        when(c.getField("kind") === Term.KString,
          uriT(concat(functions.lit(
            graft.sources.NTriples.BnodeBase + "query/"),
            c.getField("lex"))))
          .otherwise(nullTerm)
      case THash(x, algo) =>
        val c = rec(x)
        val digest =
          if (algo == "md5") md5(encode(c.getField("lex"), "UTF-8"))
          else sha2(encode(c.getField("lex"), "UTF-8"), 256)
        when(c.getField("kind") === Term.KString, strT(digest))
          .otherwise(nullTerm)
      case TIf(cond, t, f) =>
        val cc = filterCol(cond, termOf, boundOf)
        when(cc.isNull, nullTerm)
          .when(cc, rec(t))
          .otherwise(rec(f))
      case TCoalesce(es) => coalesce(es.map(rec) :+ nullTerm: _*)
    }
  }

  /** [[Bind]] rows over a term-struct solution frame (written order;
    * fresh-var check; errors leave the var unbound). Shared by the
    * in-group compile and [[Projections.extend]]. */
  private[engine] def applyBinds(frame: DataFrame, binds: Seq[Bind]): DataFrame = {
    var result = frame
    for (b <- binds) {
      if (result.columns.contains(b.as.name))
        throw new InvalidBgp(s"BIND target ?${b.as.name} is already bound")
      val cols = result.columns.toSet
      val termOf: String => Column = n =>
        if (cols.contains(n)) col(n)
        else functions.lit(null).cast(Term.schema)
      result = result.withColumn(b.as.name,
        termExprCol(b.expr, termOf, termOf(_).isNotNull))
    }
    result
  }

  private def containsBound(f: FilterExpr): Boolean = f match {
    case _: FilterBound          => true
    case FilterAnd(es)           => es.exists(containsBound)
    case FilterOr(es)            => es.exists(containsBound)
    case FilterNot(e)            => containsBound(e)
    case FilterArith(a, _, b)    => containsBoundT(a) || containsBoundT(b)
    case FilterStrStarts(a, b)   => containsBoundT(a) || containsBoundT(b)
    case FilterStrEnds(a, b)     => containsBoundT(a) || containsBoundT(b)
    case FilterContains(a, b)    => containsBoundT(a) || containsBoundT(b)
    case FilterSameTerm(a, b)    => containsBoundT(a) || containsBoundT(b)
    case FilterIsIri(e)          => containsBoundT(e)
    case FilterIsLiteral(e)      => containsBoundT(e)
    case FilterIsNumeric(e)      => containsBoundT(e)
    case FilterLangMatches(e, _) => containsBoundT(e)
    case _                       => false
  }

  /** Sub-expressions whose value can DEPEND on unboundness — BOUND
    * atoms inside IF conditions, and COALESCE (which rescues an
    * unbound operand to its fallback, so the expression can be TRUE
    * on an unbound row). The dict single-var fast path evaluates over
    * the dictionary, where every term is bound — these must route
    * through the tuple-rehydration path instead. */
  private def containsBoundT(e: TermExpr): Boolean = e match {
    case TIf(c, t, f) => containsBound(c) || containsBoundT(t) || containsBoundT(f)
    case _: TCoalesce  => true
    case TConcat(es)   => es.exists(containsBoundT)
    case TStr(x)       => containsBoundT(x)
    case TLang(x)      => containsBoundT(x)
    case TDatatype(x)  => containsBoundT(x)
    case TStrlen(x)    => containsBoundT(x)
    case TSubstr(x, _, _)  => containsBoundT(x)
    case TUcase(x)         => containsBoundT(x)
    case TLcase(x)         => containsBoundT(x)
    case TReplace(x, _, _) => containsBoundT(x)
    case TStrLang(x, _)    => containsBoundT(x)
    case TStrDt(x, _)      => containsBoundT(x)
    case TStrBefore(a, b)  => containsBoundT(a) || containsBoundT(b)
    case TStrAfter(a, b)   => containsBoundT(a) || containsBoundT(b)
    case TAbs(x)           => containsBoundT(x)
    case TRound(x)         => containsBoundT(x)
    case TCeil(x)          => containsBoundT(x)
    case TFloor(x)         => containsBoundT(x)
    case TDatePart(x, _)   => containsBoundT(x)
    case TTz(x)            => containsBoundT(x)
    case TTimezone(x)      => containsBoundT(x)
    case TIri(x)           => containsBoundT(x)
    case TEncodeForUri(x)  => containsBoundT(x)
    case TBNode(x)         => containsBoundT(x)
    case THash(x, _)       => containsBoundT(x)
    case NAdd(a, b)    => containsBoundT(a) || containsBoundT(b)
    case NSub(a, b)    => containsBoundT(a) || containsBoundT(b)
    case NMul(a, b)    => containsBoundT(a) || containsBoundT(b)
    case NDiv(a, b)    => containsBoundT(a) || containsBoundT(b)
    case _             => false
  }

  /** [[Projections.having]]'s seam: evaluate a [[FilterExpr]] over a
    * frame of TERM-STRUCT columns (no dictionary — aggregated frames
    * are always decoded). */
  private[engine] def filterFrame(a: DataFrame, f: FilterExpr): DataFrame =
    applyFilter(a, f, None)

  /** [[Projections.having]]'s EXISTS-capable seam (round-13, verdict
    * item 8): the aggregated frame still has the STORE in scope at
    * HAVING, so an EXISTS leaf that is uncorrelated or correlated on
    * surviving columns (group keys / aggregate targets) attaches the
    * same 0/1 marker the group-level filter uses. Correlation on a
    * var the aggregation consumed is genuinely gone — the inner
    * group would silently turn uncorrelated — so it refuses loudly
    * (`preAggVars` = the pre-aggregation solution vars). Every
    * surviving column is treated as possibly-unbound (aggregate
    * results of error groups are NULL, and a group key can be a
    * nullable optional var), so shared-var markers always take the
    * §10.2 compatibility form — sound, and cheap where it runs: the
    * frame is post-aggregation, one row per group. */
  private[engine] def filterFrameExists(db: TripleDb, a: DataFrame,
      f: FilterExpr, preAggVars: Set[String]): DataFrame =
    filterFrameExists(structInput(db), a, f, preAggVars)

  /** [[filterFrameExists]] over a quad store (EXISTS groups may use
    * graph-scoped patterns). */
  private[engine] def filterFrameExists(db: QuadDb, a: DataFrame,
      f: FilterExpr, preAggVars: Set[String]): DataFrame =
    filterFrameExists(quadInput(db), a, f, preAggVars)

  private def filterFrameExists(in: BgpInput, a: DataFrame,
      f: FilterExpr, preAggVars: Set[String]): DataFrame = {
    val frameCols = a.columns.toSet
    def innerVars(fe: FilterExpr): Seq[String] = fe match {
      case FilterExists(rows) => Bgp.allVars(rows).map(_.name)
      case FilterAnd(es)      => es.flatMap(innerVars)
      case FilterOr(es)       => es.flatMap(innerVars)
      case FilterNot(e)       => innerVars(e)
      case _                  => Nil
    }
    val gone = innerVars(f).distinct
      .filter(n => preAggVars.contains(n) && !frameCols.contains(n))
    if (gone.nonEmpty) throw new InvalidBgp(
      s"EXISTS in HAVING references ${gone.map("?" + _).mkString(", ")}, " +
        "solution var(s) the aggregation consumed — per-solution " +
        "correlation is gone after grouping; correlate on group keys " +
        "or lift the EXISTS to a group-level FILTER before aggregating")
    applyFilterExists(in, a, f, None, frameCols)
  }

  /** Apply one filter expression to a solution frame, keeping rows
    * where it is TRUE (errors/false drop the row). Struct stores
    * evaluate a codegen'd predicate in place — Catalyst pushes it
    * through the plan (scan-side when the vars trace to one scan).
    * Dict stores cannot compare ids, so terms rehydrate from the
    * dictionary first:
    *   - a single-var expression with no BOUND atom cannot be true on
    *     an unbound term, so it evaluates over the DICTIONARY
    *     (|dictionary| rows, not |store|) and semi-joins qualifying
    *     ids back (an unbound id never equals a semi key — exactly
    *     the error-removes-row outcome);
    *   - anything else rehydrates only the DISTINCT referenced-var id
    *     tuples of the frame (left_outer dict joins keep unbound ids
    *     as NULL terms), evaluates the predicate over the tuples, and
    *     null-safe left-semi-joins the qualifying tuples back — dict
    *     join work is bounded by distinct tuples, never by solution
    *     rows (the 100 TB shape; PlanSpec pins the semi-join).
    */
  private def applyFilter(a: DataFrame, f: FilterExpr,
                          dict: Option[DataFrame]): DataFrame = {
    val refs = FilterExpr.referencedVars(f).map(_.name)
    val nullTerm = functions.lit(null).cast(Term.schema)
    dict match {
      case None =>
        def termOf(name: String): Column =
          if (a.columns.contains(name)) col(name) else nullTerm
        a.where(filterCol(f, termOf, termOf(_).isNotNull))
      case Some(d) =>
        val present = refs.filter(a.columns.contains)
        if (present.isEmpty) {
          // no referenced var bound anywhere: constant-fold — only a
          // BOUND-free-true expression (e.g. !BOUND) can keep rows
          a.where(filterCol(f, _ => nullTerm, _ => functions.lit(false)))
        } else if (present.size == 1 && refs.distinct.size == 1 &&
            !containsBound(f)) {
          val ids = d.where(filterCol(f, _ => col("term"),
              _ => functions.lit(true)))
            .select(col("id").as(present.head))
          a.join(ids, Seq(present.head), "left_semi")
        } else {
          // the semi-join's left side is `a` itself, so the solution
          // lineage executes twice: measured ~1.3× slower than a
          // full-frame double dict join on a 600k-solution frame
          // (Stress, round 11) — the price of dict work bounded by
          // distinct tuples instead of solution rows
          var t = a.select(present.map(col): _*).distinct()
          // EXISTS marker columns (__ex_) are 0/1 flags, not term ids
          // — they ride the tuple key for BOUND atoms but never
          // rehydrate against the dictionary
          for (v <- present if !v.startsWith("__ex_"))
            t = t.join(d.select(col("id").as(v), col("term").as(s"__f_$v")),
              Seq(v), "left_outer")
          def termOfT(name: String): Column =
            if (present.contains(name) && !name.startsWith("__ex_"))
              col(s"__f_$name") else nullTerm
          def boundOfT(name: String): Column =
            if (present.contains(name)) col(name).isNotNull
            else functions.lit(false)
          val ok = t.where(filterCol(f, termOfT, boundOfT))
          val okKeys = present.foldLeft(ok.select(present.map(col): _*))(
            (d0, v) => d0.withColumnRenamed(v, s"__k_$v"))
          a.join(okKeys,
            present.map(v => col(v) <=> col(s"__k_$v")).reduce(_ && _),
            "left_semi")
        }
    }
  }

  /** Projected subquery vars that can be UNBOUND per row: aggregate
    * results (error groups / empty-group MIN-MAX), plus any projected
    * group key or plain var the inner group itself can leave null. */
  private def subSelectMaybeNull(ss: SubSelect): Set[String] = {
    val innerNullable = staticMaybeNull(ss.rows)
    val aggTargets = ss.aggs.map(_.as.name).toSet
    ss.proj.map(_.name).filter(n =>
      aggTargets.contains(n) || innerNullable.contains(n)).toSet
  }

  /** Evaluate a [[SubSelect]] to its projected frame in the store's
    * key representation. Struct/quad stores: compile → aggregate →
    * HAVING → modifiers → project, all on term structs. Dict stores:
    * the inner pipeline runs over DECODED terms (aggregates order by
    * VALUE, which 8-byte hashes cannot), then the projection
    * re-encodes by the pure term hash — sound only for terms the
    * dictionary can later rehydrate, hence the value-preserving
    * aggregate restriction (MIN/MAX/SAMPLE; documented on the DSL
    * node). */
  private def subSelectFrame(in: BgpInput, ss: SubSelect): DataFrame = {
    val sol = compile(in, ss.rows)
    val needed = (ss.proj ++ ss.groupBy ++ ss.aggs.flatMap(_.v) ++
      ss.orderBy.map(_.v)).map(_.name).distinct
    val termSol = in.dict match {
      case None => padCols(sol, needed, Term.schema)
      case Some(_) =>
        val badAggs = ss.aggs.filterNot(a =>
          a.fn == AggMin || a.fn == AggMax || a.fn == AggSample)
        if (badAggs.nonEmpty) throw new InvalidBgp(
          "subquery aggregates over a dict store must be " +
            "value-preserving (MIN/MAX/SAMPLE) — " +
            s"${badAggs.map(_.fn).mkString(", ")} compute terms the " +
            "dictionary never issued, which cannot ride an id frame; " +
            "run the composition over decoded frames " +
            "(Projections.selectDf + aggregated) instead")
        val padded = padCols(sol, needed, LongType)
        val cols = padded.columns.toSeq
        decodeCols(dictForDecode(in, ss.rows), padded, cols)
    }
    val agged =
      if (ss.aggs.isEmpty) termSol
      else Projections.aggregated(termSol, ss.groupBy, ss.aggs)
    val haved = ss.having.fold(agged)(f => applyFilter(agged, f, None))
    val modified = Projections.modified(haved, ss.orderBy, ss.limit,
      ss.offset, ss.distinct)
    val projected = modified.select(ss.proj.map(v => col(v.name)): _*)
    in.dict match {
      case None => projected
      case Some(_) =>
        projected.select(ss.proj.map(v =>
          when(col(v.name).isNull,
            functions.lit(null).cast(LongType))
            .otherwise(DictDb.idOf(col(v.name))).as(v.name)): _*)
    }
  }

  /** Pad vars the inner compile never bound with NULL columns of the
    * store's key type (the selectDf padding rule, §2.1 row 5). */
  private def padCols(sol: DataFrame, needed: Seq[String],
                      tpe: org.apache.spark.sql.types.DataType): DataFrame =
    needed.filterNot(sol.columns.contains).foldLeft(sol)((d, v) =>
      d.withColumn(v, functions.lit(null).cast(tpe)))

  /** A [[Union]] as one frame: each branch compiles recursively, pads
    * to the union of the branch column sets (a var a branch never
    * binds is UNBOUND = NULL there), and the branches CONCATENATE —
    * multiset union, never a dedup shuffle (SPARQL Union is
    * additive). Works on both key representations (NULL pads take the
    * store's key type). */
  private def unionFrame(in: BgpInput, u: Union): DataFrame = {
    val names = u.vars.map(_.name)
    val keyType: org.apache.spark.sql.types.DataType =
      if (in.dict.isEmpty) Term.schema else LongType
    u.branches.map { b =>
      padCols(compile(in, b), names, keyType)
        .select(names.map(col): _*)
    }.reduce(_.unionByName(_))
  }

  /** Union vars that can be UNBOUND per row: anything not bound by
    * EVERY branch on every solution (bound in only some branches, or
    * nullable within a branch). */
  private def unionMaybeNull(u: Union): Set[String] = {
    val alwaysBound = u.branches.map(b =>
      Bgp.requiredVars(b).map(_.name).toSet -- staticMaybeNull(b))
      .reduce(_ intersect _)
    u.vars.map(_.name).toSet -- alwaysBound
  }

  /** The decode dictionary for a dict-store subquery: dict ∪ the
    * group's values terms (a generator can bind terms the store never
    * issued — the decodeWith extraTerms rule). */
  private def dictForDecode(in: BgpInput, rows: Seq[PatternRow]): DataFrame = {
    val d = in.dict.get
    val extras = Bgp.valuesTerms(rows).distinct
    if (extras.isEmpty) d
    else d.unionByName(DictDb.termDf(d.sparkSession, extras))
      .dropDuplicates("id")
  }

  /** Rehydrate id columns to term structs against a dictionary frame
    * (the engine-side twin of DictDb.decode, for subquery pipelines
    * that aggregate mid-plan). NULL ids stay NULL structs. */
  private def decodeCols(dict: DataFrame, df: DataFrame,
                         cols: Seq[String]): DataFrame = {
    var out = df
    for (v <- cols) {
      val d = dict.select(col("id").as(s"__did_$v"), col("term").as(s"__dt_$v"))
        .hint("shuffle_hash")
      out = out.join(d, out.col(v) === col(s"__did_$v"), "left_outer")
        .drop(v).drop(s"__did_$v")
        .withColumnRenamed(s"__dt_$v", v)
    }
    out.select(cols.map(col): _*)
  }

  /** Does a filter tree contain an EXISTS leaf (under AND/OR/NOT)? */
  private def containsExists(f: FilterExpr): Boolean = f match {
    case _: FilterExists => true
    case FilterAnd(es)   => es.exists(containsExists)
    case FilterOr(es)    => es.exists(containsExists)
    case FilterNot(e)    => containsExists(e)
    case _               => false
  }

  /** [[applyFilter]] with EXISTS support: each [[FilterExists]] leaf
    * (composing under AND/OR/NOT) becomes a per-row existence MARKER
    * column — joined on before evaluation, read via a plain BOUND
    * atom, dropped after — so the whole three-valued machinery (dict
    * tuple rehydration included) needs no exists-awareness beyond
    * skipping dictionary joins on the `__ex_` columns. Correlation is
    * decided per frame: the marker join keys are the vars the inner
    * group shares with THIS frame (§10.2 compatibility when a shared
    * var can be unbound on either side). */
  private def applyFilterExists(in: BgpInput, a: DataFrame, f: FilterExpr,
                                dict: Option[DataFrame],
                                leftNullable: => Set[String]): DataFrame = {
    if (!containsExists(f)) return applyFilter(a, f, dict)
    var frame = a
    val markers = mutable.ArrayBuffer.empty[String]
    def attach(e: FilterExpr): FilterExpr = e match {
      case FilterExists(innerRows) =>
        val mk = s"__ex_${markers.size}"
        markers += mk
        frame = attachExistsMarker(in, frame, innerRows, mk, leftNullable)
        FilterBound(V(mk))
      case FilterAnd(es) => FilterAnd(es.map(attach))
      case FilterOr(es)  => FilterOr(es.map(attach))
      case FilterNot(x)  => FilterNot(attach(x))
      case other         => other
    }
    val rewritten = attach(f)
    applyFilter(frame, rewritten, dict).drop(markers.toSeq: _*)
  }

  /** Join a 0/1 existence marker for `innerRows` onto `frame`: the
    * equality form left-joins the DISTINCT shared tuples of the inner
    * solutions (at most one match per row, so the bag is preserved);
    * when a shared var can be unbound on either side the §10.2
    * compatibility form splits the frame into a semi/anti union
    * instead (a non-equi left_outer against several compatible probe
    * rows would multiply the bag). No shared vars = an uncorrelated
    * gate (1-row broadcast probe). */
  private def attachExistsMarker(in: BgpInput, frame: DataFrame,
                                 innerRows: Seq[PatternRow], mk: String,
                                 leftNullable: Set[String]): DataFrame = {
    val inner = compile(in, innerRows)
    val shared = inner.columns.toSeq.filter(frame.columns.contains)
    if (shared.isEmpty)
      frame.join(broadcast(inner.limit(1).select(functions.lit(1).as(mk))),
        functions.lit(true), "left_outer")
    else {
      val innerNullable = staticMaybeNull(innerRows)
      val anyNullable = shared.exists(c =>
        leftNullable.contains(c) || innerNullable.contains(c))
      if (!anyNullable)
        frame.join(inner.select(shared.map(col): _*).distinct()
          .withColumn(mk, functions.lit(1)), shared, "left_outer")
      else {
        val probe = inner
          .select(shared.map(c => col(c).as(s"__exn_$c")): _*).distinct()
        val cond = shared.map(c =>
          col(c).isNull || col(s"__exn_$c").isNull ||
            col(c) === col(s"__exn_$c")).reduce(_ && _)
        frame.join(probe, cond, "left_semi")
          .withColumn(mk, functions.lit(1))
          .unionByName(frame.join(probe, cond, "left_anti")
            .withColumn(mk, functions.lit(null).cast("int")))
      }
    }
  }

  private def groundTerm(tv: TermOrVar): Term = tv match {
    case T(t) => t
    case v    => throw new InvalidBgp(s"expected a ground term, got $v")
  }

  /** Pick the narrowest source for a pattern: a ground keyword
    * predicate hits the per-predicate slice (≙ the reference's
    * predicate-position hash index, alpha.clj:52 — but here it also
    * means the parquet scan reads two columns of one table instead of
    * the whole unpivoted union).
    */
  private def sourceFor(in: BgpInput, pat: PatternRow): DataFrame =
    predOf(pat) match {
      case T(Term.TKeyword(name)) => in.predIndex.getOrElse(name, in.full)
      case _ => in.full
    }

  /** One pattern scan: ground positions filter (→ pushdown), var positions
    * project under the var's name; a var repeated within the pattern adds
    * an intra-row equality filter.
    */
  private def scan(in: BgpInput, db: DataFrame, pat: PatternRow): DataFrame = {
    val pos = positionsOf(pat)
    var cur = db
    for ((c, tv) <- pos) tv match {
      case T(t) => cur = cur.where(col(c) === in.groundLit(t))
      case _    =>
    }
    val varPos = pos.collect { case (c, v: V) => (c, v) }
    for ((_, group) <- varPos.groupBy(_._2) if group.size > 1) {
      val cols = group.map(_._1)
      for (other <- cols.tail) cur = cur.where(col(cols.head) === col(other))
    }
    val firstPos = varPos.groupBy(_._2).map { case (v, g) => v -> g.head._1 }
    val proj = pat.vars.map(v => col(firstPos(v)).as(v.name))
    cur.select(proj: _*)
  }

  private def scanGround(in: BgpInput, db: DataFrame, pat: PatternRow): DataFrame = {
    var cur = db
    for ((c, tv) <- positionsOf(pat)) tv match {
      case T(t) => cur = cur.where(col(c) === in.groundLit(t))
      case _    =>
    }
    cur
  }

  /** The edge relation a path traverses: union of its predicates'
    * slices projected to (src, dst). Against a quad store this is the
    * union across ALL graphs (the same union-default semantics as a
    * plain TriplePattern); [[QuadPathPattern]] scopes it via
    * [[scopedEdges]] / [[compositeEdges]] instead.
    */
  private def pathEdges(in: BgpInput, preds: Seq[Term]): DataFrame =
    predSlices(in, preds)
      .map(_.select(col("s").as("src"), col("o").as("dst")))
      .reduce(_.unionByName(_))

  /** The leaf edge builders a path walk threads through its algebra:
    * `pos` is the union of the given predicates' slices, `neg` the
    * COMPLEMENT — every edge whose predicate is none of the given
    * ones ([[PathNeg]]). The complement cannot prune by slice, so it
    * scans the full relation with a pushed scan-side inequality
    * conjunction (an 8-byte id inequality on dict stores) — zero
    * joins either way. */
  private final case class EdgeBuilders(pos: Seq[Term] => DataFrame,
                                        neg: Seq[Term] => DataFrame)

  /** `p NOT IN (excluded)` as a scan predicate over the store's
    * predicate column (term struct or dict id — groundLit encodes for
    * the layout). */
  private def notIn(in: BgpInput, excluded: Seq[Term]): Column =
    excluded.map(e => col("p") =!= in.groundLit(e)).reduce(_ && _)

  private def edgeBuilders(in: BgpInput): EdgeBuilders = EdgeBuilders(
    pathEdges(in, _),
    ex => in.full.where(notIn(in, ex))
      .select(col("s").as("src"), col("o").as("dst")))

  /** [[EdgeBuilders]] scoped to ONE ground graph — pushed scan
    * filters on the quad slices / full quad relation, zero joins. */
  private def scopedEdgeBuilders(in: BgpInput, g: Term): EdgeBuilders =
    EdgeBuilders(
      scopedEdges(in, g),
      ex => in.full
        .where(col("g") === in.groundLit(g) && notIn(in, ex))
        .select(col("s").as("src"), col("o").as("dst")))

  /** [[EdgeBuilders]] over (graph, node) composite keys (variable
    * graph scope — see [[compositeEdges]]). */
  private def compositeEdgeBuilders(in: BgpInput): EdgeBuilders =
    EdgeBuilders(
      compositeEdges(in, _),
      ex => in.full.where(notIn(in, ex))
        .select(
          struct(col("g").as("gg"), col("s").as("n")).as("src"),
          struct(col("g").as("gg"), col("o").as("n")).as("dst")))

  private def predSlices(in: BgpInput, preds: Seq[Term]): Seq[DataFrame] =
    preds.map { p =>
      val src = p match {
        case Term.TKeyword(n) => in.predIndex.get(n)
        case _                => None
      }
      src.getOrElse(in.full.where(col("p") === in.groundLit(p)))
    }

  /** Edge relation scoped to ONE ground graph — a pushed scan filter
    * on the quad slices, zero joins. */
  private def scopedEdges(in: BgpInput, g: Term)(preds: Seq[Term]): DataFrame =
    predSlices(in, preds)
      .map(_.where(col("g") === in.groundLit(g))
        .select(col("s").as("src"), col("o").as("dst")))
      .reduce(_.unionByName(_))

  /** Edge relation over (graph, node) COMPOSITE keys: every edge's
    * src/dst carry the edge's own graph, so joins/closures on these
    * keys cannot cross graphs — a variable graph scope evaluates over
    * EVERY graph in one pass, never one job per graph. */
  private def compositeEdges(in: BgpInput, preds: Seq[Term]): DataFrame =
    predSlices(in, preds)
      .map(_.select(
        struct(col("g").as("gg"), col("s").as("n")).as("src"),
        struct(col("g").as("gg"), col("o").as("n")).as("dst")))
      .reduce(_.unionByName(_))

  // ---- path algebra (SPARQL 1.1 §9 property-path elements, minus
  // zero-length forms): every element denotes a DISTINCT (src, dst)
  // pair relation; [[pathRel]] materializes the full relation,
  // [[pathRelFrom]] the frontier form restricted to given sources so
  // ground endpoints touch only the reachable set. ----

  /** The store's node universe for SPARQL zero-length paths: every
    * term in subject or object position (of the given scope's
    * relation) — ONE distinct over two projected columns. */
  private def allNodes(rel: DataFrame): DataFrame =
    rel.select(col("s").as("node"))
      .unionByName(rel.select(col("o").as("node"))).distinct()

  private def identityPairs(nodes: DataFrame): DataFrame =
    nodes.select(col("node").as("src"), col("node").as("dst"))

  private def flipRel(r: DataFrame): DataFrame =
    r.select(col("dst").as("src"), col("src").as("dst"))

  private def composeRel(a: DataFrame, b: DataFrame): DataFrame =
    a.as("pa").join(b.as("pb"), col("pa.dst") === col("pb.src"))
      .select(col("pa.src").as("src"), col("pb.dst").as("dst"))
      .dropDuplicates("src", "dst")

  /** Rewrite so [[PathInv]] wraps only [[PathPred]] leaves (inverse of
    * a sequence reverses and inverts its steps, etc.) — the frontier
    * compiler then needs exactly one inverse case: the reversed edge
    * scan. inv ∘ inv cancels. */
  private def pushInv(pe: PathExpr): PathExpr = pe match {
    case PathInv(x)        => invOf(pushInv(x))
    case PathSeq(s)        => PathSeq(s.map(pushInv))
    case PathAlt(a)        => PathAlt(a.map(pushInv))
    case PathPlusOf(x)     => PathPlusOf(pushInv(x))
    case PathStar(x)       => PathStar(pushInv(x))
    case PathOpt(x)        => PathOpt(pushInv(x))
    case PathRange(x, n, m) => PathRange(pushInv(x), n, m)
    case leaf              => leaf
  }

  /** Structural inverse of an already-[[pushInv]]-normalized element. */
  private def invOf(pe: PathExpr): PathExpr = pe match {
    case PathPred(p)            => PathInv(PathPred(p))
    case PathInv(PathPred(p))   => PathPred(p)
    case PathNeg(ex)            => PathInv(PathNeg(ex))
    case PathInv(PathNeg(ex))   => PathNeg(ex)
    case PathPlus(p)            => PathPlusOf(PathInv(PathPred(p)))
    case PathAltPlus(ps)        => PathPlusOf(PathAlt(ps.map(p => PathInv(PathPred(p)))))
    case PathSeq(s)             => PathSeq(s.reverse.map(invOf))
    case PathAlt(a)             => PathAlt(a.map(invOf))
    case PathPlusOf(x)          => PathPlusOf(invOf(x))
    case PathStar(x)            => PathStar(invOf(x))
    case PathOpt(x)             => PathOpt(invOf(x))
    case PathRange(x, n, m)     => PathRange(invOf(x), n, m)
    case PathInv(x)             => pushInv(x)
  }

  /** Full (src, dst) relation of a normalized path element. `ed`
    * builds the leaf edge relation for a predicate list — the plain
    * union-of-graphs scan, a ground-graph-scoped scan, or the
    * (graph, node) composite form for a variable graph scope. */
  private def pathRel(in: BgpInput, pe: PathExpr,
                      ed: EdgeBuilders,
                      nodes: => DataFrame): DataFrame = pe match {
    case PathPred(p)          => ed.pos(Seq(p)).dropDuplicates("src", "dst")
    case PathInv(PathPred(p)) => flipRel(ed.pos(Seq(p))).dropDuplicates("src", "dst")
    case PathNeg(ex)          => ed.neg(ex).dropDuplicates("src", "dst")
    case PathInv(PathNeg(ex)) => flipRel(ed.neg(ex)).dropDuplicates("src", "dst")
    case PathPlus(p)          => Paths.closureEdges(ed.pos(Seq(p)))
    case PathAltPlus(ps)      => Paths.closureEdges(ed.pos(ps))
    case PathSeq(steps)       => steps.map(pathRel(in, _, ed, nodes)).reduce(composeRel)
    case PathAlt(alts)        => alts.map(pathRel(in, _, ed, nodes))
      .reduce(_.unionByName(_)).dropDuplicates("src", "dst")
    case PathPlusOf(x)        => Paths.closureEdges(pathRel(in, x, ed, nodes))
    case PathStar(x)          => identityPairs(nodes)
      .unionByName(Paths.closureEdges(pathRel(in, x, ed, nodes)))
      .dropDuplicates("src", "dst")
    case PathOpt(x)           => identityPairs(nodes)
      .unionByName(pathRel(in, x, ed, nodes)).dropDuplicates("src", "dst")
    case PathRange(x, n, m)   =>
      // bounded quantifier: k-hop compositions for k in [max(n,1), m]
      // (m bounds the loop — no fixpoint), plus the zero-length
      // component with PathStar's node-universe semantics when n = 0
      val r = pathRel(in, x, ed, nodes)
      var cur = r
      var acc: DataFrame = if (n <= 1) r else null
      for (k <- 2 to m) {
        cur = composeRel(cur, r)
        if (k >= n) acc = if (acc == null) cur else acc.unionByName(cur)
      }
      val hops = acc // m >= max(n,1) guarantees acc != null
      (if (n == 0) identityPairs(nodes).unionByName(hops) else hops)
        .dropDuplicates("src", "dst")
    case PathInv(x)           => flipRel(pathRel(in, x, ed, nodes)) // non-normalized input
  }

  /** Frontier form: (src, dst) pairs of `pe` whose src ∈ `srcs` (a
    * distinct one-column `src` frame). Sequences advance the frontier
    * step by step, so each step's scan is restricted to nodes actually
    * reached; transitive steps BFS via [[Paths.closureEdgesFrom]]. */
  private def pathRelFrom(in: BgpInput, pe: PathExpr, srcs: DataFrame,
                          ed: EdgeBuilders,
                          nodes: => DataFrame): DataFrame = pe match {
    case PathPred(p) =>
      ed.pos(Seq(p)).join(srcs, Seq("src"))
        .dropDuplicates("src", "dst")
    case PathInv(PathPred(p)) =>
      flipRel(ed.pos(Seq(p))).join(srcs, Seq("src"))
        .dropDuplicates("src", "dst")
    case PathNeg(ex) =>
      ed.neg(ex).join(srcs, Seq("src"))
        .dropDuplicates("src", "dst")
    case PathInv(PathNeg(ex)) =>
      flipRel(ed.neg(ex)).join(srcs, Seq("src"))
        .dropDuplicates("src", "dst")
    case PathPlus(p) =>
      val e = ed.pos(Seq(p))
      Paths.closureEdgesFrom(e, e.join(srcs, Seq("src")))
    case PathAltPlus(ps) =>
      val e = ed.pos(ps)
      Paths.closureEdgesFrom(e, e.join(srcs, Seq("src")))
    case PathSeq(steps) =>
      steps.foldLeft(null: DataFrame) { (acc, step) =>
        if (acc == null) pathRelFrom(in, step, srcs, ed, nodes)
        else composeRel(acc,
          pathRelFrom(in, step, acc.select(col("dst").as("src")).distinct(),
            ed, nodes))
      }
    case PathAlt(alts) =>
      alts.map(pathRelFrom(in, _, srcs, ed, nodes))
        .reduce(_.unionByName(_)).dropDuplicates("src", "dst")
    case PathPlusOf(x) =>
      val e = pathRel(in, x, ed, nodes)
      Paths.closureEdgesFrom(e, e.join(srcs, Seq("src")))
    case PathStar(x) =>
      // zero-length: each source that IS a store node pairs with
      // itself (existence probe, not a node-set enumeration)
      selfPairs(srcs, nodes)
        .unionByName(pathRelFrom(in, PathPlusOf(x), srcs, ed, nodes))
        .dropDuplicates("src", "dst")
    case PathOpt(x) =>
      selfPairs(srcs, nodes)
        .unionByName(pathRelFrom(in, x, srcs, ed, nodes))
        .dropDuplicates("src", "dst")
    case PathRange(x, n, m) =>
      // frontier form: pairs at exactly k hops extend from the
      // (k-1)-hop frontier's dst set — only the reachable set is
      // ever scanned, like PathSeq's step-by-step advance
      var cur = pathRelFrom(in, x, srcs, ed, nodes)
      var acc: DataFrame = if (n <= 1) cur else null
      for (k <- 2 to m) {
        cur = composeRel(cur,
          pathRelFrom(in, x, cur.select(col("dst").as("src")).distinct(),
            ed, nodes))
        if (k >= n) acc = if (acc == null) cur else acc.unionByName(cur)
      }
      val hops = acc
      (if (n == 0) selfPairs(srcs, nodes).unionByName(hops) else hops)
        .dropDuplicates("src", "dst")
    case PathInv(x) => // non-normalized input: invert and retry
      pathRelFrom(in, invOf(pushInv(x)), srcs, ed, nodes)
  }

  private def selfPairs(srcs: DataFrame, nodes: DataFrame): DataFrame =
    srcs.join(nodes.select(col("node").as("src")), Seq("src"), "left_semi")
      .select(col("src"), col("src").as("dst"))

  /** A single ground source/sink as a 1-row frame, hinted broadcast so
    * the frontier restriction never shuffles the edge scan.
    * Intermediate sequence frontiers are NOT hinted — they can be
    * arbitrarily large, and AQE picks the join side from runtime
    * sizes. */
  private def srcDf(in: BgpInput, t: Term): DataFrame = {
    val spark = in.full.sparkSession
    broadcast(spark.range(1).select(in.groundLit(t).as("src")))
  }

  /** A path pattern with ≥1 variable endpoint as a joinable frame with
    * var-named columns. Ground endpoints pick the frontier form
    * (pairs FROM one source / INTO one sink via the inverse path —
    * never the whole relation's closure); two distinct vars take the
    * full pair relation; a repeated var keeps only cycles.
    */
  private def pathFrame(in: BgpInput, pp: PathPattern): DataFrame = {
    val path = pushInv(pp.path)
    val ed = edgeBuilders(in)
    def nodes = allNodes(in.full)
    (pp.s, pp.o) match {
      case (T(t), v: V) =>
        pathRelFrom(in, path, srcDf(in, t), ed, nodes)
          .select(col("dst").as(v.name))
      case (v: V, T(t)) =>
        // sink-ground: walk the INVERSE path out of the sink
        pathRelFrom(in, invOf(path), srcDf(in, t), ed, nodes)
          .select(col("dst").as(v.name))
      case (v1: V, v2: V) if v1 == v2 =>
        pathRel(in, path, ed, nodes).where(col("src") === col("dst"))
          .select(col("src").as(v1.name))
      case (v1: V, v2: V) =>
        pathRel(in, path, ed, nodes)
          .select(col("src").as(v1.name), col("dst").as(v2.name))
      case _ => throw new InvalidBgp(s"ground path belongs in gates: $pp")
    }
  }

  /** [[QuadPathPattern]] with ≥1 variable: a graph-scoped path frame.
    * Ground graph = [[pathFrame]]'s shapes over [[scopedEdges]];
    * variable graph = the same algebra over [[compositeEdges]] (the
    * walk cannot leave a graph), with the graph bound from the pair's
    * key and repeated-variable collisions filtered generically. */
  private def quadPathFrame(in: BgpInput, qp: QuadPathPattern): DataFrame = {
    val path = pushInv(qp.path)
    qp.g match {
      case T(gt) =>
        val ed = scopedEdgeBuilders(in, gt)
        def nodes = allNodes(in.full.where(col("g") === in.groundLit(gt)))
        (qp.s, qp.o) match {
          case (T(t), v: V) =>
            pathRelFrom(in, path, srcDf(in, t), ed, nodes)
              .select(col("dst").as(v.name))
          case (v: V, T(t)) =>
            pathRelFrom(in, invOf(path), srcDf(in, t), ed, nodes)
              .select(col("dst").as(v.name))
          case (v1: V, v2: V) if v1 == v2 =>
            pathRel(in, path, ed, nodes).where(col("src") === col("dst"))
              .select(col("src").as(v1.name))
          case (v1: V, v2: V) =>
            pathRel(in, path, ed, nodes)
              .select(col("src").as(v1.name), col("dst").as(v2.name))
          case _ =>
            throw new InvalidBgp(s"ground quad path belongs in gates: $qp")
        }
      case gv: V =>
        val ed = compositeEdgeBuilders(in)
        def nodes = in.full
          .select(struct(col("g").as("gg"), col("s").as("n")).as("node"))
          .unionByName(in.full
            .select(struct(col("g").as("gg"), col("o").as("n")).as("node")))
          .distinct()
        // ground endpoint → frontier over the (graph, t) composite
        // nodes of the FULL store (not just the path's edge slices:
        // zero-length forms self-pair in any graph where t appears
        // under ANY predicate; for other forms the extra graphs have
        // no edges and yield nothing)
        def compNodes(t: Term): DataFrame =
          nodes.where(col("node.n") === in.groundLit(t))
            .select(col("node").as("src")).distinct()
        val pairs: DataFrame = (qp.s, qp.o) match {
          case (T(t), _) => pathRelFrom(in, path, compNodes(t), ed, nodes)
          case (_, T(t)) =>
            flipRel(pathRelFrom(in, invOf(path), compNodes(t), ed, nodes))
          case _ => pathRel(in, path, ed, nodes)
        }
        var f = pairs
        qp.s match {
          case T(t) => f = f.where(col("src.n") === in.groundLit(t))
          case _    => ()
        }
        qp.o match {
          case T(t) => f = f.where(col("dst.n") === in.groundLit(t))
          case _    => ()
        }
        val bindings: Seq[(V, Column)] = Seq(
          (qp.s match { case v: V => Some(v -> col("src.n")); case _ => None }),
          (qp.o match { case v: V => Some(v -> col("dst.n")); case _ => None }),
          Some(gv -> col("src.gg"))).flatten
        val first = mutable.LinkedHashMap[String, Column]()
        for ((v, c) <- bindings) {
          if (first.contains(v.name)) f = f.where(first(v.name) === c)
          else first(v.name) = c
        }
        f.select(first.toSeq.map { case (n, c) => c.as(n) }: _*)
    }
  }

  /** A single-var [[Values]] against a column that may be NULL per
    * row (a [[ValuesTable]] UNDEF introduced it): SPARQL
    * compatibility-join semantics — a null row is compatible with
    * EVERY coll element and BINDS it (one result per element, bag),
    * a bound row keeps one copy per EQUAL element. */
  private def nullCompatValuesJoin(in: BgpInput, a: DataFrame,
                                   v: Values): DataFrame = {
    val spark = a.sparkSession
    val name = v.v.name
    val coll = in.mkCollDf(spark, v).withColumnRenamed(name, s"__vc_$name")
    val hinted =
      if (v.coll.size <= valuesBroadcastLimit(spark)) broadcast(coll) else coll
    a.join(hinted, col(name).isNull || col(name) === col(s"__vc_$name"),
        "inner")
      .withColumn(name, coalesce(col(name), col(s"__vc_$name")))
      .drop(s"__vc_$name")
  }

  /** A [[ValuesTable]] as a literal frame in the store's key
    * representation: term-struct columns (struct/quad stores) or
    * 8-byte id columns (dict stores — ids are pure hashes, so literal
    * cells encode WITHOUT consulting the dictionary; the decode-side
    * extraTerms rule rehydrates them, [[Bgp.valuesTerms]]). UNDEF
    * cells are NULL. */
  private def valuesTableDf(in: BgpInput, spark: SparkSession,
                            vt: ValuesTable): DataFrame = {
    import scala.jdk.CollectionConverters._
    if (in.dict.isEmpty) {
      val schema = StructType(vt.vs.map(v =>
        StructField(v.name, Term.schema, nullable = true)))
      spark.createDataFrame(
        vt.rows.map(r => Row.fromSeq(r.map(_.map(Term.toRow).orNull))).asJava,
        schema)
    } else {
      val schema = StructType(vt.vs.map(v =>
        StructField(v.name, LongType, nullable = true)))
      spark.createDataFrame(
        vt.rows.map(r => Row.fromSeq(r.map(
          _.map(t => java.lang.Long.valueOf(DictDb.termId(t))).orNull))).asJava,
        schema)
    }
  }

  /** Colls at or below this many elements get an explicit `broadcast()`
    * hint on the values join; beyond it, the join is left unhinted so
    * the planner shuffles (a multi-million-element coll broadcast to
    * every executor is an OOM, not an optimization). Overridable via
    * `spark.conf.set("graft.values.broadcastLimit", n)`.
    */
  private def valuesBroadcastLimit(spark: org.apache.spark.sql.SparkSession): Int =
    spark.conf.getOption("graft.values.broadcastLimit").map(_.toInt)
      .getOrElse(1 << 20)

  /** Values on an already-bound var: small coll → OR-chain filter (codegen
    * friendly, no shuffle); large coll → broadcast left-semi join; huge
    * coll (past [[valuesBroadcastLimit]]) → shuffle semi-join.
    * NOTE: semi-join dedups, which is correct here — the var is already
    * bound, membero on a ground term succeeds at most once per element,
    * but duplicate coll elements cannot multiply an already-ground
    * solution in the reference either (conjunction of membero with a
    * bound var yields one success per *matching element*; duplicates DO
    * multiply). For exact bag parity with duplicate coll elements we use
    * an inner join against the (non-deduped) coll for colls with dups.
    */
  private def valuesFilter(in: BgpInput, df: DataFrame, v: Values): DataFrame = {
    val terms = v.coll.toSeq
    val hasDups = terms.size != terms.distinct.size
    def hinted(c: DataFrame): DataFrame =
      if (terms.size <= valuesBroadcastLimit(df.sparkSession)) broadcast(c) else c
    if (terms.isEmpty) df.where(functions.lit(false))
    else if (hasDups)
      df.join(hinted(in.mkCollDf(df.sparkSession, v)), Seq(v.v.name), "inner")
    else if (terms.size <= 64)
      df.where(terms.map(t => col(v.v.name) === in.groundLit(t)).reduce(_ || _))
    else
      df.join(hinted(in.mkCollDf(df.sparkSession, v).dropDuplicates()),
        Seq(v.v.name), "left_semi")
  }

  /** The values collection as a 1-column DataFrame (bag — keeps dups).
    * Partition count scales with coll size so a huge coll doesn't ride
    * one task into the shuffle join. */
  private def structCollDf(spark: SparkSession, v: Values): DataFrame = {
    val rows = v.coll.toSeq.map(t => Row(Term.toRow(t)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 100000)),
      StructType(Seq(StructField(v.v.name, Term.schema, nullable = false))))
  }

  /** Dict-path values frame: the collection as ids (encoded driver-side
    * — no job). Decode unions the coll terms back in, so a generator
    * element absent from the db still rehydrates (DictDb.decode). */
  private def dictCollDf(spark: SparkSession, v: Values): DataFrame = {
    val rows = v.coll.toSeq.map(t => Row(DictDb.termId(t)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, math.max(1, rows.size / 100000)),
      StructType(Seq(StructField(v.v.name, LongType, nullable = false))))
  }

  /** Vars whose column may be NULL (= unbound per row) in the
    * compiled frame of `rows`: introduced by a ValuesTable UNDEF cell
    * (unless a scan/path/values row also binds them — those fold
    * first and bind every row), bound only inside Optional clauses
    * (unmatched rows ride NULL, recursively), or BIND targets (an
    * expression error leaves the var unbound). CONSERVATIVE by
    * design: listing a never-null var only routes a join through the
    * §10.2 compatibility form — semantically identical, just a
    * different plan — while missing a nullable var would silently
    * restore the equality-join bug this analysis exists to prevent.
    */
  private def staticMaybeNull(rows: Seq[PatternRow]): Set[String] = {
    val scanBound: Set[String] = rows.collect {
      case p: TriplePattern   => p.vars
      case q: QuadPattern     => q.vars
      case p: PathPattern     => p.vars
      case q: QuadPathPattern => q.vars
      case v: Values          => v.vars
      // a subquery's non-nullable projected vars bind every row
      case ss: SubSelect      =>
        ss.proj.filterNot(v => subSelectMaybeNull(ss).contains(v.name))
      // a union var bound non-nullably by EVERY branch binds every row
      case u: Union           =>
        u.vars.filterNot(v => unionMaybeNull(u).contains(v.name))
    }.flatten.map(_.name).toSet
    val subNullable: Set[String] =
      rows.collect { case ss: SubSelect => subSelectMaybeNull(ss)
                     case u: Union => unionMaybeNull(u) }
        .flatten.toSet
    val undef: Set[String] = rows.collect { case vt: ValuesTable =>
      vt.vs.map(_.name).zipWithIndex.collect {
        case (n, i) if vt.rows.exists(r => r(i).isEmpty) => n
      }
    }.flatten.toSet
    val optVars: Set[String] = rows.collect { case o: Optional =>
      o.rows.flatMap(_.vars).map(_.name).toSet ++ staticMaybeNull(o.rows)
    }.flatten.toSet
    val bindVars: Set[String] =
      rows.collect { case b: Bind => b.as.name }.toSet
    (undef ++ optVars ++ bindVars ++ subNullable) -- scanBound
  }

  /** Greedy selectivity ordering: start from the most-ground pattern, then
    * repeatedly take the pattern that shares the most already-bound vars
    * (connected join > cross join), tie-broken by ground-term count, then
    * by SOURCE SIZE (per-predicate bytes from [[TripleDb.stats]]: a
    * loaded store's on-disk parquet bytes per predicate partition, or a
    * plan's size estimate — a 5-row dimension slice scans before a 100 TB
    * fact slice when boundness ties), then by original position (stable).
    * The reference runs patterns in user order (alpha.clj:193-203) and
    * tells users to put selective patterns first; we do it for them.
    */
  private[graft] def orderPatterns[P <: PatternRow](pats: Seq[P],
                                   stats: Map[String, Long] = Map.empty): Seq[P] = {
    if (pats.size <= 1) return pats
    def groundCount(p: P): Int =
      positionsOf(p).count(_._2.isInstanceOf[T])
    def sourceBytes(p: P): Long = predOf(p) match {
      case T(Term.TKeyword(name)) => stats.getOrElse(name, Long.MaxValue)
      case _ => Long.MaxValue // no ground predicate → whole-store scan
    }
    val remaining = mutable.ArrayBuffer(pats.zipWithIndex: _*)
    val out = mutable.ArrayBuffer.empty[P]
    val bound = mutable.Set.empty[String]
    while (remaining.nonEmpty) {
      val bestEntry = remaining.maxBy { case (p, idx) =>
        val shared = p.vars.count(v => bound.contains(v.name))
        val connected = if (bound.isEmpty || shared > 0) 1 else 0
        (connected, shared * 4 + groundCount(p) * 2, -sourceBytes(p), -idx)
      }
      remaining -= bestEntry
      out += bestEntry._1
      bound ++= bestEntry._1.vars.map(_.name)
    }
    out.toSeq
  }
}
