package graft.ops

import graft.core.{Term, TripleDb}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded graph traversal over a triple DB (the "graph analytics"
  * tier). Implemented as iterative DataFrame self-joins rather than
  * GraphX: the edge relation stays a Catalyst plan (predicate-index
  * scans, broadcast/AQE join selection, whole-stage codegen), where
  * GraphX would drop to RDDs and lose the optimizer entirely.
  *
  * Scale shape: each hop is one equi-join shuffled by the frontier's
  * destination + a distinct; frontier size is bounded by the reachable
  * set, and `dropDuplicates` per hop keeps the exponential path count
  * from materializing (we track reachable PAIRS, not paths). For
  * unbounded closure, iterate to fixpoint with checkpointing every few
  * hops to cut plan growth.
  */
object Paths {

  /** Directed edges (src, dst) drawn from the given predicates. */
  def edges(db: TripleDb, preds: Seq[Term]): DataFrame =
    preds.map { p =>
      val src = db.predIndex.get(p match {
        case Term.TKeyword(n) => n; case _ => ""
      })
      src.getOrElse(db.df.where(col("p") === Term.lit(p)))
        .select(col("s").as("src"), col("o").as("dst"))
    }.reduce(_.unionByName(_))

  /** Transitive closure to fixpoint: iterate until no new pairs appear.
    * Each round localCheckpoints the accumulated pair set — lineage
    * (and therefore plan size) stays constant instead of growing one
    * join per round, the standard guard for iterative DataFrame jobs.
    * `maxIter` bounds runaway graphs (diameter > maxIter throws).
    */
  def closure(db: TripleDb, preds: Seq[Term], maxIter: Int = 20): DataFrame =
    closureEdges(edges(db, preds), maxIter)

  /** [[closure]] over an arbitrary `(src, dst)` edge frame — the shared
    * engine behind [[closure]] and the query DSL's property paths
    * ([[graft.dsl.PathPlus]] via the BGP compiler), which bring their
    * own edge frames (struct-keyed or dict-encoded; the loop is
    * representation-agnostic).
    */
  def closureEdges(edges0: DataFrame, maxIter: Int = 20): DataFrame = {
    // re-alias after each checkpoint: fresh expression ids per round
    // keep Union's constraint rewriting from seeing duplicate attrs
    def barrier(df: DataFrame): DataFrame =
      df.localCheckpoint().select(col("src").as("src"), col("dst").as("dst"))
    // NOT pre-clustered by the join key: round 15 A/B'd replacing this
    // checkpoint with repartition("src")+persist so each round's join
    // skips the edge-side exchange (a cached plan keeps its
    // outputPartitioning; a localCheckpoint degrades to
    // UnknownPartitioning) — measured consistently NET-NEGATIVE at
    // sf0.1 (3× interleaved min-of-2: q36 +0.39 s, q43 +0.21 s, q52
    // +0.38 s with a clean q01 control): per-round columnar-cache
    // decode + the extra setup shuffle cost more than the 32-partition
    // exchange they save. Checkpointed binary rows stay the fast form
    // on this box; at cluster scale, bucket the edge source instead.
    val e = barrier(edges0.dropDuplicates("src", "dst"))
    // `all` stays a UNION of per-round checkpointed frontiers — each
    // segment is already materialized, so the accumulated set is never
    // recomputed OR re-checkpointed per round (re-checkpointing `all`
    // would rewrite the full pair set every round: O(rounds × |all|)).
    // The union plan grows by one leaf per round, bounded by maxIter.
    var all = e
    var frontier = e
    var i = 0
    while (i < maxIter) {
      val next = barrier(frontier.as("f")
        .join(e.as("e"), col("f.dst") === col("e.src"))
        .select(col("f.src").as("src"), col("e.dst").as("dst"))
        .dropDuplicates("src", "dst")
        .join(all, Seq("src", "dst"), "left_anti"))
      if (next.isEmpty) return all
      all = all.unionByName(next)
      frontier = next
      i += 1
    }
    throw new IllegalStateException(
      s"closure did not converge within $maxIter iterations")
  }

  /** Closure restricted to paths whose FIRST edge is in `init` (⊆ the
    * edge set): returns exactly the (src, dst) pairs reachable from
    * init's sources. This is the ground-endpoint fast path for property
    * paths — `[:alice (path knows +) ?x]` BFSes the frontier out of one
    * source instead of materializing the whole graph's closure and
    * filtering it; on a 100 TB edge relation that is the difference
    * between touching the reachable set and touching everything.
    */
  def closureEdgesFrom(edges0: DataFrame, init0: DataFrame,
                       maxIter: Int = 20): DataFrame = {
    def barrier(df: DataFrame): DataFrame =
      df.localCheckpoint().select(col("src").as("src"), col("dst").as("dst"))
    // checkpoint, not persist — see [[closureEdges]]'s measured note
    val e = barrier(edges0.dropDuplicates("src", "dst"))
    var all = barrier(init0.dropDuplicates("src", "dst"))
    var frontier = all
    var i = 0
    while (i < maxIter) {
      val next = barrier(frontier.as("f")
        .join(e.as("e"), col("f.dst") === col("e.src"))
        .select(col("f.src").as("src"), col("e.dst").as("dst"))
        .dropDuplicates("src", "dst")
        .join(all, Seq("src", "dst"), "left_anti"))
      if (next.isEmpty) return all
      all = all.unionByName(next)
      frontier = next
      i += 1
    }
    throw new IllegalStateException(
      s"closure did not converge within $maxIter iterations")
  }

  /** All distinct (src, dst) pairs connected by 1..maxHops edges.
    * Same shape as [[closure]] — per-hop `left_anti` pruning of the new
    * frontier against the accumulated pair set, behind a localCheckpoint
    * barrier. Pruning is sound for PAIR reachability (a pair already seen
    * at a shorter hop has already contributed its extensions), and it is
    * what keeps the frontier from re-deriving the same pairs every hop on
    * cyclic / high-fan-in graphs — without it the re-derivation compounds
    * per hop and the final dedup scans O(hops × pairs).
    */
  def reachable(db: TripleDb, preds: Seq[Term], maxHops: Int): DataFrame = {
    def barrier(df: DataFrame): DataFrame =
      df.localCheckpoint().select(col("src").as("src"), col("dst").as("dst"))
    // checkpoint, not persist — see [[closureEdges]]'s measured note
    val e = barrier(edges(db, preds).dropDuplicates("src", "dst"))
    var all = e
    var frontier = e
    for (_ <- 2 to maxHops) {
      val next = barrier(frontier.as("f")
        .join(e.as("e"), col("f.dst") === col("e.src"))
        .select(col("f.src").as("src"), col("e.dst").as("dst"))
        .dropDuplicates("src", "dst")
        .join(all, Seq("src", "dst"), "left_anti"))
      if (next.isEmpty) return all
      all = all.unionByName(next)
      frontier = next
    }
    all
  }
}
