package graft.tools

import org.apache.spark.sql.functions._

/** Organic-skew AQE evidence: run the hot-key shuffled join shape on a
  * `make_sf.py --skew` fixture and report whether AQE's skew-join
  * handling split the hot partitions.
  *
  * `runMain graft.tools.SkewProbe [sfDir]`
  *
  * The probed join — orders ⋈ customer on the skewed o_custkey — is
  * the 100 TB shape: neither side broadcasts (forced here via
  * autoBroadcastJoinThreshold = -1, which is simply the truth at
  * production row counts), so the hot keys land in hot shuffle
  * partitions and OptimizeSkewedJoin must split them. The byte
  * thresholds are scaled to the fixture (AQE's defaults are sized for
  * production partitions, not a 231 MB test dir); the FACTOR (hot
  * partition ≥ 5× median) is left at its default — that is the part
  * organic skew has to earn.
  */
object SkewProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/tmp/sf1"
    val spark = graft.Session.build(extra = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      // AQE splits a skewed reducer partition at MAPPER granularity —
      // a 29 MB parquet scanned as one input split gives one mapper,
      // and a one-mapper hot partition cannot be split at all. Smaller
      // input splits = production mapper counts in miniature.
      "spark.sql.files.maxPartitionBytes" -> "2m"))
    // carry real payload columns through the shuffle: skew detection
    // works on COMPRESSED map-output bytes, and a partition of one
    // repeated join key with no payload compresses ~100:1 — below the
    // byte threshold even at 13x the median row count. Production
    // joins ship payload; the probe must too.
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate"))
    val cust = spark.read.parquet(s"$sfDir/customer.parquet")
    val joined = orders.join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("ok"))
    // collect() on THIS frame, then read ITS executedPlan — the
    // documented way to see the AQE final plan (a separate action
    // plans a separate execution)
    val rows = joined.collect().length
    val plan = joined.queryExecution.executedPlan.toString
    val skewMarks = "isSkew=true|skew=true".r.findAllIn(plan).length
    println(s"== SkewProbe: $rows groups; skew markers in " +
      s"executed plan: $skewMarks")
    println(plan.linesIterator.filter(_.toLowerCase.contains("skew"))
      .take(5).mkString("\n"))
    if (skewMarks == 0)
      println(plan.linesIterator.take(25).mkString("\n"))
    spark.stop()
  }
}
