package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a SparkSession. Bench, Verify, the endpoint
  * CLI, the tools and the test suite all come through here, so a
  * verified or inspected plan is the benched plan.
  *
  * `local[cpus]` with shuffle partitions = cpus, where cpus defaults to
  * `SPARK_GRAFT_CPUS` (else 32). `SPARK_GRAFT_EXTRA_CONF="k=v,k=v"`
  * sets runtime confs for A/B experiments (unset = contract run).
  */
object Session {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** `extra` carries a caller's own builder confs (SkewProbe's AQE
    * thresholds); they apply after the shared ones. */
  def build(cpus: String = Session.cpus, logLevel: String = "WARN",
            extra: Map[String, String] = Map.empty): SparkSession = {
    val shared = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // let AQE swap a sort-merge join for a shuffled-hash join when the
      // runtime build side's partitions fit in memory — skips two sorts
      // on wide struct keys; decision is per-query from measured sizes,
      // so it stays safe when a side is actually huge (default 0 = off)
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // drive the context cleaner on a short period: iterative ops
      // (closure/k-hop/pageRank/BPE) localCheckpoint per round, and the
      // default 30min GC cadence lets dead checkpoint blocks pile up
      // across a long suite (round-9 sf1 OOM evidence)
      .config("spark.cleaner.periodicGC.interval", "2min")
    val spark = extra.foldLeft(shared) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    // entries without '=' fail loud, and values may not contain commas
    // (the separator) — spark.conf.set also rejects static confs at
    // runtime with its own clear error
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").foreach(_.split(",").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => spark.conf.set(k, v)
        case _ => sys.error(
          s"SPARK_GRAFT_EXTRA_CONF entry '$kv' is not k=v (note: comma " +
            "separates entries, so values cannot contain commas)")
      }
    })
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
