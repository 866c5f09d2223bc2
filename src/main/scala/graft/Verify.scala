package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure handling (round 8): a query that throws must turn the gate
  * RED, not vanish. Round 7's q76 crashed, was skipped, and the round
  * recorded 117/117 green out of 118 declared queries. Now a failing
  * query (a) still gets a result parquet — a 1-row sentinel with an
  * `__verify_error__` column, which can never match its oracle, so any
  * comparer that iterates dumped results sees a red entry under the
  * query's own name; (b) is recorded in verify_meta.json alongside the
  * declared/dumped counts; (c) makes Verify itself exit nonzero.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — dump (and list in
    // oracle_sql.json) only those, for fast local iteration. The driver
    // always calls with 2 args → full run.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").map(_.trim).toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    // the Bench session, so the verified plans are the benched plans
    val spark = Session.build()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val declared = SparkEntry.queries.keys.filter(keep).toSeq
    declared.foreach { name =>
      val fn = SparkEntry.queries(name)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(500)
        System.err.println(s"[verify] $name FAILED: $msg")
        failures(name) = msg
        // sentinel result: present under the query's name, guaranteed
        // to mismatch the oracle (wrong schema, wrong rows, wrong hash)
        try {
          import spark.implicits._
          Seq(msg).toDF("__verify_error__").coalesce(1)
            .write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => keep(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // meta record for oracle_check.py: declared vs dumped counts + the
    // failure list, so the local gate can refuse to report green when a
    // declared query never produced a (real) result.
    val meta = s"""{"declared": ${declared.size}, "ok": ${declared.size - failures.size}, """ +
      s""""failures": ${failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")}}"""
    Files.writeString(Paths.get(s"$outDir/verify_meta.json"), meta)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size}/${declared.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
    if (failures.nonEmpty) sys.exit(1)
  }
}
