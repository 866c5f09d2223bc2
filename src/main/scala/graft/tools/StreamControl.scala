package graft.tools

import graft.streaming.Events
import org.apache.spark.sql.functions._

/** Separates the streaming-tier HARNESS cost from operator cost. The
  * sf1 scaling record showed the streaming tier at 5.5× for 10× data —
  * asserted (round 9) to be MemoryStream replay cost, not operator
  * state. This control proves or refutes that: it times
  *
  *   1. `control_passthrough` — the same MemoryStream ingest through a
  *      no-op projection into an append memory sink (the pure replay +
  *      micro-batch machinery floor, every input row materialized);
  *   2. `control_count` — ingest into a single-row `groupBy().count()`
  *      complete-mode sink (the minimal stateful-operator floor);
  *   3. `op_hourly` — the real q54 operator (windowed counts);
  *   4. `op_sliding` — the real q64 shape if cheap to rig; omitted
  *      here, hourly is the representative windowed agg.
  *
  * operator-only cost ≈ op_hourly − control_count. If the controls
  * scale super-linearly with input size, the 5.5× is the RIG (replay
  * is single-threaded addData + per-batch planning); if they are flat
  * and op_hourly grows, it is operator state.
  */
object StreamControl {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = graft.Session.build()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rows = Events.withTsUs(spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_type"), col("value"), col("tus"))
      .as[(String, Double, Long)].collect().toSeq
    println(s"[stream] input rows: ${rows.size} ($sfDir)")

    def run(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[stream] $label%-22s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }

    def freshInput() = {
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Double, Long)]
      ms.addData(rows)
      ms.toDF().toDF("event_type", "value", "tus")
        .withColumn("ts", timestamp_micros(col("tus")))
    }
    var n = 0
    def sinkName(): String = { n += 1; s"graft_ctrl_$n" }

    // warm-up: first streaming query pays one-time planner/exec init
    run("warmup (count)") {
      val sq = freshInput().groupBy().count()
        .writeStream.format("memory").queryName(sinkName())
        .outputMode("complete").start()
      sq.processAllAvailable(); sq.stop()
    }
    run("control_passthrough") {
      val sq = freshInput().select("event_type", "value", "ts")
        .writeStream.format("memory").queryName(sinkName())
        .outputMode("append").start()
      sq.processAllAvailable(); sq.stop()
    }
    run("control_count") {
      val sq = freshInput().groupBy().count()
        .writeStream.format("memory").queryName(sinkName())
        .outputMode("complete").start()
      sq.processAllAvailable(); sq.stop()
    }
    run("op_hourly (q54)") {
      val sq = Events.hourlyCountsStream(freshInput())
        .writeStream.format("memory").queryName(sinkName())
        .outputMode("complete").start()
      sq.processAllAvailable(); sq.stop()
    }
    spark.stop()
  }
}
