package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.ExplainMode

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-entry inspection: `runMain graft.tools.Inspect
  * q143_quad_gdpr,q195_graph_mgmt [sfDir] [planDir]` runs each named
  * SparkEntry query on the Bench session (after the Bench warm-up) and
  * prints jobs / stages / tasks / shuffle KB written / wall seconds of
  * building the entry and `.count()`ing it. The durable-lifecycle
  * entries are multi-JOB pipelines whose cost at a 40-130 ms per-task
  * scheduling floor is job count × that floor (SURVEY §8.3), so
  * `explain` on the returned frame sees only the final query — this
  * listener sees every job the entry ran.
  *
  * With `planDir`, each entry also writes `<planDir>/<entry>.txt`, the
  * formatted physical plan of the returned frame, and
  * `<planDir>/<entry>_final.txt`, its AQE final plan. The final plan
  * needs an action on THAT frame (`count()` plans a separate
  * execution), so the frame runs once more after its row is printed;
  * that run is not counted.
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val planDir = args.lift(2).map(Paths.get(_))
    val spark = graft.Session.build()
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicLong(0L)
    // shuffle bytes written across the entry's stages: the deterministic
    // evidence for exchange-narrowing changes (wall seconds on a VM
    // with stall windows are noise; bytes are not)
    val shufW = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks.toLong)
        shufW.addAndGet(s.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    })
    graft.SparkEntry.warm(spark, sfDir)
    planDir.foreach(Files.createDirectories(_))
    println(f"${"entry"}%-28s ${"jobs"}%6s ${"stages"}%7s ${"tasks"}%8s ${"shufKB"}%9s ${"sec"}%8s")
    for (name <- names) {
      // drain the async listener bus DETERMINISTICALLY so a previous
      // entry's events don't attribute here (fixed sleeps skewed
      // counts when delivery outran them — round-16 ADVICE item)
      org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
      jobs.set(0); stages.set(0); tasks.set(0L); shufW.set(0L)
      val t0 = System.nanoTime()
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      df.count()
      val dt = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftCoreBridge.drainListenerBus(spark.sparkContext)
      println(f"$name%-28s ${jobs.get}%6d ${stages.get}%7d ${tasks.get}%8d ${shufW.get / 1024}%9d $dt%8.2f")
      planDir.foreach { dir =>
        def write(file: String, text: String): Unit =
          Files.write(dir.resolve(file), text.getBytes("UTF-8"))
        write(s"$name.txt",
          df.queryExecution.explainString(ExplainMode.fromString("formatted")))
        df.foreach(_ => ())
        write(s"${name}_final.txt", df.queryExecution.executedPlan.toString)
      }
    }
    spark.stop()
  }
}
