package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import java.io.File
import scala.jdk.CollectionConverters._

/** One benchmark run: `Main <spec.json> <run-dir> <seconds> <trace 0|1>`.
  *
  * `spec.json` is written by `gen.py` (inputs, operation sequence,
  * expected answers). The run builds one Spark session, sets the
  * workload up several times (median reported as `setup_s`), measures
  * for `seconds`, checks every answer, and prints a summary line and
  * then the result object as the last line of stdout.
  */
object Main {
  /** End-to-end metrics every workload reports (untraced runs). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "lat_p50_ms" -> "ms", "lat_p90_ms" -> "ms",
    "ops_per_s" -> "1/s", "peak_heap_mb" -> "MB")

  /** Per-layer metrics every workload reports (traced runs); a layer a
    * workload does not exercise reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sparql.parse_ms" -> "ms", "engine.compile_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "core.load_ms" -> "ms",
    "core.update_ms.insert_data" -> "ms", "core.update_ms.delete_data" -> "ms",
    "core.update_ms.modify" -> "ms", "core.update_ms.graph" -> "ms",
    "core.update_ms.compact" -> "ms", "core.bytes_written" -> "bytes",
    "core.tomb_files" -> "count", "core.cached_blocks_end" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.task_ms" -> "ms", "exec.sched_delay_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.codegen_fallbacks" -> "count",
    "edge.serialize_ms" -> "ms", "edge.response_bytes" -> "bytes",
    "http.overhead_ms" -> "ms", "http.queue_ms" -> "ms", "gen.late_ms" -> "ms",
    "mix.update_p50_ms" -> "ms", "mix.update_p90_ms" -> "ms",
    "mix.bytes_per_quad" -> "bytes", "ops.rdfs_ms" -> "ms",
    "ops.paths_ms" -> "ms") ++
    Scale.Templates.filterNot(Set("rdfs", "paths")).map(t => s"scale.${t}_ms" -> "ms") ++
    Seq("ops.quality_ms" -> "ms", "ops.exact_ms" -> "ms",
      "ops.minhash_ms" -> "ms", "ops.components_ms" -> "ms",
      "ops.bpe_ms" -> "ms", "ops.ann_ms" -> "ms",
      "ops.minhash_verified_per_candidate" -> "ratio",
      "ops.ann_scanned_per_result" -> "ratio", "curate.docs_per_s" -> "1/s",
      "trace.op_ms" -> "ms")

  /** What a workload hands back: answer counts, metric values, and
    * facts for the summary line. */
  final case class Outcome(attempted: Long, failed: Long,
                           metrics: Map[String, Double],
                           info: Seq[(String, Any)])

  final case class Ctx(spark: SparkSession, spec: JsonNode, runDir: String,
                       seconds: Int, trace: Boolean, probe: Probe) {
    def dataDir: String = spec.get("data").asText()
    def deadlineNs(fromNs: Long): Long = fromNs + seconds * 1000000000L
  }

  def main(args: Array[String]): Unit = {
    val Array(specPath, runDir, secs, traceArg) = args
    val spec = new ObjectMapper().readTree(new File(specPath))
    val workload = spec.get("workload").asText()
    val trace = traceArg == "1"
    val spark = session(runDir)
    val probe = new Probe(spark).start(trace)
    phase("session ready")
    val ctx = Ctx(spark, spec, runDir, secs.toInt, trace, probe)
    val out = workload match {
      case "serve" => Serve.serve(ctx)
      case "mix" => Serve.mix(ctx)
      case "scale" => Scale.run(ctx)
      case "curate" => Curate.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    val cached = spark.sparkContext.getRDDStorageInfo.count(_.numCachedPartitions > 0)
    if (cached > 0)
      println(s"[perfbench] WARNING: $cached cached RDD(s) still persisted at " +
        "the end of the run (core.cached_blocks_end)")
    val metrics = out.metrics ++ Map(
      "peak_heap_mb" -> probe.peakHeapMb(),
      "core.cached_blocks_end" -> cached.toDouble)
    val wanted = if (trace) PerLayer else EndToEnd
    val failShare = out.failed.toDouble / math.max(1L, out.attempted)
    val info = Seq(
      "workload" -> workload, "seed" -> spec.get("seed").asLong(),
      "trace" -> trace, "fail_share" -> failShare,
      "cpus" -> spark.sparkContext.defaultParallelism,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "storage_memory_mb" -> storageMemoryMb(spark),
      "jvm" -> System.getProperty("java.version"),
      "spark" -> spark.version) ++ out.info
    println("[perfbench] " + json(info.map { case (k, v) => k -> v }))
    val result = Seq(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> RawJson(wanted.map { case (name, unit) =>
        s"${quote(name)}:{\"value\":${num(metrics.getOrElse(name, 0.0))}," +
          s"\"unit\":${quote(unit)}}"
      }.mkString("{", ",", "}")))
    println(json(result))
    phase("result printed")
    spark.stop()
    phase("session stopped")
    sys.exit(0)
  }

  /** The benchmark's one session: local[nproc], shuffle partitions =
    * nproc (graft.Bench's rule), plus Bench's other confs. Scratch
    * (spark.local.dir, warehouse) lives under the run directory. */
  def session(runDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val parts = sys.env.getOrElse("PERFBENCH_SHUFFLE_PARTITIONS", cpus.toString)
    val spark = SparkSession.builder()
      .appName("perfbench").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def storageMemoryMb(spark: SparkSession): Long =
    spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum / (1024 * 1024)

  // ------------------------------------------------------------ helpers

  private val jvmStart = java.lang.management.ManagementFactory
    .getRuntimeMXBean.getStartTime

  /** A progress line on stderr, with seconds since the JVM started. */
  def phase(what: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - jvmStart) / 1000.0}%7.1f s  $what")

  /** Milliseconds taken by `body`, and its value. */
  def timed[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = body
    ((System.nanoTime() - t0) / 1e6, r)
  }

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Sizes of all files under `path`, in bytes. */
  def treeFiles(path: String): Map[String, Long] = {
    val root = new File(path)
    if (!root.exists()) Map.empty
    else java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => p.toString -> p.toFile.length()).toMap
  }

  def deleteTree(path: String): Unit = {
    val root = new File(path)
    if (root.exists())
      java.nio.file.Files.walk(root.toPath).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
  }

  final case class RawJson(text: String)

  def quote(s: String): String = new ObjectMapper().writeValueAsString(s)

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else BigDecimal(d).bigDecimal.toPlainString

  def json(fields: Seq[(String, Any)]): String = fields.map { case (k, v) =>
    val value = v match {
      case RawJson(t) => t
      case s: String => quote(s)
      case b: Boolean => b.toString
      case i: Int => i.toString
      case l: Long => l.toString
      case d: Double => num(d)
      case m: Map[_, _] =>
        json(m.toSeq.map { case (a, b) => a.toString -> b }.sortBy(_._1))
      case other => quote(other.toString)
    }
    s"${quote(k)}:$value"
  }.mkString("{", ",", "}")

  def seq(node: JsonNode): Seq[JsonNode] = node.elements().asScala.toSeq
}
