package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** The one read and write path of the durable `partitionBy` stores
  * ([[TripleDb.save]], [[QuadDb.save]], [[DictDb.save]],
  * [[DictDb.saveQuads]]). Reading a store runs no Spark job (past
  * `spark.sql.sources.parallelPartitionDiscovery.threshold`, 32
  * partition directories by default, Spark lists them with one job, as
  * it does for any read of such a store):
  *
  *   - the store is read with its known schema — its rows plus the
  *     partition column — so there is no footer-reading inference job,
  *     and a predicate named `2024` or `2024-01-01` stays a string
  *     instead of being inferred as an int or a date;
  *   - slice values and sizes come from the frame's own file index,
  *     the listing Spark makes when the frame is created, so a slice
  *     never names a partition the frame does not scan. The values are
  *     the ones partition discovery parsed (unescaped), and partitions
  *     without data files get no slice, as with a `distinct` over the
  *     partition column;
  *   - a slice's stat is its partition's on-disk parquet bytes, the
  *     source size [[graft.engine.BgpCompiler.orderPatterns]] breaks
  *     ties on.
  */
private[graft] object PartitionedStore {
  /** [[TripleDb.save]] / [[QuadDb.save]]: see [[predValue]]. */
  val Pred: StructField = StructField("pred", StringType)
  /** [[DictDb.save]] / [[DictDb.saveQuads]]: the predicate's term id. */
  val Pid: StructField = StructField("pid", LongType)

  private val OtherPreds = "__other"

  /** The [[Pred]] value of a triple or quad row: the lex of a keyword
    * predicate; every other predicate term shares one partition. */
  def predValue: Column =
    when(col("p.kind") === Term.KKeyword, col("p.lex")).otherwise(lit(OtherPreds))

  /** Slice names of a [[Pred]] store: one per keyword predicate. */
  def keywordPreds(preds: Seq[String]): Map[String, String] =
    preds.filter(_ != OtherPreds).map(p => p -> p).toMap

  /** A loaded store: the masked frame, and per named partition its
    * slice and on-disk bytes. */
  final case class Loaded(frame: DataFrame, slices: Map[String, DataFrame],
                          stats: Map[String, Long])

  /** Every stored row, tombstoned ones included, partition column kept. */
  def raw(spark: SparkSession, path: String, schema: StructType,
          part: StructField): DataFrame =
    spark.read.schema(schema.add(part)).parquet(path)

  /** The live rows (tombstones masked), partition column dropped. */
  def frame(spark: SparkSession, path: String, schema: StructType,
            part: StructField): DataFrame =
    Tombstones.mask(spark, path, raw(spark, path, schema, part), schema)
      .drop(part.name)

  /** A row's partition value: [[predValue]] for [[Pred]], the
    * predicate id `p` for [[Pid]]. */
  private def partValue(part: StructField): Column =
    if (part == Pred) predValue else col("p")

  /** Write `rows` partitioned by `part` (`mode` "overwrite" saves a
    * store, "append" adds to one). */
  def write(rows: DataFrame, path: String, part: StructField,
            mode: String = "overwrite"): Unit =
    rows.withColumn(part.name, partValue(part))
      .write.mode(mode).partitionBy(part.name).parquet(path)

  /** Tombstone `rows` (their `schema` columns are the keys) with the
    * partition value that lets compaction prune. Nothing in the store
    * is rewritten. */
  def delete(rows: DataFrame, path: String, schema: StructType,
             part: StructField): Unit =
    Tombstones.append(
      rows.select(schema.fieldNames.map(col) :+ partValue(part).as(part.name): _*),
      path, keyCols = schema.fieldNames.toSeq)

  /** Tombstone every live row whose `s` is in `subjects`: one masked
    * scan of the store. */
  def deleteSubjects(spark: SparkSession, path: String, schema: StructType,
                     part: StructField, subjects: DataFrame): Unit =
    delete(frame(spark, path, schema, part)
      .join(subjects.select("s"), Seq("s"), "left_semi"), path, schema, part)

  /** The live rows plus a slice per partition that `names` names;
    * `names` gets every non-empty partition value (a `String` for
    * [[Pred]], a `Long` for [[Pid]]). */
  def load[K](spark: SparkSession, path: String, schema: StructType,
              part: StructField)(names: Seq[K] => Map[K, String]): Loaded = {
    val rows = raw(spark, path, schema, part)
    val live = Tombstones.mask(spark, path, rows, schema)
    val bytes = partitionBytes[K](rows, part)
    val named = names(bytes.keys.toSeq)
    Loaded(live.drop(part.name),
      named.map { case (v, name) =>
        name -> live.where(col(part.name) === lit(v)).drop(part.name) },
      named.map { case (v, name) => name -> bytes(v) })
  }

  /** Data-file bytes per partition value, from the file index of
    * `df`'s analyzed plan — the relation every frame derived from `df`
    * scans. */
  private def partitionBytes[K](df: DataFrame, part: StructField): Map[K, Long] = {
    val plan = df.queryExecution.analyzed
    val index = plan.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.getOrElse(throw new IllegalStateException(
      s"not a file-source read: $plan"))
    index.listFiles(Nil, Nil).iterator
      .filter(_.files.nonEmpty)
      .map(d => CatalystTypeConverters.convertToScala(
          d.values.get(0, part.dataType), part.dataType).asInstanceOf[K] ->
        d.files.map(_.getLen).sum)
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
  }
}
