package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Shared tombstone + partition-pruned-compaction machinery for every
  * durable relation: the stores ([[TripleDb]], [[QuadDb]], [[DictDb]])
  * and the minhash and IVF-PQ indexes
  * ([[graft.ops.Dedup.minhashIndexCompact]],
  * [[graft.ops.Similarity.ivfPqCompactIndex]]). One GDPR contract: a
  * delete appends a tiny tombstone file set (nothing in the relation is
  * rewritten), loads mask tombstoned rows, and compaction ([[compactAt]],
  * the one body all of them share) physically rewrites ONLY the parquet
  * files that hold at least one deleted row. Untouched partition
  * directories — and untouched files inside affected partitions — are
  * never read-modified-written, so at 100 TB a takedown costs the
  * affected tenant's files, not the corpus.
  *
  * A compaction whose move fails leaves `<root>/_compact_staging` as the
  * only copy of the affected files' live rows; compaction refuses to
  * start while that directory exists.
  *
  * The tombstone set lives in an underscore-prefixed subdir of the
  * store root, invisible to parquet partition discovery, so raw reads
  * of the store directory are unaffected.
  */
private[graft] object Tombstones {
  val Dir = "_tombstones"
  def tombPath(store: String): String = s"$store/$Dir"

  /** Bloom sidecar (SURVEY §8.5.10): a Bloom filter over every
    * tombstone key, rebuilt on each delete (cost tracks the TOMBSTONE
    * set, not the store) and stored as an underscore-prefixed binary
    * INSIDE the tombstone dir — invisible to parquet readers, cleared
    * for free whenever the tombstone set clears. ~1.2 bytes/key at
    * fpp 1%: 100 M deletes ride in ~120 MB where the raw key set is
    * multi-GB. Masked loads use it to keep definitely-clean rows
    * (bloom filters have NO false negatives) out of the anti-join —
    * the join's probe side shrinks from the full store to
    * bloom-positive rows, so the mask stays a scan-side filter even
    * when the tombstone set outgrows a broadcast. */
  private val BloomFile = "_bloom.bin"
  /** Below this tombstone-set size the plain broadcast anti-join is
    * already one scan + an in-memory probe, and the bloom's split scan
    * would cost more than it saves — sidecar kicks in past it.
    * Overridable (tests/Stress pin 0 to force the bloom path). */
  val BloomMinBytesKey = "spark.graft.tombstoneBloom.minBytes"
  private val BloomMinBytesDefault = 32L * 1024 * 1024

  def exist(spark: SparkSession, store: String): Boolean =
    existAt(spark, tombPath(store))

  def existAt(spark: SparkSession, tombDir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(tombDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash recovery for removeKeysAt's rename swap: a crash between
    // its two renames leaves `<tombDir>_old` as the ONLY copy of the
    // set. Without this, a missing dir reads as "no tombstones" and
    // masked loads silently resurrect every deleted fact. Renaming
    // `_old` back restores the pre-operation set (the removal simply
    // never happened — atomic-or-nothing semantics).
    if (!fs.exists(p)) {
      val old = new org.apache.hadoop.fs.Path(tombDir + "_old")
      if (fs.exists(old)) {
        renameOrDie(fs, old, p)
        return true
      }
      return false
    }
    true
  }

  /** Hadoop `FileSystem.rename` signals most failures by returning
    * FALSE, not throwing — an unchecked rename in the tombstone swap
    * silently skips the step and later loads resurrect deleted facts,
    * and one in compaction silently drops a rewritten file's live
    * rows. Every swap and compaction rename goes through this loud
    * wrapper; `state` says what the failure left behind. */
  private def renameOrDie(fs: org.apache.hadoop.fs.FileSystem,
                          src: org.apache.hadoop.fs.Path,
                          dst: org.apache.hadoop.fs.Path,
                          state: String = "the tombstone set was NOT " +
                            "modified"): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(
        s"rename failed: $src -> $dst (filesystem returned false); " +
          s"$state — resolve the target path collision and retry")

  /** Append tombstone rows (whatever key columns the store joins on,
    * plus its partition column for pruned compaction) and refresh the
    * bloom sidecar over `keyCols`. */
  def append(rows: DataFrame, store: String, keyCols: Seq[String]): Unit =
    appendAt(rows, tombPath(store), keyCols)

  def appendAt(rows: DataFrame, tombDir: String,
               keyCols: Seq[String]): Unit = {
    val spark = rows.sparkSession
    // Drop the stale sidecar BEFORE the append lands: if the rebuild
    // below dies (or a concurrent deleter's stale rename were to win a
    // race), masked loads find no bloom — or a fingerprint mismatch —
    // and take the plain anti-join. The failure mode is slower, never
    // a resurrected row.
    deleteBloom(spark, tombDir)
    rows.write.mode("append").parquet(tombDir)
    // Build the sidecar only once the set is big enough for mask to
    // CONSULT it ([[BloomMinBytesKey]] — the same threshold, read from
    // the same conf): below it the mask takes the plain broadcast
    // anti-join regardless, so the two jobs the build costs (count +
    // bloom agg) would produce a file nothing reads. The set grows only
    // through this API, so the append that crosses the threshold builds
    // the covering sidecar. (round-15 optimization; guide §1.2 "don't
    // compute things you throw away")
    if (bloomWorthwhile(spark, tombDir))
      refreshBloom(spark, tombDir, keyCols)
  }

  /** True when the tombstone DATA bytes have reached the mask's bloom
    * activation threshold — the build-vs-skip gate for the sidecar. */
  private def bloomWorthwhile(spark: SparkSession, tombDir: String): Boolean = {
    val minBytes = spark.conf
      .get(BloomMinBytesKey, BloomMinBytesDefault.toString).toLong
    tombBytes(spark, tombDir) >= minBytes
  }

  private def deleteBloom(spark: SparkSession, tombDir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(tombDir, BloomFile)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
  }

  /** Order-independent fingerprint of the tombstone DATA file listing
    * (name + length; underscore/dot files excluded). Stamped into the
    * sidecar header at build time and recomputed on every masked load:
    * a sidecar whose fingerprint does not match the CURRENT tombstone
    * files is never trusted (mask falls back to the plain anti-join).
    * A pure filesystem listing — no data scan at mask time. */
  private def listingFingerprint(spark: SparkSession,
                                 tombDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(tombDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else fs.listStatus(p).iterator
      .filter(st => st.isFile && isDataFile(st.getPath.getName))
      .map { st =>
        val h = scala.util.hashing.MurmurHash3
          .stringHash(s"${st.getPath.getName}:${st.getLen}")
        h.toLong * 0x9E3779B97F4A7C15L // spread sign-extended ints
      }.sum // commutative: listing order never matters
  }

  private def isDataFile(name: String): Boolean =
    !name.startsWith("_") && !name.startsWith(".")

  /** Sidecar layout: magic int, listing fingerprint long, bloom bytes. */
  private val BloomMagic = 0x47424631 // "GBF1"

  /** Rebuild `_bloom.bin` from the FULL tombstone set (append-safe:
    * the sidecar always covers every delete so far). Distributed
    * build via Catalyst's own BloomFilterAggregate, one bounded row
    * out; written staging-then-rename so a concurrent load sees the
    * old sidecar or the new one, never a torn file; stamped with the
    * covered file-listing fingerprint so a stale sidecar (concurrent
    * append, failed refresh) self-invalidates instead of silently
    * missing keys. */
  def refreshBloom(spark: SparkSession, tombDir: String,
                   keyCols: Seq[String], fpp: Double = 0.01): Unit = {
    import org.apache.spark.sql.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    // fingerprint FIRST, read second: a file landing in between makes
    // the stamp stale-looking and the mask falls back — safe direction
    val fp = listingFingerprint(spark, tombDir)
    val tomb = spark.read.parquet(tombDir).select(keyCols.map(col): _*)
    val n = tomb.count()
    if (n == 0) return
    val numBits = math.max(64L, math.ceil(
      -n * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // BloomFilterAggregate silently clamps BOTH knobs at eval time:
    // numBits to the runtime-filter bit ceiling (8 MB default) and
    // estimatedNumItems to maxNumItems (4 M default). A bit-clamped
    // filter degrades fpp toward 1; an item-clamped one derives its
    // hash count from the clamped n against honest bits (~166 probes
    // per row at 100 M keys). Raise both to the honest sizing for the
    // build, then restore so unrelated runtime-filter plans in the
    // session keep their defaults.
    val maxBitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val maxItemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val prevBits = spark.conf.getOption(maxBitsKey)
    val prevItems = spark.conf.getOption(maxItemsKey)
    val bin = try {
      if (spark.conf.get(maxBitsKey, "67108864").toLong < numBits)
        spark.conf.set(maxBitsKey, numBits.toString)
      if (spark.conf.get(maxItemsKey, "4000000").toLong < n)
        spark.conf.set(maxItemsKey, n.toString)
      val bloomAgg = GraftSqlBridge.column(new BloomFilterAggregate(
        GraftSqlBridge.expression(xxhash64(keyCols.map(col): _*)),
        Literal(n), Literal(numBits)).toAggregateExpression())
      tomb.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    } finally {
      restoreConf(spark, maxBitsKey, prevBits)
      restoreConf(spark, maxItemsKey, prevItems)
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(tombDir)
    val fs = dir.getFileSystem(hconf)
    val tmp = new org.apache.hadoop.fs.Path(dir, BloomFile + ".tmp")
    val dst = new org.apache.hadoop.fs.Path(dir, BloomFile)
    val out = fs.create(tmp, true)
    try {
      val head = java.nio.ByteBuffer.allocate(12)
      head.putInt(BloomMagic).putLong(fp)
      out.write(head.array())
      out.write(bin)
    } finally out.close()
    fs.delete(dst, false)
    fs.rename(tmp, dst)
  }

  private def restoreConf(spark: SparkSession, key: String,
                          prev: Option[String]): Unit = prev match {
    case Some(v) => spark.conf.set(key, v)
    case None    => spark.conf.unset(key)
  }

  /** The sidecar bytes — ONLY if its stamped fingerprint matches the
    * current tombstone file listing. Missing, torn, pre-header, or
    * stale sidecars all return None and the mask takes the anti-join
    * path: false positives cost time, never correctness. */
  private def readBloom(spark: SparkSession,
                        tombDir: String): Option[Array[Byte]] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(tombDir, BloomFile)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val len = fs.getFileStatus(p).getLen.toInt
        val buf = new Array[Byte](len)
        in.readFully(0, buf)
        if (len <= 12) None
        else {
          val head = java.nio.ByteBuffer.wrap(buf, 0, 12)
          val magic = head.getInt()
          val fp = head.getLong()
          if (magic != BloomMagic ||
              fp != listingFingerprint(spark, tombDir)) None
          else Some(java.util.Arrays.copyOfRange(buf, 12, len))
        }
      } finally in.close()
    }
  }

  /** Tombstone DATA bytes (the sidecar and markers like _SUCCESS do
    * not count toward the bloom-activation threshold). */
  private def tombBytes(spark: SparkSession, tombDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(tombDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).iterator
      .filter(st => st.isFile && isDataFile(st.getPath.getName))
      .map(_.getLen).sum
  }

  /** The store's rows minus tombstoned ones — the identity when no
    * tombstones exist; a broadcast-able left_anti on the key columns
    * for small tombstone sets; past [[BloomMinBytesKey]] the bloom
    * sidecar splits the scan so only bloom-positive rows (actual
    * deletes + fpp) enter the anti-join and the definitely-clean bulk
    * of the store passes as a codegen'd scan-side filter — no
    * broadcast of a huge key set, no store-wide shuffle. The two
    * shapes are row-identical (no false negatives; positives are
    * exactly verified by the join).
    *
    * `keys` is the tombstone key schema, the columns the deletes
    * wrote: the tombstone set is read with it (no schema-inference
    * job) and anti-joined on its field names. */
  def mask(spark: SparkSession, store: String, df: DataFrame,
           keys: StructType): DataFrame =
    maskAt(spark, tombPath(store), df, keys)

  def maskAt(spark: SparkSession, tombDir: String, df: DataFrame,
             keys: StructType): DataFrame = {
    if (!existAt(spark, tombDir)) return df
    val keyCols = keys.fieldNames.toSeq
    val tomb = spark.read.schema(keys).parquet(tombDir)
    val minBytes = spark.conf
      .get(BloomMinBytesKey, BloomMinBytesDefault.toString).toLong
    val bloom =
      if (tombBytes(spark, tombDir) >= minBytes) readBloom(spark, tombDir)
      else None
    bloom match {
      case Some(bin) =>
        import org.apache.spark.sql.GraftSqlBridge
        import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
        import org.apache.spark.sql.types.BinaryType
        val maybe = GraftSqlBridge.column(BloomFilterMightContain(
          Literal(bin, BinaryType),
          GraftSqlBridge.expression(xxhash64(keyCols.map(col): _*))))
        df.where(!maybe).unionByName(
          df.where(maybe).join(tomb, keyCols, "left_anti"))
      case None =>
        df.join(tomb, keyCols, "left_anti")
    }
  }

  /** Remove the given KEYS from the tombstone set — the resurrection
    * primitive query-driven INSERT needs: re-asserting a fact whose
    * physical row is still in the store (deleted but not compacted)
    * must clear its tombstone, or the mask would keep the "new" fact
    * dead. Staging-then-swap rewrite of the TOMBSTONE set only (cost
    * tracks deletes, never the store); an emptied set deletes the
    * whole tombstone dir (loads skip the mask entirely); the bloom
    * sidecar rebuilds over the survivors.
    *
    * Swap is VIA RENAME, never delete-then-rename: the old set moves
    * aside to `<tombDir>_old`, staging renames into place, and only
    * then does the old dir delete — so the window in which a crash
    * could leave NO tombstone dir (which masked loads would read as
    * "no tombstones", resurrecting every deleted fact) is bounded by
    * the swap renames — and [[existAt]] repairs it automatically: a
    * missing dir with `_old` present renames `_old` back before any
    * read, so a crash mid-swap costs only the un-applied removal,
    * never a resurrection. Renames are checked ([[renameOrDie]] —
    * Hadoop signals failure by returning false, not throwing). A
    * leftover `_old` NEXT TO a live dir is a post-swap crash artifact
    * (the live dir is authoritative) and is cleared up front. */
  def removeKeysAt(spark: SparkSession, tombDir: String,
                   keys: DataFrame, keyCols: Seq[String]): Unit = {
    if (!existAt(spark, tombDir)) return
    val hconf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(tombDir)
    val fs = dir.getFileSystem(hconf)
    val keySet = keys.select(keyCols.map(col): _*).dropDuplicates(keyCols)
    // existence precheck: when NO key is actually tombstoned (the
    // common INSERT — brand-new facts), skip the set rewrite AND the
    // bloom rebuild entirely (one limit-1 probe vs three write jobs)
    if (spark.read.parquet(tombDir).join(keySet, keyCols, "left_semi")
        .limit(1).isEmpty) return
    val remaining = spark.read.parquet(tombDir)
      .join(keySet, keyCols, "left_anti")
    val staging = tombDir + "_staging"
    remaining.write.mode("overwrite").parquet(staging)
    val stagingPath = new org.apache.hadoop.fs.Path(staging)
    val n = spark.read.parquet(staging).count()
    val oldPath = new org.apache.hadoop.fs.Path(tombDir + "_old")
    // a leftover `_old` alongside a LIVE dir is a prior crash's
    // post-swap artifact (the live dir is authoritative) — clear it;
    // the dir-missing case is repaired by existAt on entry above
    fs.delete(oldPath, true)
    renameOrDie(fs, dir, oldPath)
    if (n == 0) fs.delete(stagingPath, true) // empty set = no tombstones
    else {
      renameOrDie(fs, stagingPath, dir)
      // same activation gate as [[appendAt]]: a survivor set below the
      // mask's bloom threshold never has its sidecar consulted
      if (bloomWorthwhile(spark, tombDir))
        refreshBloom(spark, tombDir, keyCols)
    }
    fs.delete(oldPath, true)
    spark.catalog.refreshByPath(tombDir)
  }

  /** Physically drop tombstoned rows from a `partitionBy(part)` store
    * whose rows are `schema` (its key columns), through [[compactAt]].
    * The tombstone rows carry the partition value, so only the
    * partitions they name are scanned. The store is read with its known
    * schema ([[PartitionedStore.raw]]), so a rewritten partition keeps
    * its exact name — an inferred `pred` would turn `007` into `7`.
    */
  def compactPartitioned(spark: SparkSession, store: String,
                         schema: StructType, part: StructField): Unit =
    compactAt(spark, tombPath(store), schema.add(part),
      Seq(store -> Some(part.name)))(PartitionedStore.raw(spark, _, schema, part))

  /** Where a compaction stages the survivors of a relation's rewritten
    * files, under the relation root. */
  private def stagingPath(root: String) =
    new org.apache.hadoop.fs.Path(root, "_compact_staging")

  /** The one compaction of every durable relation: the stores, the
    * minhash index and the IVF-PQ codes and raw sidecar. It drops the
    * rows whose keys are in the tombstone set at `tombDir`, from each
    * of `relations` (a root and its partition column, if any), then
    * clears that set.
    *
    * `keys` is the tombstone set's schema. A field that names a
    * relation's partition column prunes: only the partitions the
    * tombstone rows name are scanned. The other fields are the keys.
    * `read` reads a relation's rows, partition column included, from
    * its root. A relation whose root does not exist is skipped.
    *
    * Per relation, only the files holding a tombstoned key are
    * rewritten. Their survivors are written to `<root>/_compact_staging`,
    * the originals are deleted, and the staged files move into the
    * same partitions. A partition left with no data file is removed.
    *
    * A failed move throws ([[renameOrDie]]) and keeps the staging
    * directory and the tombstone set. The affected originals are gone
    * by then, so the staging directory holds the only copy of their
    * live rows. Compaction therefore refuses to start while any
    * relation's staging directory exists: it throws and keeps the
    * tombstones, rather than overwrite or orphan those rows.
    */
  def compactAt(spark: SparkSession, tombDir: String, keys: StructType,
                relations: Seq[(String, Option[String])])
               (read: String => DataFrame): Unit = {
    if (!existAt(spark, tombDir)) return
    val fs = new org.apache.hadoop.fs.Path(tombDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present =
      relations.filter(r => fs.exists(new org.apache.hadoop.fs.Path(r._1)))
    present.map(r => stagingPath(r._1)).find(fs.exists).foreach { p =>
      throw new java.io.IOException(
        s"$p exists: a failed compaction left it, and it may hold the " +
          "only copy of live rows — move its data files into the " +
          "relation and delete it before compacting; the tombstone set " +
          "is kept")
    }
    val tomb = spark.read.schema(keys).parquet(tombDir)
    present.foreach { case (root, part) =>
      rewriteAffected(fs, root, part, read(root), tomb)
    }
    fs.delete(new org.apache.hadoop.fs.Path(tombDir), true)
    // files were replaced in place — drop cached listings so open
    // sessions re-list instead of chasing deleted part files
    present.foreach(r => spark.catalog.refreshByPath(r._1))
    spark.catalog.refreshByPath(tombDir)
  }

  /** [[compactAt]]'s per-relation step: rewrite the files of `all`
    * (the relation at `root`) that hold a key of `tomb`. */
  private def rewriteAffected(fs: org.apache.hadoop.fs.FileSystem,
                              root: String, part: Option[String],
                              all: DataFrame, tomb: DataFrame): Unit = {
    val pruneCol = part.filter(tomb.columns.contains)
    val keyCols = tomb.columns.toSeq.filterNot(pruneCol.contains)
    val keys = tomb.select(keyCols.map(col): _*)
    // bounded by the relation's partition count
    val rows = pruneCol.fold(all) { p =>
      all.where(col(p).isin(
        tomb.select(p).distinct().collect().map(_.get(0)).toIndexedSeq: _*))
    }
    // file list bounded by the scanned partitions' file count
    val affected = rows.withColumn("_f", input_file_name())
      .join(keys, keyCols).select("_f").distinct()
      .collect().map(_.getString(0))
    if (affected.isEmpty) return
    val staging = stagingPath(root)
    // re-read through the root and filter to the affected files by the
    // SAME input_file_name() strings the listing produced — feeding
    // those URI-encoded strings back into spark.read.parquet would
    // mis-resolve partition values that needed escaping (a pred lex
    // containing '/' lands on disk as pred=...%2F... and in the URI as
    // %252F); string-equality against the same function cannot
    val survivors = rows.where(input_file_name().isInCollection(affected.toSet))
      .join(keys, keyCols, "left_anti").write
    part.fold(survivors)(survivors.partitionBy(_)).parquet(staging.toString)
    val affectedPaths =
      affected.map(f => new org.apache.hadoop.fs.Path(new java.net.URI(f)))
    affectedPaths.foreach(fs.delete(_, false))
    def moveIn(from: org.apache.hadoop.fs.Path,
               to: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(from).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && isDataFile(name)) { // a partition
          val dest = new org.apache.hadoop.fs.Path(to, name)
          fs.mkdirs(dest)
          moveIn(st.getPath, dest)
        } else if (name.endsWith(".parquet"))
          renameOrDie(fs, st.getPath, new org.apache.hadoop.fs.Path(to, name),
            s"the rewritten rows not yet moved are in $staging and the " +
              "tombstone set is kept")
      }
    moveIn(staging, new org.apache.hadoop.fs.Path(root))
    if (part.isDefined)
      affectedPaths.map(_.getParent).distinct.foreach { dir =>
        if (!fs.listStatus(dir).exists(st =>
            st.isFile && isDataFile(st.getPath.getName)))
          fs.delete(dir, true)
      }
    fs.delete(staging, true)
  }
}
