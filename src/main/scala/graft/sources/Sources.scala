package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface (SURVEY §2.1 sinks note: the reference emits only
  * HTTP/JSON responses and CSV-ish text lines — server.py:105-111,
  * client.py:214-216). Spark-first: parquet is the system-of-record format
  * (columnar, pushdown, splittable); JSONL and CSV are interchange formats.
  * These helpers pin the options that make round-trips loss-free.
  */
object Sources {

  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }
  def readParquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** JSONL (one JSON object per line) — the reference's response shape as a
    * distributed sink. Timestamps kept ISO-8601 so re-ingest is lossless. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(path)
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(path)

  /** CSV with header; explicit schema on read (never inferSchema in
    * production — one pass saved, types exact). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").csv(path)
  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX").csv(path)

  /** S7-style dump: rows as JSON strings (the reference's /dump payload). */
  def toJsonStrings(df: DataFrame): DataFrame = df.toJSON.toDF("json")

  /** Morton/Z-value: bit-interleave of the low `bits` bits of two
    * non-negative longs (x's bit i → position 2i, y's → 2i+1). The fold
    * unrolls to 2·bits static shift/and/or ops at planning time — pure
    * whole-stage codegen, no UDF, no per-row loop object. */
  def zValue(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
             bits: Int = 12): org.apache.spark.sql.Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31]: $bits")
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    val xl = x.cast("long"); val yl = y.cast("long")
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      acc.bitwiseOR(shiftleft(shiftright(xl, i).bitwiseAND(lit(1L)), 2 * i))
        .bitwiseOR(shiftleft(shiftright(yl, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }
  }

  /** Z-ORDER the table on two numeric columns and write it — the
    * multi-dimensional clustering that makes parquet min/max skipping work
    * for BOTH columns at once (Delta's OPTIMIZE ZORDER, re-expressed):
    * a sort on (a) gives perfect pruning on a and none on b; the Z-curve
    * gives ~sqrt-fraction file hit rates on either dimension, which at
    * 100 TB is the difference between scanning everything and scanning a
    * corner. Each dimension is min-max scaled to `bits` bits (one tiny
    * agg — 1 driver row), interleaved with [[zValue]], range-partitioned
    * into `files` globally ordered buckets, and sorted within each.
    * Layout-only: rows and schema are untouched (the z column is dropped
    * before writing); read back with plain `spark.read.parquet`.
    *
    * Scaling uses double arithmetic — fine for a LAYOUT decision (bucket
    * boundaries need not be exact), and immune to (max-min)·(2^bits-1)
    * long overflow. Degenerate dimensions (min = max) scale to 0. */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    bits: Int = 12, files: Int = 0): Unit = {
    import org.apache.spark.sql.functions.{col, lit, max, min, least, floor}
    val spark = df.sparkSession
    val n = if (files > 0) files else math.max(1, spark.sparkContext.defaultParallelism)
    val Array(bounds) = df.agg(
      min(col(colA).cast("double")).as("na"), max(col(colA).cast("double")).as("xa"),
      min(col(colB).cast("double")).as("nb"), max(col(colB).cast("double")).as("xb"))
      .collect()
    // an empty frame (or all-null dims) has no bounds to scale against —
    // write it as-is instead of dying on a null min with an opaque NPE
    if (bounds.isNullAt(0) || bounds.isNullAt(2)) {
      df.write.mode(SaveMode.Overwrite).parquet(path)
      return
    }
    val top = (1L << bits) - 1
    def scaled(c: String, lo: Double, hi: Double) =
      if (hi <= lo) lit(0L)
      else least(floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * top)
        .cast("long"), lit(top))
    val z = zValue(
      scaled(colA, bounds.getDouble(0), bounds.getDouble(1)),
      scaled(colB, bounds.getDouble(2), bounds.getDouble(3)), bits)
    df.withColumn("graft_z", z)
      .repartitionByRange(n, col("graft_z"))
      .sortWithinPartitions("graft_z")
      .drop("graft_z")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }

  /** Recover a stranded swap: a crash between [[swapDir]]'s two renames
    * leaves no live dir at `path` and the previous contents at
    * `<path>.compact.old` — rename them back so readers see the
    * pre-compaction state (the rewrite is then simply redone). */
  private[graft] def recoverSwap(fs: org.apache.hadoop.fs.FileSystem, path: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val old = new org.apache.hadoop.fs.Path(path + ".compact.old")
    if (!fs.exists(hp) && fs.exists(old))
      require(fs.rename(old, hp), s"auto-recovery rename failed: $old -> $path")
  }

  /** Crash-safe replace-by-swap for a directory: `write` produces the new
    * contents at `<path>.compact.tmp` (and is the place to verify them —
    * throw to abort with the original untouched), then two renames swap it
    * in. A crash before the first rename leaves the original untouched; a
    * crash between the renames strands `<path>.compact.old`, which the
    * NEXT invocation auto-recovers by renaming it back before rewriting.
    *
    * Atomicity caveat: the protocol assumes directory rename is atomic —
    * true on HDFS and POSIX filesystems, NOT on object stores (S3 "rename"
    * is copy+delete). On an object store, run the swap against a
    * rename-atomic metadata layer (or a table format with atomic commit)
    * instead. */
  def swapDir(spark: SparkSession, path: String)(write: String => Unit): Unit = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, path)
    val tmp = new org.apache.hadoop.fs.Path(path + ".compact.tmp")
    val old = new org.apache.hadoop.fs.Path(path + ".compact.old")
    fs.delete(tmp, true); fs.delete(old, true)
    write(tmp.toString)
    if (fs.exists(hp)) require(fs.rename(hp, old), s"swap failed: $path -> $old")
    require(fs.rename(tmp, hp), s"swap failed: $tmp -> $path")
    fs.delete(old, true)
  }

  /** Small-file compaction for append-accumulating parquet dirs (the
    * flat-append streaming sinks — ingestKv, maintainJoin — land one
    * file set per micro-batch; a long-running stream accumulates
    * thousands; the `batch=<id>`-directory sinks like snapshotDiffStream
    * are hive-partitioned and must compact per batch subdirectory — the
    * guard below rejects the parent). Rewrites the directory into
    * `ceil(totalBytes / targetBytes)` files via [[swapDir]]'s crash-safe
    * swap (write tmp → verify row count → two renames, stranded-swap
    * auto-recovery, object-store caveat there). Content-preserving only
    * for UNPARTITIONED dirs (partition columns would be dropped on
    * rewrite — rejected up front).
    *
    * MUST run while the writing stream is STOPPED (the same contract as
    * the per-batch store compactions in [[graft.streaming.Streams]]): the
    * rewrite snapshots the file listing, so a micro-batch appended
    * mid-compaction would be dropped by the swap. The crash-safety protocol protects against
    * failures, not concurrent writers. */
  def compactParquet(spark: SparkSession, path: String,
                     targetBytes: Long = 128L << 20): Unit = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverSwap(fs, path)
    require(fs.exists(hp), s"no such dir: $path")
    require(!fs.listStatus(hp).exists(st =>
      st.isDirectory && st.getPath.getName.contains("=")),
      s"$path is hive-partitioned — compact each partition dir instead")
    val bytes = fs.getContentSummary(hp).getLength
    val files = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(path)
    val expected = df.count()
    swapDir(spark, path) { tmp =>
      df.coalesce(files).write.mode(SaveMode.Overwrite).parquet(tmp)
      require(spark.read.parquet(tmp).count() == expected,
        "compaction row-count mismatch — original left untouched")
    }
  }

  /** Token-balanced training shards — the last mile of the cleaning
    * pipeline (clean → pack → SHARD → train): documents land in
    * `shard=<k>/` directories of ~`tokensPerShard` tokens each, contiguous
    * in id order (the concat-and-chunk layout [[graft.llm.Packing]]
    * computes, one directory per chunk). A data loader then streams shards
    * independently with no skew: every shard holds the same token mass to
    * within one straddling document.
    *
    * Plan: packChunks' distributed prefix sum (no global sort), one
    * id-keyed shuffle join to attach shard ids, one shard-keyed shuffle so
    * each output directory is written by the tasks that own it. Returns
    * the manifest (shard, n_docs, n_tokens) — tiny, one row per shard. */
  def writeShards(df: DataFrame, textCol: String, idCol: String,
                  path: String, tokensPerShard: Long): DataFrame = {
    import org.apache.spark.sql.functions._
    require(!df.columns.contains("shard"),
      "input already has a shard column — rename it before sharding")
    val chunks = graft.llm.Packing.packChunks(df, textCol, idCol, tokensPerShard)
      .withColumnRenamed("chunk_id", "shard")
    df.join(chunks.select(col(idCol), col("shard")), idCol)
      .repartition(col("shard"))
      .sortWithinPartitions(idCol)
      .write.mode(SaveMode.Overwrite).partitionBy("shard").parquet(path)
    chunks.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
  }
}
