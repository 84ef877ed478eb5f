package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Structured-Streaming surface (SURVEY §2.7).
  *
  * The reference's two stream-shaped behaviors — continuous ingest with
  * synchronous index/materialized-join maintenance (server.py:781-894) and
  * nothing else — map to:
  *   1. `maintainJoin`: foreachBatch incremental maintenance of a CREATE
  *      JOIN view (J5/M3) — each micro-batch joins only its delta against
  *      the dimension and appends, so view freshness tracks ingest without
  *      recomputing history.
  *   2. windowed / sessionized aggregation as new capability: the same
  *      groupBy(window(...)) plan TimeSuite checks in batch runs
  *      incrementally here with watermark-bounded state.
  *
  * PER-BATCH STORES. Every store kept fresh here without streaming state
  * — the near-dup signature stores, the decontamination and snapshot-diff
  * outputs, and the summary stores (aggregate, sketch, Count-Min, OHLC,
  * histogram, heavy-hitter, data-card partials) — follows one protocol,
  * implemented once below:
  *   - Sink: micro-batch `id` OVERWRITES `<store>/batch=<id>`, so a batch
  *     replayed after a crash rewrites its own directory instead of
  *     appending duplicates; readers see a table partitioned by `batch`.
  *   - Seed: negative ids are seeds, clear of the stream's ids (which
  *     start at 0). The `seed*Store` writers and every compaction write
  *     `batch=-1`; stores compacted by older versions may hold `batch=-2`,
  *     `-3`, … and still read as seeds.
  *   - Watermark: a compaction records the highest batch id it folded in
  *     `<store>/_folded_through`, and readers skip ids at or below it, so
  *     a batch replayed after the compaction is not counted twice. Batch
  *     ids must stay monotonic: once a store has been compacted, keep the
  *     stream's checkpoint across restarts (a reset restarts ids at 0) or
  *     start a fresh store.
  *   - Compaction: run while the stream is STOPPED (a concurrent batch
  *     could be dropped by the swap). The live rows are rewritten into one
  *     `batch=-1` seed plus the marker and swapped in through
  *     [[graft.sources.Sources.swapDir]]: a crash leaves either the old
  *     store or the new one, and a crash between the swap's two renames is
  *     recovered by the next read or compaction of the store.
  *
  * Everything takes plain DataFrames, so MemoryStream drives the tests and
  * `readStream.parquet` drives production — the plans are identical.
  */
object Streams {

  /** Tumbling-window counts with watermarking: state is bounded by
    * (watermark horizon / slide) per key — safe at any ingest rate. */
  def windowedCounts(events: DataFrame, tsCol: String, windowLen: String,
                     watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowLen), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  final case class SessionEvent(user_id: Long, ts_millis: Long)
  final case class SessionOut(user_id: Long, n_events: Int,
                              start_millis: Long, end_millis: Long)

  /** Gap-based sessionization via flatMapGroupsWithState — the custom-state
    * shape (KeyValueGroupedDataset) the reference has no analog for.
    *
    * State per key is one open (count, start, end) triple. A session is
    * EMITTED when it closes: either a new event lands more than `gapMillis`
    * after the session's end (gap rollover), or the event-time watermark
    * passes end + gap (EventTimeTimeout) — at which point the key's state is
    * removed, so state size is bounded by the number of keys *active within
    * one gap of the watermark*, not total key cardinality. */
  def sessionize(events: Dataset[SessionEvent], gapMillis: Long): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withColumn("__ts", timestamp_millis(col("ts_millis")))
      .withWatermark("__ts", s"$gapMillis milliseconds")
      .as[SessionEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[(Int, Long, Long), SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state: GroupState[(Int, Long, Long)]) =>
          if (state.hasTimedOut) {
            val (n, s0, e0) = state.get
            state.remove()
            Iterator.single(SessionOut(uid, n, s0, e0))
          } else {
            val closed = Seq.newBuilder[SessionOut]
            var st = state.getOption
            it.toSeq.sortBy(_.ts_millis).foreach { e =>
              st = st match {
                case Some((n, s0, e0)) if e.ts_millis - e0 > gapMillis =>
                  closed += SessionOut(uid, n, s0, e0)
                  Some((1, e.ts_millis, e.ts_millis))
                case Some((n, s0, e0)) =>
                  Some((n + 1, math.min(s0, e.ts_millis), math.max(e0, e.ts_millis)))
                case None =>
                  Some((1, e.ts_millis, e.ts_millis))
              }
            }
            st.foreach { case s @ (_, _, end) =>
              state.update(s)
              // timeout must stay ahead of the current watermark
              state.setTimeoutTimestamp(
                math.max(end + gapMillis, state.getCurrentWatermarkMs() + 1))
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming exact dedup — the ingest-time twin of Dedup.exactByHash:
    * keeps the first row per key (e.g. a content hash computed upstream in
    * the select) and drops later duplicates. dropDuplicatesWithinWatermark
    * bounds the dedup state to the watermark horizon, so state is
    * O(distinct keys per horizon), not O(all keys ever) — the property that
    * makes ingest-dedup runnable forever at 100 TB/day. Exactness holds for
    * duplicates arriving within the horizon; cross-horizon dups need the
    * batch pass (Dedup.exactByHash) downstream. */
  def dedupStream(events: DataFrame, keyCols: Seq[String], tsCol: String,
                  watermark: String): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Watermarked STREAM-STREAM interval join — the attribution shape
    * (purchase within `horizonMillis` after a same-key click), the batch
    * twin of q_interval_join running incrementally. Inner join on
    * key equality plus the time-range predicate; both sides carry event
    * -time watermarks, and Spark derives each side's state eviction bound
    * FROM the range condition (left rows expire once the right watermark
    * passes `leftTs + horizon`; right rows once the left watermark passes
    * `rightTs`) — so state is ingest-rate × horizon on each side, never
    * unbounded, at any key cardinality. Column names must be disjoint
    * across the two sides (rename before calling), as in any
    * self-describing stream-stream join. */
  def intervalJoinStream(left: DataFrame, right: DataFrame,
                         leftKey: String, rightKey: String,
                         leftTs: String, rightTs: String,
                         horizonMillis: Long, watermark: String): DataFrame = {
    require(horizonMillis > 0, s"horizon must be positive: $horizonMillis")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, col(leftKey) === col(rightKey) &&
      col(rightTs) >= col(leftTs) &&
      col(rightTs) <= col(leftTs) + expr(s"interval $horizonMillis milliseconds"))
  }

  /** S1 continuous KV ingest (the reference's POST /set write path,
    * server.py:80-103): a stream of (pk, sk, value) rows lands in the
    * pk-bucketed layout incrementally — each micro-batch is hash-bucketed
    * on pk and appended, so the at-rest layout keeps the partition-pruning
    * property of KvStore.writeOptimized without rewriting history. The
    * reference's synchronous index maintenance becomes "derived columns
    * computed in the select before this sink" (e.g. FTS tokens). */
  def ingestKv(kvStream: DataFrame, outPath: String, checkpoint: String,
               buckets: Int = 32): org.apache.spark.sql.streaming.StreamingQuery =
    kvStream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.repartition(buckets, col("pk"))
          .sortWithinPartitions("pk", "sk")
          .write.mode("append").parquet(outPath)
      }
      .start()

  /** J5 materialized-join maintenance: stream ⋈ dimension, appended
    * per micro-batch to a parquet-backed view. The delta-only join is the
    * insert-time reverse probe of the reference (server.py:806-894) —
    * except distributed, idempotent (checkpointed), and broadcast when the
    * dimension is small. */
  def maintainJoin(stream: DataFrame, dim: DataFrame, joinExpr: org.apache.spark.sql.Column,
                   outPath: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    maintainJoinN(stream, Seq(dim -> joinExpr), outPath, checkpoint)

  // ---- the per-batch store protocol (see the object scaladoc) ----

  /** The one sink of the per-batch stores: micro-batch `id` of `stream`
    * overwrite-writes `frame(batch)` to `<path>/batch=<id>`. */
  private def batchSink(stream: DataFrame, path: String, checkpoint: String)(
      frame: DataFrame => DataFrame): StreamingQuery =
    releasingBatchSink(stream, path, checkpoint)(batch => (frame(batch), () => ()))

  /** [[batchSink]] for a frame built on cached inputs: `frame` also
    * returns their release, run once the batch's write is done. */
  private def releasingBatchSink(stream: DataFrame, path: String, checkpoint: String)(
      frame: DataFrame => (DataFrame, () => Unit)): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val (out, release) = frame(batch)
        out.write.mode("overwrite").parquet(s"$path/batch=$batchId")
        release()
      }
      .start()

  /** The one reader of the per-batch stores: first recovers a stranded
    * [[graft.sources.Sources.swapDir]] swap (a compaction that crashed
    * between its two renames leaves only `<path>.compact.old`), then
    * returns the live rows, `batch` column included — every seed (any
    * negative id) and every batch above the `_folded_through` watermark.
    * None when no store exists yet. */
  private def readStore(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.Sources.recoverSwap(fs, path)
    if (!fs.exists(p)) None
    else {
      val w = foldedThrough(fs, p)
      Some(spark.read.parquet(path).filter(col("batch") < 0 || col("batch") > w))
    }
  }

  /** [[readStore]] for the folds, which need a store to fold. */
  private def liveRows(spark: SparkSession, path: String): DataFrame =
    readStore(spark, path).getOrElse(
      throw new IllegalArgumentException(s"no per-batch store at $path"))

  /** The highest batch id already folded into the store's seed; -1 when
    * the store was never compacted. The marker is underscore-prefixed, so
    * parquet reads skip it, and it lives inside the store dir, so the swap
    * moves it together with the seed it describes. */
  private def foldedThrough(fs: FileSystem, store: Path): Long = {
    val p = new Path(store, "_folded_through")
    if (!fs.exists(p)) -1L
    else {
      val in = fs.open(p)
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        UTF_8).trim.toLong
      finally in.close()
    }
  }

  /** The one compaction of the per-batch stores; run it while the stream
    * is stopped. Writes `seed(live rows)` as the single `batch=-1` seed,
    * plus a `_folded_through` marker naming the highest batch id folded
    * in, and swaps both in through [[graft.sources.Sources.swapDir]]. A
    * no-op when no store exists. */
  private def compactBatches(spark: SparkSession, path: String)(
      seed: DataFrame => DataFrameWriter[Row]): Unit =
    readStore(spark, path).foreach { live =>
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val through = fs.listStatus(p).iterator.map(_.getPath.getName)
        .filter(_.startsWith("batch=")).map(_.stripPrefix("batch=").toLong)
        .foldLeft(foldedThrough(fs, p))(math.max)
      graft.sources.Sources.swapDir(spark, path) { tmp =>
        seed(live).mode("overwrite").parquet(s"$tmp/batch=-1")
        val out = fs.create(new Path(tmp, "_folded_through"))
        try out.write(through.toString.getBytes(UTF_8))
        finally out.close()
      }
    }

  /** Streaming NEAR-dup ingest — the MinHash-LSH twin of [[dedupStream]]
    * (which is exact-hash only): each micro-batch is first deduplicated
    * within itself (minhashLsh + cluster representatives), then checked
    * against the accumulated signature STORE of everything already
    * admitted; survivors are appended to `outPath` and their signatures to
    * the store.
    *
    * State lives in three per-batch stores, not executor memory:
    *  - `store/bands`: (doc_id, bandHash) partitioned by band — the LSH
    *    index; candidate generation is an equi-join on (band, bandHash).
    *  - `store/shingles`: (doc_id, sh) — shingle-hash sets for exact
    *    jaccard verification of candidates.
    *  - `store/hashes`: (doc_id, h = xxhash64(text)) — exact content
    *    hashes backing the Bloom FRONT GATE: byte-identical re-crawls
    *    (most of any recrawl-heavy stream) are dropped before candidate
    *    generation ever runs, shrinking the band join's input. The gate
    *    is admission-EQUIVALENT: a "might contain" row is exact-confirmed
    *    against the hash store (a broadcast probe of the batch's suspect
    *    hashes — Bloom false positives never drop a genuinely-new doc),
    *    and a byte-identical doc would have been rejected by verification
    *    anyway (jaccard 1 ≥ any threshold). The Bloom filter lives in the
    *    query closure — rebuilt from the store at (re)start with 4×
    *    headroom, folded forward with each admitted batch; saturation
    *    only costs extra exact probes, never correctness.
    * The per-batch JOIN OUTPUT is O(batch × collisions), but each batch
    * SCANS the whole band store (it grows with the admitted corpus, like
    * any dedup index) — run [[compactStore]] periodically between restarts
    * so the candidate join reads co-located buckets instead of thousands
    * of small files.
    *
    * The stores and `outPath` follow the per-batch protocol, so a replayed
    * micro-batch rewrites its own directories. Self-matches (a replayed
    * batch seeing its OWN hashes/signatures already in the store) are
    * excluded by doc id in both the front gate and the candidate join, so
    * the replay re-admits the same rows instead of rejecting everything
    * against itself.
    *
    * Admission policy: a document is rejected iff a verified jaccard ≥
    * threshold pair links it to an already-admitted doc (or to the batch's
    * own representative). Cross-batch recall equals the banding's recall,
    * same as the batch operator. */
  def nearDupIngest(docs: DataFrame, textCol: String, idCol: String,
                    threshold: Double, outPath: String, storePath: String,
                    checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.TextKernels.{minhash_band_hashes, shingle_hashes}
    import graft.llm.Dedup
    val bands = 32; val rowsPerBand = 2
    var bloom: org.apache.spark.util.sketch.BloomFilter = null
    // ONE broadcast of the filter, re-shipped only after a batch mutates
    // it (the predecessor destroyed) — a fresh broadcast per batch would
    // re-ship the whole filter every batch and accumulate driver state
    // over a long-running stream
    var bloomBc: org.apache.spark.broadcast.Broadcast[
      org.apache.spark.util.sketch.BloomFilter] = null
    docs.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val hashesPath = s"$storePath/hashes"
        if (bloom == null)
          bloom = readStore(spark, hashesPath) match {
            // parquet count() is footer metadata — no data scan
            case Some(hist) =>
              hist.stat.bloomFilter("h", math.max(1024L, hist.count() * 4), 0.01)
            case None => org.apache.spark.util.sketch.BloomFilter.create(1L << 20, 0.01)
          }
        if (bloomBc == null) bloomBc = spark.sparkContext.broadcast(bloom)
        // 1. within-batch dedup: keep each near-dup cluster's representative
        //    (bands/rowsPerBand passed explicitly so the within-batch and
        //    cross-batch recall curves cannot drift apart)
        val kept = Dedup.keepRepresentatives(batch, textCol, idCol, threshold,
          bands, rowsPerBand)
        val withH = kept.withColumn("__h", xxhash64(col(textCol))).cache()
        // 2. Bloom front gate: suspects (batch rows the filter might have
        //    seen) are exact-confirmed against the hash store; confirmed
        //    byte-identical re-crawls never reach candidate generation.
        //    Self-matches excluded by id for replay idempotence.
        val fresh = readStore(spark, hashesPath) match {
          case Some(hashes) =>
            val bc = bloomBc
            val mightContain = udf((h: Long) => bc.value.mightContainLong(h))
            val suspects = withH
              .filter(mightContain(col("__h")))
              .select(col("__h").as("h")).distinct()
            val seen = hashes
              .join(broadcast(suspects), Seq("h"), "left_semi")
              .select(col("doc_id").as("__seen_id"), col("h").as("__seen_h"))
              .distinct()
            withH.join(broadcast(seen),
              col("__h") === col("__seen_h") && col(idCol) =!= col("__seen_id"),
              "left_anti")
          case None => withH
        }
        val sh = fresh.select(col(idCol), col(textCol), col("__h"),
          shingle_hashes(col(textCol)).as("sh")).cache()
        sh.count()
        // banding computed ONCE — reused by candidate generation and the
        // store append
        val banded = sh.select(col(idCol),
          posexplode(minhash_band_hashes(col("sh"), bands, rowsPerBand))
            .as(Seq("band", "bandHash")))
        // 3. candidates vs the admitted store: band equi-join, then exact
        //    jaccard verification against stored shingle sets
        val dropIds = readStore(spark, s"$storePath/bands") match {
          case Some(storeBands) =>
            val cand = banded.join(storeBands
                .select(col("doc_id").as("old_id"), col("band"), col("bandHash")),
                Seq("band", "bandHash"))
              .filter(col("old_id") =!= col(idCol)) // replayed batch vs itself
              .select(col(idCol), col("old_id")).distinct()
            val storeSh = liveRows(spark, s"$storePath/shingles")
            cand
              .join(sh.select(col(idCol), col("sh").as("shNew")), idCol)
              .join(storeSh.select(col("doc_id").as("old_id"), col("sh").as("shOld")), "old_id")
              .withColumn("inter", size(array_intersect(col("shNew"), col("shOld"))).cast("double"))
              .withColumn("jaccard", round(col("inter") /
                (size(col("shNew")) + size(col("shOld")) - col("inter")), 4))
              .filter(col("jaccard") >= threshold)
              .select(col(idCol)).distinct()
          case None => kept.limit(0).select(col(idCol))
        }
        val admitted = sh.join(dropIds, Seq(idCol), "left_anti").cache()
        admitted.count()
        // 4. write survivors + their signatures into per-batch directories
        //    (overwrite → an at-least-once replay of this batch is a no-op
        //    rewrite, never a duplicate append)
        admitted.select(col(idCol), col(textCol))
          .write.mode("overwrite").parquet(s"$outPath/batch=$batchId")
        banded.join(admitted.select(col(idCol)), Seq(idCol))
          .select(col(idCol).as("doc_id"), col("band"), col("bandHash"))
          .write.mode("overwrite").partitionBy("band")
          .parquet(s"$storePath/bands/batch=$batchId")
        admitted.select(col(idCol).as("doc_id"), col("sh"))
          .write.mode("overwrite").parquet(s"$storePath/shingles/batch=$batchId")
        admitted.select(col(idCol).as("doc_id"), col("__h").as("h"))
          .write.mode("overwrite").parquet(s"$hashesPath/batch=$batchId")
        // fold the admitted hashes into the in-memory gate (bounded by
        // batch size — the store stays the durable source of truth) and
        // re-broadcast ONLY when the filter actually changed
        val newHashes = admitted.select(col("__h")).distinct().collect()
        if (newHashes.nonEmpty) {
          newHashes.foreach(r => bloom.putLong(r.getLong(0)))
          bloomBc.destroy()
          bloomBc = spark.sparkContext.broadcast(bloom)
        }
        admitted.unpersist()
        sh.unpersist()
        withH.unpersist()
        () // foreachBatch wants Unit; unpersist returns the frame
      }
      .start()
  }

  /** Compact the [[nearDupIngest]] signature store while the stream is
    * stopped: each of its three stores becomes one `batch=-1` seed — the
    * band index re-bucketed on (band, bandHash) so the candidate equi-join
    * reads co-located buckets, the shingle and hash stores coalesced out
    * of their many tiny per-batch files. Admission semantics are unchanged
    * (same rows, different layout) — proven by StreamsSpec. */
  def compactStore(spark: SparkSession, storePath: String, buckets: Int = 32): Unit = {
    compactBatches(spark, s"$storePath/bands")(
      _.select(col("doc_id"), col("band"), col("bandHash"))
        .repartition(buckets, col("band"), col("bandHash"))
        .write.partitionBy("band"))
    for (sub <- Seq("shingles", "hashes"))
      compactBatches(spark, s"$storePath/$sub")(
        _.drop("batch").coalesce(math.max(1, buckets / 4)).write)
  }

  /** Streaming decontamination: drop, from every micro-batch, documents
    * that near-duplicate a STATIC benchmark corpus (jaccard ≥ threshold
    * over 3-gram shingles) — [[graft.llm.Pipeline.decontaminate]] run at
    * ingest, so contaminated documents never reach the corpus at rest
    * instead of being scrubbed out later. The benchmark is an eval-suite
    * table (tiny, static); its signatures recompute per batch inside
    * `crossNearDup` — a few hundred rows of scan-side kernel work, the
    * cost of keeping exactly one implementation of the check. Survivors
    * land in a per-batch store at `outPath`. */
  def decontaminateStream(docs: DataFrame, benchmark: DataFrame,
                          textCol: String, idCol: String, threshold: Double,
                          outPath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    releasingBatchSink(docs, outPath, checkpoint) { batch =>
      // explicit cache lifetime instead of Pipeline.decontaminate's
      // localCheckpoint: a checkpointed frame per micro-batch would pin
      // storage blocks until a driver GC, accumulating over a
      // long-running stream. crossNearDup's pairs are EAGER+CACHED, so
      // the anti-join reads the cache during the write; release after.
      val pairs = graft.llm.Dedup.crossNearDup(
        batch, benchmark, textCol, idCol, threshold)
      val contaminated = pairs.select(col("a").as(idCol)).distinct()
      (batch.join(contaminated, Seq(idCol), "left_anti"), () => pairs.unpersist())
    }

  /** Incremental twin of [[graft.llm.Snapshot.diff]] — the new snapshot
    * (v2) arrives as a STREAM; each micro-batch classifies its documents
    * against the at-rest v1 digest table (added / changed / unchanged) and
    * writes `(id, status)` to a per-batch store at `outPath`.
    * The v1 side is reduced to `(id, digest)` ONCE and cached — each batch
    * joins 16-byte digests, never documents. Removals are only decidable
    * once the stream is complete: [[snapshotDiffRemoved]] anti-joins v1
    * against everything the stream classified.
    *
    * Caller owns the cache lifetime: unpersist the returned digest frame
    * after stopping the query. */
  def snapshotDiffStream(v2: DataFrame, v1: DataFrame, idCol: String,
                         payloadCols: Seq[String], outPath: String,
                         checkpoint: String)
      : (org.apache.spark.sql.streaming.StreamingQuery, DataFrame) = {
    // ONE digest definition, shared with the batch diff (Snapshot.digests)
    val v1d = graft.llm.Snapshot.digests(v1, idCol, payloadCols, "h1").cache()
    val q = batchSink(v2, outPath, checkpoint) { batch =>
      graft.llm.Snapshot.digests(batch, idCol, payloadCols, "h2")
        .join(v1d, Seq(idCol), "left_outer")
        .select(col(idCol),
          when(col("h1").isNull, "added")
            .when(col("h1") === col("h2"), "unchanged")
            .otherwise("changed").as("status"))
    }
    (q, v1d)
  }

  /** End-of-stream removals for [[snapshotDiffStream]]: v1 ids never seen
    * by the stream. Union with the streamed statuses for the full
    * [[graft.llm.Snapshot.diff]] answer. A stream that never delivered a
    * batch means v2 is empty — every v1 id is removed, which is what the
    * no-output guard returns. */
  def snapshotDiffRemoved(spark: SparkSession, v1: DataFrame, idCol: String,
                          outPath: String): DataFrame = {
    val all = v1.select(col(idCol))
    val unseen = readStore(spark, outPath) match {
      case Some(seen) => all.join(seen.select(col(idCol)), Seq(idCol), "left_anti")
      case None => all
    }
    unseen.select(col(idCol), lit("removed").as("status"))
  }

  /** Running data card: each micro-batch stores its per-language PARTIAL
    * aggregates (doc/token counts + fixed-point quality sum — all exact
    * integers, so partials fold without float drift) and
    * [[corpusStatsTotal]] re-aggregates the partials into the current
    * card. The partial store grows by ≤ |languages| rows per batch —
    * compaction-free for any realistic stream lifetime, and the fold is
    * associative so the running card always equals the batch
    * `corpus_stats_by_lang` over everything ingested so far. */
  def corpusStatsStream(docs: DataFrame, textCol: String, outPath: String,
                        checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(docs, outPath, checkpoint) { batch =>
      import graft.llm.TextAnalysis
      batch
        .groupBy(TextAnalysis.langId(col(textCol)).as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col(textCol)).cast("long")).as("n_tokens"),
          sum(round(TextAnalysis.qualityScore(col(textCol)) * 10000, 0)
            .cast("long")).as("quality_fp"))
    }

  /** Fold the partials of [[corpusStatsStream]] into the current
    * per-language card (avg quality = exact fixed-point sum over exact
    * count, one double division at the end — same arithmetic as the batch
    * corpus_stats_by_lang oracle query). */
  def corpusStatsTotal(spark: SparkSession, outPath: String): DataFrame =
    liveRows(spark, outPath)
      .groupBy(col("lang"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        (sum(col("quality_fp")).cast("double") /
          (sum(col("n_docs")) * 10000).cast("double")).as("avg_quality"))

  /** Continuous ANN ingest: each micro-batch of embeddings appends into a
    * persisted IVF index ([[graft.llm.Similarity.appendToIvfIndex]] —
    * assignment against the index's frozen centroids, new files only in
    * the affected `list=` partitions), so vectors become servable by the
    * pruned/distributed probe paths one batch after arrival, with no
    * retraining in the loop. Same caller contracts as the batch append
    * (new ids only — dedup upstream, e.g. [[dedupStream]]; retrain +
    * rebuild on distribution drift). Replay caveat: the append sink is
    * NOT idempotent — a batch replayed after a crash between the write
    * and the checkpoint commit appends twice; dedup on read or compact
    * when exactly-once matters. */
  def maintainIvfIndex(vectors: DataFrame, indexPath: String, checkpoint: String,
                       idCol: String = "vec_id", vecCol: String = "embedding")
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.llm.Similarity.appendToIvfIndex(
          batch.sparkSession, indexPath, batch, idCol, vecCol)
      }
      .start()

  /** One output column of a maintained aggregate view: `fn` in
    * count|sum|min|max (count ignores `column`), `alias` = the output
    * column's name — the registered summary's schema. For avg, store sum
    * AND count and divide at read time (the same decomposition
    * [[graft.matview.MatView]]'s containment route uses — count/sum/min/
    * max are the self-decomposable aggregates, which is exactly what makes
    * partial folding exact). */
  final case class AggSpec(fn: String, column: String, alias: String) {
    require(Set("count", "sum", "min", "max")(fn), s"unsupported fold fn: $fn")
    private[streaming] def partial: org.apache.spark.sql.Column = (fn match {
      case "count" => count(lit(1))
      case "sum" => sum(col(column))
      case "min" => min(col(column))
      case "max" => max(col(column))
    }).as(alias)
    private[streaming] def fold: org.apache.spark.sql.Column = (fn match {
      case "count" | "sum" => sum(col(alias)) // counts fold by summing
      case "min" => min(col(alias))
      case "max" => max(col(alias))
    }).as(alias)
  }

  /** Incremental maintenance for a registered AGGREGATE view (the
    * generalization of [[corpusStatsStream]] to arbitrary count/sum/min/max
    * summaries — VERDICT r5 §2): each micro-batch stores its per-group
    * PARTIAL aggregates in a per-batch store, and [[foldAggregate]]
    * re-aggregates the partials into the CURRENT summary — associative, so
    * the fold always equals the batch re-materialization over everything
    * ingested so far (StreamsSpec equivalence). Feed the folded frame to
    * [[graft.matview.MatView.refreshAggregate]] to keep the routed summary
    * parquet fresh under ingest without recomputing from facts.
    *
    * Contract: INSERT-only maintenance (append streams — min/max cannot
    * retract; the reference's insert-time view maintenance has the same
    * shape, server.py:806-894). No streaming state store — partials are
    * plain files, growing by ≤ |groups in batch| rows per batch;
    * [[compactAggregateStore]] folds them back into one seed when the file
    * count matters. Seed a non-empty table's initial summary with
    * [[seedAggregateStore]] before starting the stream. */
  def maintainAggregate(stream: DataFrame, groupCols: Seq[String],
                        specs: Seq[AggSpec], storePath: String,
                        checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(specs.nonEmpty, "at least one AggSpec")
    require(specs.map(_.alias).distinct.size == specs.size,
      "AggSpec aliases must be distinct")
    batchSink(stream, storePath, checkpoint)(
      _.groupBy(groupCols.map(col): _*)
        .agg(specs.head.partial, specs.tail.map(_.partial): _*))
  }

  /** RETRACTION-aware maintenance (the DELETE/UPDATE half of incremental
    * view maintenance that [[maintainAggregate]]'s INSERT-only contract
    * excludes): the stream carries an op column (+1 insert, −1 retract a
    * previously-inserted row; an UPDATE is a retract+insert pair), and
    * each batch's partial stores SIGNED aggregates — count = Σop,
    * sum = Σ(op·x) — which fold by the same summation as the insert-only
    * store, cancelling retracted rows exactly. min/max are rejected:
    * they cannot retract without the full history (the classic IVM
    * limitation; serve those from facts or recompute). Read with
    * [[foldAggregateRetractive]], which also drops groups whose net
    * count reached zero (all rows retracted ⇒ the group no longer exists
    * in the view, exactly as a batch re-materialization would show). */
  def maintainAggregateRetractive(stream: DataFrame, groupCols: Seq[String],
                                  specs: Seq[AggSpec], opCol: String,
                                  storePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(specs.nonEmpty, "at least one AggSpec")
    require(specs.forall(s => s.fn == "count" || s.fn == "sum"),
      "retraction maintenance supports count/sum (+ avg via the sum/count " +
        "decomposition); min/max cannot retract")
    require(specs.map(_.alias).distinct.size == specs.size,
      "AggSpec aliases must be distinct")
    val signed = specs.map { s =>
      (s.fn match {
        case "count" => sum(col(opCol).cast("long"))
        case "sum" => sum(col(opCol).cast("long") * col(s.column))
      }).as(s.alias)
    }
    batchSink(stream, storePath, checkpoint)(
      _.groupBy(groupCols.map(col): _*).agg(signed.head, signed.tail: _*))
  }

  /** [[foldAggregate]] over a retractive store: groups whose net
    * `countAlias` is ≤ 0 are dropped (fully-retracted groups must vanish
    * like they would in a batch re-materialization — a store maintained
    * only by [[maintainAggregateRetractive]] can never fold below zero
    * for any group unless retractions outnumber the matching inserts,
    * which the +1/−1 contract forbids). */
  def foldAggregateRetractive(spark: SparkSession, storePath: String,
                              groupCols: Seq[String], specs: Seq[AggSpec],
                              countAlias: String): DataFrame = {
    require(specs.exists(_.alias == countAlias),
      s"countAlias $countAlias must name one of the specs")
    foldAggregate(spark, storePath, groupCols, specs)
      .filter(col(countAlias) > 0)
  }

  /** Write an EXISTING summary (the view's initial materialization over
    * pre-stream facts) into the partial store as the `batch=-1` seed —
    * counts fold by summing, so a seed is just one more partial. */
  def seedAggregateStore(summary: DataFrame, storePath: String): Unit =
    summary.write.mode("overwrite").parquet(s"$storePath/batch=-1")

  /** Fold the live partials of [[maintainAggregate]] into the current
    * summary: count→Σcounts, sum→Σsums, min/max→min/max — column names and
    * order match (groupCols ++ aliases), so the result is drop-in for the
    * registered summary's schema. */
  def foldAggregate(spark: SparkSession, storePath: String,
                    groupCols: Seq[String], specs: Seq[AggSpec]): DataFrame =
    liveRows(spark, storePath)
      .groupBy(groupCols.map(col): _*)
      .agg(specs.head.fold, specs.tail.map(_.fold): _*)

  /** Fold the accumulated partials back into ONE seed partial (the
    * protocol's compaction); the stream then resumes storing fresh batches
    * beside it. */
  def compactAggregateStore(spark: SparkSession, storePath: String,
                            groupCols: Seq[String], specs: Seq[AggSpec]): Unit =
    compactBatches(spark, storePath)(
      _.groupBy(groupCols.map(col): _*)
        .agg(specs.head.fold, specs.tail.map(_.fold): _*).write)

  /** Incremental KMV sketch maintenance — distinct-count summaries kept
    * fresh under ingest (the [[maintainAggregate]] pattern applied to
    * [[graft.sketch.Kmv]] sketches, which plain distinct counts can't
    * join: counts don't pre-aggregate, sketches do). Each micro-batch
    * stores its per-group sketch (the bounded two-phase fold over JUST
    * the batch); [[foldSketch]] merges the partials into the sketch OF
    * EVERYTHING INGESTED — exactly, because k-min union is associative
    * (and idempotent, so even a double-merged batch would change
    * nothing). Store growth is ≤ one (groups-in-batch × k-longs) file set
    * per batch. */
  def maintainSketch(stream: DataFrame, groupCols: Seq[String],
                     hash: org.apache.spark.sql.Column, k: Int,
                     storePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(stream, storePath, checkpoint)(
      graft.sketch.Kmv.sketch(_, groupCols, hash, k))

  /** Seed the sketch store with a pre-stream sketch (e.g. the initial
    * corpus's) as its `batch=-1` seed. */
  def seedSketchStore(sketches: DataFrame, storePath: String): Unit =
    sketches.write.mode("overwrite").parquet(s"$storePath/batch=-1")

  /** Merge every live partial in the store into the union's sketch per
    * group — bit-identical to re-sketching all ingested facts
    * (StreamsSpec). */
  def foldSketch(spark: SparkSession, storePath: String,
                 groupCols: Seq[String], kmvCol: String, k: Int): DataFrame =
    graft.sketch.Kmv.merge(
      liveRows(spark, storePath).drop("batch"), groupCols, kmvCol, k)

  /** Merge the accumulated partials back into one seed (the protocol's
    * compaction). */
  def compactSketchStore(spark: SparkSession, storePath: String,
                         groupCols: Seq[String], kmvCol: String, k: Int): Unit =
    compactBatches(spark, storePath)(live =>
      graft.sketch.Kmv.merge(live.drop("batch"), groupCols, kmvCol, k).write)

  /** Incremental Count-Min maintenance — point-frequency grids kept fresh
    * under ingest ([[maintainSketch]]'s shape over
    * [[graft.sketch.CountMin]]). Grid merge is associative but NOT
    * idempotent (re-summing a grid double-counts), which is what the
    * protocol's overwrite sink and compaction watermark guard against. */
  def maintainCountMin(stream: DataFrame, groupCols: Seq[String],
                       key: org.apache.spark.sql.Column, d: Int, w: Int,
                       storePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(stream, storePath, checkpoint)(
      graft.sketch.CountMin.sketch(_, groupCols, key, d, w))

  /** Seed the grid store with a pre-stream corpus grid as its `batch=-1`
    * seed. */
  def seedCountMinStore(grids: DataFrame, storePath: String): Unit =
    grids.write.mode("overwrite").parquet(s"$storePath/batch=-1")

  /** Zip-sum every live partial into the grid OF EVERYTHING INGESTED —
    * bit-identical to re-sketching all facts (StreamsSpec). */
  def foldCountMin(spark: SparkSession, storePath: String,
                   groupCols: Seq[String], cmCol: String,
                   d: Int, w: Int): DataFrame =
    graft.sketch.CountMin.merge(
      liveRows(spark, storePath).drop("batch"), groupCols, cmCol, d, w)

  /** Zip-sum the accumulated grid partials into one seed (the protocol's
    * compaction). */
  def compactCountMinStore(spark: SparkSession, storePath: String,
                           groupCols: Seq[String], cmCol: String,
                           d: Int, w: Int): Unit =
    compactBatches(spark, storePath)(live =>
      graft.sketch.CountMin.merge(live.drop("batch"), groupCols, cmCol, d, w).write)

  /** Streaming OHLC maintenance ([[graft.operators.Resample.ohlc]]'s
    * incremental twin — the market-data/candlestick store): each
    * micro-batch stores per-(group, tick) partials, and [[foldOhlc]]
    * combines them into the full-history candles. The open/close anchors
    * make this genuinely foldable where first()/last() would not be:
    * partials carry (open, min ord) and (close, max ord), and the fold
    * takes min_by/max_by over those anchors — associative and exact for a
    * unique `ordCol`. */
  def maintainOhlc(stream: DataFrame, groupCol: String, tickCol: String,
                   valueCol: String, ordCol: String,
                   storePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(stream, storePath, checkpoint)(
      _.groupBy(col(groupCol), col(tickCol))
        .agg(min_by(col(valueCol), col(ordCol)).as("open"),
          min(col(ordCol)).as("o_ord"),
          max(col(valueCol)).as("high"),
          min(col(valueCol)).as("low"),
          max_by(col(valueCol), col(ordCol)).as("close"),
          max(col(ordCol)).as("c_ord"),
          count(lit(1)).as("n")))

  /** Fold the OHLC partial store into full-history candles — identical
    * to [[graft.operators.Resample.ohlc]] over all ingested facts
    * (StreamsSpec): open follows the minimum ord anchor across partials,
    * close the maximum, high/low/n fold by max/min/sum. */
  def foldOhlc(spark: SparkSession, storePath: String,
               groupCol: String, tickCol: String): DataFrame =
    liveRows(spark, storePath)
      .groupBy(col(groupCol), col(tickCol))
      .agg(min_by(col("open"), col("o_ord")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("c_ord")).as("close"),
        sum(col("n")).as("n"))

  /** Streaming histogram-grid maintenance ([[graft.sketch.Histo]]): each
    * micro-batch stores its per-group grid; [[foldHistogram]] zip-sums
    * live partials into the grid of everything ingested, which then
    * serves any quantile estimate without touching facts. Grid sums are
    * not idempotent — the protocol's watermark is what keeps replays
    * exact. */
  def maintainHistogram(stream: DataFrame, groupCols: Seq[String],
                        value: org.apache.spark.sql.Column,
                        lo: Long, step: Long, w: Int,
                        storePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(stream, storePath, checkpoint)(
      graft.sketch.Histo.sketch(_, groupCols, value, lo, step, w))

  /** Zip-sum every live histogram partial into the grid of everything
    * ingested — bit-identical to re-sketching all facts. */
  def foldHistogram(spark: SparkSession, storePath: String,
                    groupCols: Seq[String], histCol: String, w: Int): DataFrame =
    graft.sketch.Histo.merge(
      liveRows(spark, storePath).drop("batch"), groupCols, histCol, w)

  /** Zip-sum the accumulated grid partials into one seed (the protocol's
    * compaction). */
  def compactHistogramStore(spark: SparkSession, storePath: String,
                            groupCols: Seq[String], histCol: String,
                            w: Int): Unit =
    compactBatches(spark, storePath)(live =>
      graft.sketch.Histo.merge(live.drop("batch"), groupCols, histCol, w).write)

  /** Streaming Misra-Gries heavy-hitter maintenance: each micro-batch
    * stores its bounded MG summary ([[graft.sketch.MisraGries.summary]] —
    * ≤ k·tasks rows with exact error bookkeeping); [[foldHeavyHitters]]
    * folds live partials into one summary OF EVERYTHING INGESTED with
    * `est ≤ true ≤ est + err` still exact. Counter sums are associative
    * but not idempotent — the protocol's watermark keeps replays exact. */
  def maintainHeavyHitters(stream: DataFrame, keyCol: String, k: Int,
                           storePath: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    batchSink(stream, storePath, checkpoint)(
      graft.sketch.MisraGries.summary(_, keyCol, k))

  /** Fold every live per-batch MG summary into the all-ingested summary
    * (key, cnt, err, n): per-key count lower bounds with the folded
    * error bound and total. */
  def foldHeavyHitters(spark: SparkSession, storePath: String,
                       keyCol: String): DataFrame =
    graft.sketch.MisraGries.fold(liveRows(spark, storePath), keyCol, "batch")

  /** Candidate heavy hitters from the folded store: every key whose count
    * COULD exceed n/k given the error bound, i.e. (est + err)·k > n — a
    * guaranteed superset of the true heavy hitters (no false negatives;
    * est is still each key's exact lower bound). */
  def heavyHittersFromStore(spark: SparkSession, storePath: String,
                            keyCol: String, k: Int): DataFrame =
    foldHeavyHitters(spark, storePath, keyCol)
      .filter((col("cnt") + col("err")) * k > col("n"))
      .select(col(keyCol), col("cnt"), col("err"), col("n"))

  /** Fold + prune the accumulated MG partials into one ≤ k-row seed (the
    * protocol's compaction; pruning charges the subtracted mass to `err`,
    * keeping the bound exact). */
  def compactHeavyHitterStore(spark: SparkSession, storePath: String,
                              keyCol: String, k: Int): Unit =
    compactBatches(spark, storePath)(live =>
      graft.sketch.MisraGries.prune(
        graft.sketch.MisraGries.fold(live, keyCol, "batch"), keyCol, k).write)

  final case class EwmaEvent(key: String, ord: Long, value: Double)
  final case class EwmaOut(key: String, ord: Long, value: Double, ewma: Double)

  /** Streaming twin of [[graft.operators.Resample.ewma]] (α = 1/2,
    * normalized, window-truncated): per key, state is ONLY the last
    * `window - 1` (ord, value) pairs — bounded by construction, no
    * timeout needed for size (key cardinality is the usual state-store
    * dimension). Each micro-batch's rows are processed in `ord` order and
    * every row emits its smoothed value; the arithmetic reproduces the
    * batch operator's exact fold (power-of-two scaling, oldest-first
    * left fold, HALF_UP round to 6), so in-order streams match the batch
    * twin bit-for-bit (StreamsSpec). Same cross-batch caveat as the
    * funnel: a row arriving in an EARLIER batch than a smaller-ord
    * sibling has already been smoothed without it. */
  def ewmaStream(events: Dataset[EwmaEvent], window: Int): Dataset[EwmaOut] = {
    require(window >= 1 && window <= 62, s"window must be in 1..62, got $window")
    import events.sparkSession.implicits._
    def smooth(buf: Seq[Double]): Double = {
      val n = buf.length
      def fold(term: Int => Double): Double =
        buf.indices.foldLeft(0.0)((acc, i) =>
          acc + term(i) / math.pow(2.0, (n - 1 - i).toDouble))
      val raw = fold(buf(_)) / fold(_ => 1.0)
      // java BigDecimal.valueOf (the canonical-string conversion) is what
      // Spark's Round uses for doubles — scala's BigDecimal(double) takes
      // the exact binary expansion and can round ties differently
      java.math.BigDecimal.valueOf(raw)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    events.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[EwmaEvent], state: GroupState[Seq[(Long, Double)]]) =>
          var buf = state.getOption.getOrElse(Seq.empty)
          val out = it.toSeq.sortBy(_.ord).map { e =>
            buf = (buf :+ (e.ord, e.value)).takeRight(window)
            EwmaOut(key, e.ord, e.value, smooth(buf.map(_._2)))
          }
          state.update(buf.takeRight(window - 1))
          out.iterator
      }
  }

  final case class FunnelEvent(user_id: Long, event_type: String, ts_millis: Long)
  final case class FunnelStage(user_id: Long, stage: Int)

  /** DEFAULT streaming funnel = [[funnelStreamBounded]] (watermark-bounded
    * state). This NoTimeout variant is the explicit OPT-IN for small,
    * known-bounded user cardinality: per-user state NEVER expires, so the
    * state store grows with total distinct users forever — a funnel over
    * 100 TB of events must use the bounded twin. What the opt-in buys:
    * per-batch running upgrades (the sink upserts the user's CURRENT
    * furthest stage each batch) instead of Append-mode finals, and no
    * fresh-cascade restarts after quiet periods. Per-user state is just
    * the step timestamps (≤ 8×8 bytes/user), updated by
    * mapGroupsWithState.
    *
    * Semantics note (documented divergence from batch): within a
    * micro-batch, events replay in ts order, so per-user in-order
    * delivery — however the stream is batch-split — lands on the batch
    * answer (the StreamsSpec equivalence test runs the batch cascade on
    * the same events). Under DISORDER the stream can understate the
    * batch stage: a step event rejected because its predecessor hadn't
    * arrived yet is discarded, and the late predecessor cannot re-admit
    * it (only events still to come count). */
  def funnelStreamUnboundedState(events: Dataset[FunnelEvent],
                                 steps: Seq[String]): Dataset[FunnelStage] = {
    require(steps.nonEmpty && steps.size <= 8, s"1..8 funnel steps, got ${steps.size}")
    import events.sparkSession.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[Seq[Long], FunnelStage](
        GroupStateTimeout.NoTimeout) { (uid, it, state) =>
        // times(i) = first ts at which step i completed (Long.MaxValue = not yet)
        var times = state.getOption.getOrElse(Seq.fill(steps.size)(Long.MaxValue))
        it.toSeq.sortBy(_.ts_millis).foreach { e =>
          stepIdx.get(e.event_type).foreach { i =>
            // strict after the previous step's first time (an unreached
            // previous step is MaxValue, which is never < ts)
            val prevDone = i == 0 || times(i - 1) < e.ts_millis
            if (prevDone && e.ts_millis < times(i))
              times = times.updated(i, e.ts_millis)
          }
        }
        state.update(times)
        FunnelStage(uid, times.lastIndexWhere(_ != Long.MaxValue) + 1)
      }
  }

  /** Watermark-BOUNDED funnel — the DEFAULT streaming funnel (the
    * sessionize pattern, EventTimeTimeout): per-user state expires once
    * the event-time watermark passes the user's last activity +
    * `horizonMillis`, at which point the user's FINAL stage is emitted and
    * the state removed. The state store is bounded by users active within
    * one horizon of the watermark — not total user cardinality, which is
    * what makes a forever-running funnel possible at 100 TB. Reach for
    * [[funnelStreamUnboundedState]] only when user cardinality is known
    * small and per-batch running upgrades are required.
    *
    * Trade vs the NoTimeout variant (same trade as [[dedupStream]]):
    * output is Append-mode finals (one row per user per quiet period)
    * instead of per-batch running upgrades, and events arriving after
    * their user's state expired start a FRESH cascade. In-horizon
    * activity matches the batch `time_funnel` cascade when each user's
    * events arrive in ts order ACROSS micro-batches (the StreamsSpec
    * equivalence fixture); under cross-batch disorder the same caveat as
    * the unbounded variant applies — a step event rejected because its
    * predecessor hadn't arrived yet is discarded, and the late
    * predecessor cannot re-admit it. */
  def funnelStreamBounded(events: Dataset[FunnelEvent], steps: Seq[String],
                          horizonMillis: Long): Dataset[FunnelStage] = {
    require(steps.nonEmpty && steps.size <= 8, s"1..8 funnel steps, got ${steps.size}")
    require(horizonMillis > 0, s"horizon must be positive: $horizonMillis")
    import events.sparkSession.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    events
      .withColumn("__ts", timestamp_millis(col("ts_millis")))
      .withWatermark("__ts", s"$horizonMillis milliseconds")
      .as[FunnelEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[Long], FunnelStage](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (uid, it, state: GroupState[Seq[Long]]) =>
          if (state.hasTimedOut) {
            val times = state.get
            state.remove()
            Iterator.single(
              FunnelStage(uid, times.lastIndexWhere(_ != Long.MaxValue) + 1))
          } else {
            var times = state.getOption.getOrElse(Seq.fill(steps.size)(Long.MaxValue))
            var lastTs = Long.MinValue
            it.toSeq.sortBy(_.ts_millis).foreach { e =>
              lastTs = math.max(lastTs, e.ts_millis)
              stepIdx.get(e.event_type).foreach { i =>
                // strict after the previous step's first time (an unreached
                // previous step is MaxValue, which is never < ts)
                val prevDone = i == 0 || times(i - 1) < e.ts_millis
                if (prevDone && e.ts_millis < times(i))
                  times = times.updated(i, e.ts_millis)
              }
            }
            state.update(times)
            // expire at last activity + horizon; timeout must stay ahead
            // of the current watermark
            state.setTimeoutTimestamp(
              math.max(lastTs + horizonMillis, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
      }
  }

  /** n-way twin of [[maintainJoin]] for chained CREATE JOIN views (the
    * reference's own create-join is 3-way): each micro-batch's delta folds
    * through every dimension join and appends — the at-rest view is the
    * same left-deep chain `MatView` routes to at read time. */
  def maintainJoinN(stream: DataFrame,
                    dims: Seq[(DataFrame, org.apache.spark.sql.Column)],
                    outPath: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        dims.foldLeft(batch) { case (acc, (dim, expr)) =>
          acc.join(broadcast(dim), expr)
        }.write.mode("append").parquet(outPath)
      }
      .start()

  /** LEFT-outer twin of [[maintainJoin]] — the maintained view of the
    * dialect's LEFT JOIN: every fact delta row is kept, unmatched ones
    * append with null dimension columns. Same broadcast-per-batch shape.
    *
    * INSERT-only contract (like [[maintainAggregate]]): `dim` is re-read
    * each micro-batch, so facts arriving after a dimension row see it —
    * but a dimension row arriving after a fact was appended does NOT
    * retro-fill that fact's nulls (that retraction is the classic outer-
    * join IVM limit). When late dimensions matter, either re-materialize,
    * or run [[repairLeftView]] with the SAME (factKey, dimKey) pair —
    * the join probe there reads only the null subset (the crash-safe
    * swap still rewrites the full view, like compactStore).
    *
    * The join condition is deliberately a (factKey, dimKey) PAIR, not a
    * free-form Column: [[repairLeftView]] re-derives the same equi-join
    * from the same pair, so the two passes cannot diverge (a repair
    * under a different condition would retro-fill rows the original
    * join never matched — silently wrong data). */
  def maintainJoinLeft(stream: DataFrame, dim: DataFrame,
                       factKey: String, dimKey: String,
                       outPath: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    require(dim.columns.contains(dimKey), s"dim has no column $dimKey")
    require(!dim.columns.contains(factKey),
      s"factKey $factKey collides with a dimension column; fact and dim " +
        "columns must be distinctly named (the CREATE JOIN convention)")
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.join(broadcast(dim), batch(factKey) === dim(dimKey), "left")
          .write.mode("append").parquet(outPath)
      }
      .start()
  }

  /** Repair pass for a [[maintainJoinLeft]] view: re-probes ONLY the
    * view's null-extended rows against the CURRENT dimension and rewrites
    * the ones that now match — the periodic-repair answer to the outer-
    * join retraction limit (per-row retraction needs changelog state;
    * a repair over the null subset needs none). Cost shape: the JOIN
    * PROBE scales with the null subset, but the crash-safe swap rewrites
    * the whole view (matched ∪ repaired) — write I/O is O(view), like
    * compactStore. Rows still unmatched stay null-extended, so
    * repeated repairs converge as the dimension fills in. Crash-safe via
    * [[graft.sources.Sources.swapDir]] (readers see old or new, never a
    * mix); run between restarts of the maintaining stream, like
    * compactStore.
    * @param factKey the view's fact-side join column
    * @param dimKey  the dimension's key column (null in the view exactly
    *                when the row was appended unmatched — it is the join
    *                key, so a matched row can't carry a null one) */
  def repairLeftView(spark: SparkSession, viewPath: String, dim: DataFrame,
                     factKey: String, dimKey: String): Unit = {
    val view = spark.read.parquet(viewPath)
    val dimCols = dim.columns
    require(dimCols.contains(dimKey), s"dim has no column $dimKey")
    // the null-subset rebuild drops the dim's columns by NAME — a fact
    // key sharing a dim column name would be dropped with them (parquet
    // already forbids duplicate names in the view, so this can only mean
    // the caller passed the wrong key)
    require(!dimCols.contains(factKey),
      s"factKey $factKey collides with a dimension column; fact and dim " +
        "columns must be distinctly named (the CREATE JOIN convention)")
    val matched = view.filter(col(dimKey).isNotNull)
    val nulls = view.filter(col(dimKey).isNull).drop(dimCols: _*)
    val repaired = nulls.join(broadcast(dim),
      nulls(factKey) === dim(dimKey), "left")
    val out = matched.unionByName(repaired.select(view.columns.map(col): _*))
    graft.sources.Sources.swapDir(spark, viewPath) { tmp =>
      out.write.parquet(tmp)
    }
  }
}
