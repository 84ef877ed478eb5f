package graft

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Structured-Streaming behaviors driven synchronously with MemoryStream
  * (batch parquet would drive the identical plans in production). */
class StreamsSpec extends SparkSpec {
  import spark.implicits._

  test("windowed counts over a memory stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val agg = Streams.windowedCounts(df, "ts", "1 hour", "2 hours")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      mem.addData(
        (Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
        (Timestamp.valueOf("2024-01-01 00:20:00"), "click", 2.0),
        (Timestamp.valueOf("2024-01-01 01:10:00"), "view", 3.0))
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select("event_type", "cnt", "sum_value")
        .as[(String, Long, Double)].collect().toSet
      assert(rows == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("pii scrub + repetition/quality filters run stateless over a stream") {
    // the r4 scan-side text operators are pure column expressions, so they
    // lift into a readStream unchanged — no state store, no watermark
    import graft.llm.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val df = mem.toDF().toDF("doc_id", "text")
    val cleaned = df
      .filter(TextAnalysis.dupTokenFrac(org.apache.spark.sql.functions.col("text")) < 0.5)
      .select(org.apache.spark.sql.functions.col("doc_id"),
        TextAnalysis.scrubPii(org.apache.spark.sql.functions.col("text")).as("text"))
    val q = cleaned.writeStream.outputMode("append")
      .format("memory").queryName("scrub_out").start()
    try {
      mem.addData(
        (1L, "contact me at bob@corp.io for the data"),
        (2L, "spam spam spam spam spam ham"))   // dup frac 4/6 → dropped
      q.processAllAvailable()
      mem.addData((3L, "server 10.0.0.7 answered"))
      q.processAllAvailable()
      val rows = spark.table("scrub_out").as[(Long, String)].collect().toSet
      assert(rows == Set(
        (1L, "contact me at <EMAIL> for the data"),
        (3L, "server <IP> answered")))
    } finally q.stop()
  }

  test("stream-stream interval join ≡ batch range join; cross-batch pairs found") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp)]
    val purchases = MemoryStream[(Long, Timestamp, Double)]
    val joined = Streams.intervalJoinStream(
      clicks.toDF().toDF("c_user", "c_ts"),
      purchases.toDF().toDF("p_user", "p_ts", "amount"),
      "c_user", "p_user", "c_ts", "p_ts",
      horizonMillis = 10 * 60 * 1000, watermark = "30 minutes")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("attr_out").start()
    try {
      def ts(m: String) = Timestamp.valueOf(s"2024-01-01 $m:00")
      // click batch first; its purchases arrive in a LATER micro-batch
      clicks.addData((1L, ts("00:10")), (2L, ts("00:15")))
      q.processAllAvailable()
      purchases.addData(
        (1L, ts("00:12"), 5.0),   // inside 10min after u1's click
        (1L, ts("00:25"), 7.0),   // outside horizon
        (2L, ts("00:14"), 9.0),   // BEFORE u2's click — no match
        (3L, ts("00:16"), 4.0))   // keyless
      q.processAllAvailable()
      // second wave: both sides in one batch, inclusive edge
      clicks.addData((3L, ts("01:00")))
      purchases.addData((3L, ts("01:10"), 2.0)) // exactly +10min, inclusive
      q.processAllAvailable()
      val got = spark.table("attr_out")
        .select("c_user", "amount").as[(Long, Double)].collect().toSet
      assert(got == Set((1L, 5.0), (3L, 2.0)))

      // batch twin over the identical rows agrees
      val bc = Seq((1L, ts("00:10")), (2L, ts("00:15")), (3L, ts("01:00")))
        .toDF("c_user", "c_ts")
      val bp = Seq((1L, ts("00:12"), 5.0), (1L, ts("00:25"), 7.0),
        (2L, ts("00:14"), 9.0), (3L, ts("00:16"), 4.0), (3L, ts("01:10"), 2.0))
        .toDF("p_user", "p_ts", "amount")
      val batch = bc.join(bp, col("c_user") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("interval 10 minutes"))
        .select("c_user", "amount").as[(Long, Double)].collect().toSet
      assert(batch == got)
    } finally q.stop()
  }

  test("maintainJoin appends each micro-batch joined with the dimension") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("mv_out").toString
    val ckpt = Files.createTempDirectory("mv_ckpt").toString
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("c_id", "tier")
    val mem = MemoryStream[(Long, Double)]
    val stream = mem.toDF().toDF("cust_id", "amount")
    val q = Streams.maintainJoin(stream, dim,
      stream("cust_id") === dim("c_id"), out, ckpt)
    try {
      mem.addData((1L, 10.0), (2L, 20.0))
      q.processAllAvailable()
      mem.addData((1L, 30.0))
      q.processAllAvailable()
      val got = spark.read.parquet(out).select("amount", "tier")
        .as[(Double, String)].collect().toSet
      assert(got == Set((10.0, "gold"), (20.0, "silver"), (30.0, "gold")))
    } finally q.stop()
  }

  test("maintainJoinLeft keeps unmatched facts with null dimension columns") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("mvl_out").toString
    val ckpt = Files.createTempDirectory("mvl_ckpt").toString
    val dim = Seq((1L, "gold")).toDF("c_id", "tier") // 2L has no tier
    val mem = MemoryStream[(Long, Double)]
    val stream = mem.toDF().toDF("cust_id", "amount")
    val q = Streams.maintainJoinLeft(stream, dim,
      "cust_id", "c_id", out, ckpt)
    try {
      mem.addData((1L, 10.0), (2L, 20.0))
      q.processAllAvailable()
      mem.addData((2L, 30.0))
      q.processAllAvailable()
      val got = spark.read.parquet(out).select("amount", "tier")
        .as[(Double, Option[String])].collect().toSet
      // ≡ the batch left join over the same facts: no fact dropped, the
      // dimension-less ones null-extended
      assert(got == Set((10.0, Some("gold")), (20.0, None), (30.0, None)))
    } finally q.stop()
    // the repair pass retro-fills nulls once the dimension grows; the
    // still-unmatched stay null (and a second repair is a no-op rewrite)
    val dim2 = Seq((1L, "gold"), (2L, "silver")).toDF("c_id", "tier")
    Streams.repairLeftView(spark, out, dim2, "cust_id", "c_id")
    val after = spark.read.parquet(out).select("amount", "tier")
      .as[(Double, Option[String])].collect().toSet
    assert(after == Set((10.0, Some("gold")), (20.0, Some("silver")),
      (30.0, Some("silver"))), after.toString)
    Streams.repairLeftView(spark, out, dim2, "cust_id", "c_id")
    assert(spark.read.parquet(out).count() == 3)
  }

  test("maintainJoinN folds a micro-batch through a 3-way dimension chain") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("mv3_out").toString
    val ckpt = Files.createTempDirectory("mv3_ckpt").toString
    val cust = Seq((1L, 10L), (2L, 20L)).toDF("c_id", "n_id")
    val nat = Seq((10L, "FR"), (20L, "DE")).toDF("nk", "n_name")
    val mem = MemoryStream[(Long, Double)]
    val stream = mem.toDF().toDF("cust_id", "amount")
    val q = Streams.maintainJoinN(stream,
      Seq(cust -> (stream("cust_id") === cust("c_id")),
        nat -> (cust("n_id") === nat("nk"))), out, ckpt)
    try {
      mem.addData((1L, 10.0), (2L, 20.0))
      q.processAllAvailable()
      mem.addData((2L, 30.0))
      q.processAllAvailable()
      val got = spark.read.parquet(out).select("amount", "n_name")
        .as[(Double, String)].collect().toSet
      assert(got == Set((10.0, "FR"), (20.0, "DE"), (30.0, "DE")))
    } finally q.stop()
  }

  test("nearDupIngest admits novel docs, rejects near-dups within and across batches") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("nd_out").toString
    val store = Files.createTempDirectory("nd_store").toString
    val ckpt = Files.createTempDirectory("nd_ckpt").toString
    val a = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val b = "completely different words describing an unrelated subject matter with no overlap at all here"
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = Streams.nearDupIngest(docs, "text", "doc_id", 0.6, out, store, ckpt)
    try {
      // batch 1: a + an in-batch near-dup of a (first word dropped) + b
      mem.addData((1L, a), (2L, a.substring(a.indexOf(' ') + 1)), (3L, b))
      q.processAllAvailable()
      val after1 = spark.read.parquet(out).select("doc_id")
        .as[Long].collect().toSet
      assert(after1 == Set(1L, 3L), s"batch-1 admissions: $after1")
      // batch 2: a cross-batch near-dup of a + one novel doc
      mem.addData((4L, a.substring(a.indexOf(' ') + 1)),
        (5L, "yet another entirely fresh document about completely new things worth keeping around forever"))
      q.processAllAvailable()
      val after2 = spark.read.parquet(out).select("doc_id")
        .as[Long].collect().toSet
      assert(after2 == Set(1L, 3L, 5L), s"batch-2 admissions: $after2")
    } finally q.stop()
  }

  test("nearDupIngest bloom front gate: exact re-crawls drop BEFORE candidate generation; admission unchanged") {
    implicit val sqlCtx = spark.sqlContext
    val a = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
    val b = "completely different words describing an unrelated subject matter with no overlap at all here"
    val novel = "yet another entirely fresh document about completely new things worth keeping around forever"
    val store = Files.createTempDirectory("bg_store").toString
    val out1 = Files.createTempDirectory("bg_out1").toString
    // one query, two micro-batches (batch ids advance — a fresh
    // checkpoint would restart at 0 and overwrite the store's batch dirs)
    locally {
      val mem = MemoryStream[(Long, String)]
      val q = Streams.nearDupIngest(mem.toDF().toDF("doc_id", "text"),
        "text", "doc_id", 0.6, out1, store,
        Files.createTempDirectory("bg_ckpt").toString)
      try {
        mem.addData((1L, a), (2L, b))
        q.processAllAvailable()
        // mixed second batch against the full store: byte-identical
        // re-crawl (gate), non-identical near-dup (band join), novel doc
        // (admitted) — admission decisions are unchanged by the gate
        mem.addData(
          (10L, a),                               // exact re-crawl of 1
          (11L, a.substring(a.indexOf(' ') + 1)), // near-dup of 1, not identical
          (12L, novel))
        q.processAllAvailable()
      } finally q.stop()
    }
    val admitted = spark.read.parquet(out1).select("doc_id")
      .as[Long].collect().toSet
    assert(admitted == Set(1L, 2L, 12L), s"admissions: $admitted")
    // the hash store exists alongside bands/shingles
    assert(new java.io.File(s"$store/hashes").exists, "no hash store written")
    // CAUSAL front-gate check: delete the band + shingle stores so
    // candidate generation cannot reject anything — ONLY the hash-gate
    // path can. The exact re-crawl must still be dropped.
    def rmTree(p: java.io.File): Unit = {
      if (p.isDirectory) p.listFiles.foreach(rmTree); p.delete()
    }
    rmTree(new java.io.File(s"$store/bands"))
    rmTree(new java.io.File(s"$store/shingles"))
    val out3 = Files.createTempDirectory("bg_out3").toString
    val admitted3 = locally {
      val mem = MemoryStream[(Long, String)]
      val q = Streams.nearDupIngest(mem.toDF().toDF("doc_id", "text"),
        "text", "doc_id", 0.6, out3, store,
        Files.createTempDirectory("bg_ckpt3").toString)
      try {
        mem.addData(
          (20L, b),                              // exact re-crawl of 2 — gate only
          (21L, "one more fully original text with vocabulary shared by nothing else in the stream"))
        q.processAllAvailable()
      } finally q.stop()
      spark.read.parquet(out3).select("doc_id").as[Long].collect().toSet
    }
    assert(admitted3 == Set(21L),
      s"front gate failed without the band store: $admitted3")
  }

  test("decontaminateStream rejects benchmark near-dups at ingest, replays idempotently") {
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("decontam").toString
    val bench = Seq((9000L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val q = Streams.decontaminateStream(mem.toDF().toDF("doc_id", "text"),
      bench, "text", "doc_id", 0.6, s"$dir/out", s"$dir/chk")
    try {
      mem.addData(
        (1L, "quick brown fox jumps over the lazy dog today"), // near-dup of bench
        (2L, "completely unrelated content about spark shuffles and joins"))
      q.processAllAvailable()
      mem.addData((3L, "another novel document with its own words entirely"))
      q.processAllAvailable()
      val kept = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect().toSet
      assert(kept == Set(2L, 3L), s"got $kept")
    } finally q.stop()
    // REPLAY batch 0: a fresh query (new checkpoint, same out dir)
    // restarts batch ids at 0 and re-feeds the same data — overwrite
    // semantics must rewrite batch=0 in place, not append duplicates
    val mem2 = MemoryStream[(Long, String)]
    val q2 = Streams.decontaminateStream(mem2.toDF().toDF("doc_id", "text"),
      bench, "text", "doc_id", 0.6, s"$dir/out", s"$dir/chk2")
    try {
      mem2.addData(
        (1L, "quick brown fox jumps over the lazy dog today"),
        (2L, "completely unrelated content about spark shuffles and joins"))
      q2.processAllAvailable()
      val rows = spark.read.parquet(s"$dir/out")
        .select("doc_id").as[Long].collect().toSeq
      assert(rows.sorted == Seq(2L, 3L), s"replay duplicated rows: $rows")
    } finally q2.stop()
  }

  // near-dup store fixtures: `seedNearDup` admits two docs through one
  // stream and stops it; `continueNearDup` ingests a near-dup of doc 1
  // plus one novel doc against the store (fresh query/checkpoint — the
  // store is the cross-restart state) and returns the admitted ids
  private val ndA = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
  private val ndB = "completely different words describing an unrelated subject matter with no overlap at all here"
  private val ndC = "yet another entirely fresh document about completely new things worth keeping around forever"

  private def seedNearDup(): String = {
    implicit val sqlCtx = spark.sqlContext
    val store = Files.createTempDirectory("cmp_store").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streams.nearDupIngest(mem.toDF().toDF("doc_id", "text"),
      "text", "doc_id", 0.6,
      Files.createTempDirectory("cmp_out").toString, store,
      Files.createTempDirectory("cmp_ckpt").toString)
    try { mem.addData((1L, ndA), (2L, ndB)); q.processAllAvailable() }
    finally q.stop()
    store
  }

  private def continueNearDup(store: String): Set[Long] = {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("cmp_out2").toString
    val mem = MemoryStream[(Long, String)]
    val q = Streams.nearDupIngest(mem.toDF().toDF("doc_id", "text"),
      "text", "doc_id", 0.6, out, store,
      Files.createTempDirectory("cmp_ckpt2").toString)
    try {
      mem.addData((3L, ndA.substring(ndA.indexOf(' ') + 1)), (4L, ndC))
      q.processAllAvailable()
    } finally q.stop()
    spark.read.parquet(out).select("doc_id").as[Long].collect().toSet
  }

  private def batchDirs(dir: String): Set[String] =
    new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("batch=")).map(_.getName).toSet

  test("compactStore preserves admission decisions and consolidates layout") {
    val control = seedNearDup()
    val compacted = seedNearDup()
    // compacting twice rewrites the seed in place: every store still holds
    // exactly one batch=-1 seed
    Streams.compactStore(spark, compacted, buckets = 4)
    Streams.compactStore(spark, compacted, buckets = 4)
    for (sub <- Seq("bands", "shingles", "hashes"))
      assert(batchDirs(s"$compacted/$sub") == Set("batch=-1"),
        s"$sub dirs after compaction: ${batchDirs(s"$compacted/$sub")}")
    // identical store CONTENT (rows, not layout)
    for (sub <- Seq("bands", "shingles", "hashes")) {
      val x = spark.read.parquet(s"$control/$sub").drop("batch")
      val y = spark.read.parquet(s"$compacted/$sub").drop("batch")
      assert(x.exceptAll(y).isEmpty && y.exceptAll(x).isEmpty, s"$sub rows differ")
    }
    // identical admission decisions against both stores
    assert(continueNearDup(control) == Set(4L))
    assert(continueNearDup(compacted) == Set(4L))
  }

  test("nearDupIngest recovers a band store stranded by a crashed compaction swap") {
    val control = seedNearDup()
    val stranded = seedNearDup()
    // crash between swapDir's two renames: the live dir is gone, the old
    // contents sit at <dir>.compact.old
    assert(new java.io.File(s"$stranded/bands")
      .renameTo(new java.io.File(s"$stranded/bands.compact.old")))
    assert(continueNearDup(stranded) == continueNearDup(control))
    assert(new java.io.File(s"$stranded/bands").isDirectory)
    assert(!new java.io.File(s"$stranded/bands.compact.old").exists)
  }

  test("foldCountMin recovers a store stranded by a crashed compaction swap") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sketch.CountMin
    val dir = Files.createTempDirectory("stranded").toString
    val (d, w) = (3, 32)
    val facts = (0L until 30L).map(i => ("a", i % 4)) :+ (("b", 9L))
    val mem = MemoryStream[(String, Long)]
    val q = Streams.maintainCountMin(mem.toDF().toDF("cat", "id"), Seq("cat"),
      col("id"), d, w, s"$dir/cm", Files.createTempDirectory("stranded_ck").toString)
    try {
      mem.addData(facts.take(20): _*); q.processAllAvailable()
      mem.addData(facts.drop(20): _*); q.processAllAvailable()
    } finally q.stop()
    def gridMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Seq[Long])].collect().toMap
    def fold() = gridMap(Streams.foldCountMin(spark, s"$dir/cm", Seq("cat"), "cm", d, w))
    val before = fold()
    assert(before == gridMap(CountMin.sketch(facts.toDF("cat", "id"),
      Seq("cat"), col("id"), d, w)))
    assert(new java.io.File(s"$dir/cm").renameTo(new java.io.File(s"$dir/cm.compact.old")))
    assert(fold() == before, "fold after a stranded swap lost the pre-compaction grid")
    assert(!new java.io.File(s"$dir/cm.compact.old").exists)
  }

  test("a legacy batch=-2 seed folds in and compacts to batch=-1") {
    import graft.streaming.Streams.AggSpec
    // stores compacted by the older negative-id compaction hold their seed
    // at batch=-2 (or lower)
    val dir = Files.createTempDirectory("legacy").toString
    val specs = Seq(AggSpec("count", "", "n"), AggSpec("sum", "v", "s"))
    Seq(("a", 2L, 30L)).toDF("cat", "n", "s")
      .write.parquet(s"$dir/agg/batch=-2")
    Seq(("a", 1L, 5L), ("b", 1L, 7L)).toDF("cat", "n", "s")
      .write.parquet(s"$dir/agg/batch=0")
    def aggMap() = Streams.foldAggregate(spark, s"$dir/agg", Seq("cat"), specs)
      .as[(String, Long, Long)].collect().toSet
    val expected = Set(("a", 3L, 35L), ("b", 1L, 7L))
    assert(aggMap() == expected, "legacy batch=-2 seed not folded in")
    Streams.compactAggregateStore(spark, s"$dir/agg", Seq("cat"), specs)
    assert(batchDirs(s"$dir/agg") == Set("batch=-1"))
    assert(aggMap() == expected)
  }

  test("cleanCorpusStream filters scan-side then near-dup-admits the rest") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("cc_out").toString
    val store = Files.createTempDirectory("cc_store").toString
    val ckpt = Files.createTempDirectory("cc_ckpt").toString
    // stopword-rich and ~60 tokens so qualityScore clears 0.45 both for the
    // doc and for its first-token-dropped near-dup copy
    val good = "report of the committee is a summary of the work and the goals " +
      "of the team to guide planning and review of progress in the field and " +
      "to support the growth of the community in every region and to keep the " +
      "record of the effort in one place for the future and the present"
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = graft.llm.Pipeline.cleanCorpusStream(docs, "text", "doc_id",
      minQuality = 0.45, lang = "en", jaccardThreshold = 0.6,
      out, store, ckpt)
    try {
      mem.addData(
        (1L, good),
        (2L, "zzz qqq xxx"),                               // fails quality/langid
        (3L, good.substring(good.indexOf(' ') + 1)))       // near-dup of 1
      q.processAllAvailable()
      val admitted = spark.read.parquet(out).select("doc_id")
        .as[Long].collect().toSet
      assert(admitted == Set(1L), s"admitted: $admitted")
    } finally q.stop()
  }

  test("file-source streaming runs the same windowed plan as batch") {
    val dir = Files.createTempDirectory("ev_stream").toString
    val ev = graft.core.Tables.t(spark, sf, "events")
      .select(graft.core.Tables.tsNanos(col("ts")).as("ts"),
        col("event_type"), col("value"))
    ev.write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(ev.schema).parquet(dir)
    val agg = graft.streaming.Streams.windowedCounts(stream, "ts", "6 hours", "1 day")
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("file_win").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("file_win").agg(sum("cnt")).as[Long].head()
      assert(streamed == ev.count())
    } finally q.stop()
  }

  test("continuous KV ingest lands queryable batches in the bucketed layout") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("kv_ingest").toString
    val ckpt = Files.createTempDirectory("kv_ingest_ckpt").toString
    val mem = MemoryStream[(String, String, String)]
    val stream = mem.toDF().toDF("pk", "sk", "value")
    val q = graft.streaming.Streams.ingestKv(stream, out, ckpt, buckets = 4)
    try {
      mem.addData(("u1", "a#1", "v1"), ("u2", "b#1", "v2"))
      q.processAllAvailable()
      mem.addData(("u1", "a#2", "v3"))
      q.processAllAvailable()
      val store = graft.kv.KvStore(spark.read.parquet(out))
      assert(store.queryBegins("u1", "a#").select("value")
        .as[String].collect().toSeq == Seq("v1", "v3"))
      assert(store.get("u2", "b#1").count() == 1)
    } finally q.stop()
  }

  test("dedupStream drops in-horizon duplicate keys, keeps first occurrence") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    val in = mem.toDF().toDF("content_hash", "ts_millis", "payload")
      .withColumn("ts", timestamp_millis(col("ts_millis")))
    val out = Streams.dedupStream(in, Seq("content_hash"), "ts", "10 seconds")
    val q = out.writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      mem.addData(("h1", 1000L, 1.0), ("h1", 2000L, 2.0), ("h2", 3000L, 3.0))
      q.processAllAvailable()
      mem.addData(("h1", 4000L, 4.0), ("h3", 5000L, 5.0))
      q.processAllAvailable()
      val rows = spark.table("dedup_out")
        .select("content_hash", "payload").as[(String, Double)].collect().toSet
      assert(rows == Set(("h1", 1.0), ("h2", 3.0), ("h3", 5.0)))
    } finally q.stop()
  }

  test("sessionize emits closed sessions on gap rollover and watermark timeout") {
    import graft.streaming.Streams.SessionEvent
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessionEvent]
    val sessions = Streams.sessionize(mem.toDS(), gapMillis = 60000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      // one session for user 7 (3 events within the gap)
      mem.addData(SessionEvent(7, 1000), SessionEvent(7, 2000), SessionEvent(7, 3000))
      q.processAllAvailable()
      // user 8 far in the future advances the watermark past 3000 + gap…
      mem.addData(SessionEvent(8, 500000))
      q.processAllAvailable()
      // …and the next batch fires user 7's event-time timeout.
      mem.addData(SessionEvent(8, 501000))
      q.processAllAvailable()
      val closed = spark.table("sess_out")
        .select("user_id", "n_events", "start_millis", "end_millis")
        .as[(Long, Int, Long, Long)].collect().toSet
      assert(closed.contains((7L, 3, 1000L, 3000L)))
      // user 8's session is still open (within one gap of the watermark)
      assert(!closed.exists(_._1 == 8L))

      // gap rollover within a single key emits the prior session immediately
      mem.addData(SessionEvent(8, 700000))
      q.processAllAvailable()
      val afterRollover = spark.table("sess_out")
        .select("user_id", "n_events", "start_millis", "end_millis")
        .as[(Long, Int, Long, Long)].collect().toSet
      assert(afterRollover.contains((8L, 2, 500000L, 501000L)))
    } finally q.stop()
  }

  test("snapshotDiffStream + removed equals the batch Snapshot.diff") {
    implicit val sqlCtx = spark.sqlContext
    val out = Files.createTempDirectory("sd_out").toString
    val ckpt = Files.createTempDirectory("sd_ckpt").toString
    val v1 = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val v2 = mem.toDF().toDF("doc_id", "text")
    val (q, v1d) = graft.streaming.Streams.snapshotDiffStream(
      v2, v1, "doc_id", Seq("text"), out, ckpt)
    try {
      mem.addData((1L, "a"), (2L, "B2"), (7L, "new"))
      q.processAllAvailable()
      mem.addData((3L, "c"), (8L, "newer"))
      q.processAllAvailable()
      val streamed = spark.read.parquet(out).select("doc_id", "status")
        .as[(Long, String)].collect().toSet
      val removed = graft.streaming.Streams.snapshotDiffRemoved(
        spark, v1, "doc_id", out).as[(Long, String)].collect().toSet
      // the batch answer over the same v2
      val v2all = Seq((1L, "a"), (2L, "B2"), (7L, "new"), (3L, "c"), (8L, "newer"))
        .toDF("doc_id", "text")
      val batchDiff = graft.llm.Snapshot.diff(v1, v2all, "doc_id", Seq("text"))
        .as[(Long, String)].collect().toSet
      assert((streamed ++ removed) == batchDiff,
        s"streamed=${streamed ++ removed} batch=$batchDiff")
    } finally { q.stop(); v1d.unpersist() }
  }

  test("snapshotDiffRemoved on a never-started stream marks everything removed") {
    val v1 = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    val dir = Files.createTempDirectory("sd_empty").toString + "/never_written"
    val rm = graft.streaming.Streams.snapshotDiffRemoved(spark, v1, "doc_id", dir)
      .as[(Long, String)].collect().toSet
    assert(rm == Set((1L, "removed"), (2L, "removed")))
  }

  test("funnelStreamUnboundedState (opt-in) tracks the batch funnel cascade across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streams.{FunnelEvent, FunnelStage}
    val mem = MemoryStream[FunnelEvent]
    val staged = Streams.funnelStreamUnboundedState(mem.toDS(), Seq("view", "click", "purchase"))
    val q = staged.writeStream.outputMode("update")
      .format("memory").queryName("funnel_out").start()
    def stages(): Map[Long, Int] =
      spark.table("funnel_out").as[FunnelStage].collect()
        .groupBy(_.user_id).map { case (u, rows) => u -> rows.last.stage }
    try {
      // u1 completes in order; u2 clicks BEFORE viewing (click must not
      // count); u3 only views
      mem.addData(
        FunnelEvent(1L, "view", 10L), FunnelEvent(1L, "click", 20L),
        FunnelEvent(2L, "click", 10L), FunnelEvent(2L, "view", 20L),
        FunnelEvent(3L, "view", 10L))
      q.processAllAvailable()
      assert(stages() == Map(1L -> 2, 2L -> 1, 3L -> 1))
      // next batch: u1 purchases (stage 3); u2 clicks after its view
      // (stage 2 now); u3's purchase can't count — it never clicked
      mem.addData(
        FunnelEvent(1L, "purchase", 30L),
        FunnelEvent(2L, "click", 30L),
        FunnelEvent(3L, "purchase", 10L))
      q.processAllAvailable()
      assert(stages() == Map(1L -> 3, 2L -> 2, 3L -> 1))
      // streamed == BATCH: run the time_funnel cascade (first step time,
      // then first strictly-later occurrence of each next step) over ALL
      // the events delivered and compare stages
      val all = Seq(
        (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
        (2L, "click", 10L), (2L, "view", 20L), (2L, "click", 30L),
        (3L, "view", 10L), (3L, "purchase", 10L))
      val batchStages = all.groupBy(_._1).map { case (u, evs) =>
        val firstAfter = (t: String, after: Long) =>
          evs.filter(e => e._2 == t && e._3 > after).map(_._3).minOption
        val t1 = evs.filter(_._2 == "view").map(_._3).minOption
        val t2 = t1.flatMap(firstAfter("click", _))
        val t3 = t2.flatMap(firstAfter("purchase", _))
        u -> Seq(t1, t2, t3).takeWhile(_.isDefined).size
      }
      assert(stages() == batchStages, s"streamed=${stages()} batch=$batchStages")
    } finally q.stop()
  }

  test("funnelStreamBounded emits batch-equivalent finals and expires state with the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streams.{FunnelEvent, FunnelStage}
    val horizon = 1000L
    val mem = MemoryStream[FunnelEvent]
    val staged = Streams.funnelStreamBounded(
      mem.toDS(), Seq("view", "click", "purchase"), horizon)
    val q = staged.writeStream.outputMode("append")
      .format("memory").queryName("funnel_bounded_out").start()
    def finals(): Seq[FunnelStage] =
      spark.table("funnel_bounded_out").as[FunnelStage].collect().toSeq
    try {
      // same fixture as the NoTimeout test: u1 completes in order, u2's
      // click precedes its view (must not count), u3 only views
      mem.addData(
        FunnelEvent(1L, "view", 10L), FunnelEvent(1L, "click", 20L),
        FunnelEvent(2L, "click", 10L), FunnelEvent(2L, "view", 20L),
        FunnelEvent(3L, "view", 10L))
      q.processAllAvailable()
      mem.addData(
        FunnelEvent(1L, "purchase", 30L),
        FunnelEvent(2L, "click", 30L),
        FunnelEvent(3L, "purchase", 10L))
      q.processAllAvailable()
      // nothing emitted while users are inside the horizon (Append finals)
      assert(finals().isEmpty, s"premature emit: ${finals()}")
      // advance the watermark far past every user's last activity +
      // horizon via a sentinel user; the watermark computed at the end of
      // this batch makes the timeouts fire on the NEXT batch
      mem.addData(FunnelEvent(99L, "view", 100000L))
      q.processAllAvailable()
      mem.addData(FunnelEvent(99L, "view", 100001L))
      q.processAllAvailable()
      val got = finals().map(f => f.user_id -> f.stage).toMap
      // the batch time_funnel cascade over the same in-horizon events
      assert(got == Map(1L -> 3, 2L -> 2, 3L -> 1), s"got=$got")
      // state-expiry: a late event for an expired user starts a FRESH
      // cascade (the old state is gone, not resumed) — u3 "clicks" after
      // expiry, which cannot extend the already-emitted stage-1 final,
      // and on its own expiry emits a stage-0 final (no view first)
      mem.addData(FunnelEvent(3L, "click", 100002L))
      q.processAllAvailable()
      mem.addData(FunnelEvent(99L, "view", 300000L))
      q.processAllAvailable()
      mem.addData(FunnelEvent(99L, "view", 300001L))
      q.processAllAvailable()
      val afterExpiry = finals().filter(_.user_id == 3L).map(_.stage).sorted
      assert(afterExpiry == Seq(0, 1),
        s"expected a fresh stage-0 cascade after expiry, got $afterExpiry")
    } finally q.stop()
  }

  test("corpusStatsStream partials fold to the batch per-language card") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.TextAnalysis
    val out = Files.createTempDirectory("cs_out").toString
    val ckpt = Files.createTempDirectory("cs_ckpt").toString
    val en = "the cat sat on a mat and the dog is in the yard of the house"
    val fr = "le chat est un animal et la maison de les gens est grande"
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = graft.streaming.Streams.corpusStatsStream(docs, "text", out, ckpt)
    try {
      mem.addData((1L, en), (2L, fr))
      q.processAllAvailable()
      mem.addData((3L, en), (4L, en + " again"), (5L, fr))
      q.processAllAvailable()
      val got = graft.streaming.Streams.corpusStatsTotal(spark, out)
        .as[(String, Long, Long, Double)].collect()
        .map { case (l, d, t, a) => l -> ((d, t, a)) }.toMap
      // the batch card over everything ingested, same arithmetic
      val all = Seq((1L, en), (2L, fr), (3L, en), (4L, en + " again"), (5L, fr))
        .toDF("doc_id", "text")
      val want = all.groupBy(TextAnalysis.langId(col("text")).as("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("long")).as("n_tokens"),
          (sum(round(TextAnalysis.qualityScore(col("text")) * 10000, 0)
            .cast("long")).cast("double") /
            (count(lit(1)) * 10000).cast("double")).as("avg_quality"))
        .as[(String, Long, Long, Double)].collect()
        .map { case (l, d, t, a) => l -> ((d, t, a)) }.toMap
      assert(got == want, s"got=$got want=$want")
      assert(got.keySet.size >= 2, "expected a real language mixture")
    } finally q.stop()
  }

  test("maintainIvfIndex: streamed embeddings become servable, full-probe exact") {
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Similarity
    val dir = Files.createTempDirectory("m_ivf").toString
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id").cast("long"), col("embedding"))
    val even = emb.filter(col("vec_id") % 2 === 0)
    Similarity.writeIvfIndex(even, s"$dir/idx", nlist = 8, iters = 1)
    val odd = emb.filter(col("vec_id") % 2 === 1)
      .as[(Long, Array[Float])].collect().toSeq
    val mem = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.Streams.maintainIvfIndex(
      mem.toDF().toDF("vec_id", "embedding"), s"$dir/idx",
      Files.createTempDirectory("m_ivf_ck").toString)
    try {
      val (a, b) = odd.splitAt(odd.size / 2)
      mem.addData(a: _*); q.processAllAvailable()
      mem.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    // everything streamed is in the lists exactly once
    val lists = spark.read.parquet(s"$dir/idx/lists")
    assert(lists.count() == emb.count())
    assert(lists.select("nid").distinct().count() == emb.count())
    // and servable: full-probe serving equals brute force over the corpus
    val queries = emb.filter(col("vec_id") < 8)
    val served = Similarity.ivfTopKFromIndex(spark, s"$dir/idx", queries,
      k = 3, nprobe = 8).as[(Long, Long, Double, Int)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, queries, 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(served == brute)
  }

  test("maintainAggregate partials fold to the batch summary and refresh the routed view") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streams
    import graft.streaming.Streams.AggSpec
    val dir = Files.createTempDirectory("magg").toString
    val specs = Seq(AggSpec("count", "", "n_rows"), AggSpec("sum", "v", "sum_v"),
      AggSpec("min", "v", "min_v"), AggSpec("max", "v", "max_v"))

    // pre-stream facts, materialized + routed as an aggregate view
    val initial = Seq(("a", 10L), ("a", 20L), ("b", 5L)).toDF("cat", "v")
    initial.write.parquet(s"$dir/facts")
    def facts = spark.read.parquet(s"$dir/facts")
    def summaryOf(df: org.apache.spark.sql.DataFrame) =
      df.groupBy(col("cat")).agg(count(lit(1)).as("n_rows"), sum(col("v")).as("sum_v"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
    graft.matview.MatView.materializeAggregate(
      spark, "magg_view", summaryOf(facts), s"$dir/view")
    try {
      // seed the partial store with the initial summary, then stream deltas
      Streams.seedAggregateStore(spark.read.parquet(s"$dir/view"), s"$dir/store")
      val mem = MemoryStream[(String, Long)]
      val q = Streams.maintainAggregate(mem.toDF().toDF("cat", "v"),
        Seq("cat"), specs, s"$dir/store", Files.createTempDirectory("magg_ck").toString)
      try {
        mem.addData(("a", 7L), ("c", 100L))
        q.processAllAvailable()
        mem.addData(("b", 50L), ("c", 1L))
        q.processAllAvailable()
      } finally q.stop()

      // fold ≡ batch re-materialization over everything ingested so far
      val allRows = Seq(("a", 10L), ("a", 20L), ("b", 5L),
        ("a", 7L), ("c", 100L), ("b", 50L), ("c", 1L)).toDF("cat", "v")
      def asMap(df: org.apache.spark.sql.DataFrame) =
        df.as[(String, Long, Long, Long, Long)].collect()
          .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
      val folded = Streams.foldAggregate(spark, s"$dir/store", Seq("cat"), specs)
      assert(asMap(folded) == asMap(summaryOf(allRows)))

      // refresh the routed summary from the fold — zero fact recompute —
      // and the containment route serves the POST-ingest answer with zero
      // Join/fact rows in the plan
      graft.matview.MatView.refreshAggregate(spark, "magg_view", s"$dir/view", folded)
      allRows.write.mode("overwrite").parquet(s"$dir/facts2") // grown facts
      val grown = spark.read.parquet(s"$dir/facts2")
      // exact-match shape: group by cat over a scan matching... (child is a
      // DIFFERENT relation now, so route via the summary check directly)
      val served = spark.read.parquet(s"$dir/view")
      assert(asMap(served) == asMap(summaryOf(grown)))

      // store compaction folds partials into one seed; fold unchanged
      Streams.compactAggregateStore(spark, s"$dir/store", Seq("cat"), specs)
      val dirs = new java.io.File(s"$dir/store").listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("batch=")).toSeq
      assert(dirs == Seq("batch=-1"), s"store not compacted: $dirs")
      assert(asMap(Streams.foldAggregate(spark, s"$dir/store", Seq("cat"), specs))
        == asMap(summaryOf(allRows)))
      // a batch REPLAYED after compaction (crash between sink write and
      // checkpoint commit, then compact, then restart re-runs it) recreates
      // its batch dir — the fold watermark excludes it, so nothing
      // double-counts even though its rows are already inside the seed
      Seq(("a", 1L, 7L, 7L, 7L)) // batch 0's partial, re-materialized
        .toDF("cat", "n_rows", "sum_v", "min_v", "max_v")
        .write.mode("overwrite").parquet(s"$dir/store/batch=0")
      assert(asMap(Streams.foldAggregate(spark, s"$dir/store", Seq("cat"), specs))
        == asMap(summaryOf(allRows)), "replayed pre-compaction batch double-counted")

      // replay idempotence: a re-run batch overwrites its own partial dir,
      // never double-counts (overwrite-by-batch-id, like the other sinks)
      val mem2 = MemoryStream[(String, Long)]
      val ck2 = Files.createTempDirectory("magg_ck2").toString
      val q2 = Streams.maintainAggregate(mem2.toDF().toDF("cat", "v"),
        Seq("cat"), specs, s"$dir/store2", ck2)
      try { mem2.addData(("z", 1L)); q2.processAllAvailable() } finally q2.stop()
      val q3 = Streams.maintainAggregate(mem2.toDF().toDF("cat", "v"),
        Seq("cat"), specs, s"$dir/store2", ck2) // same checkpoint resumes
      try { mem2.addData(("z", 2L)); q3.processAllAvailable() } finally q3.stop()
      val z = Streams.foldAggregate(spark, s"$dir/store2", Seq("cat"), specs)
        .filter(col("cat") === "z").as[(String, Long, Long, Long, Long)].collect()
      assert(z.toSeq == Seq(("z", 2L, 3L, 1L, 2L)), z.mkString(","))
    } finally graft.matview.MatView.drop(spark, "magg_view")
  }

  test("ewmaStream matches the batch ewma bit-for-bit on in-order streams") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Streams.{EwmaEvent, EwmaOut}
    val rng = new scala.util.Random(7)
    val events = (1L to 30L).flatMap(o =>
      Seq(EwmaEvent("a", o, rng.nextDouble() * 100),
        EwmaEvent("b", o, rng.nextDouble() * -10)))
    val mem = MemoryStream[EwmaEvent]
    val q = Streams.ewmaStream(mem.toDS(), window = 4).writeStream
      .format("memory").queryName("ewma_out").outputMode("append").start()
    try {
      // two batches split mid-stream: state carries the window tail across
      val (b1, b2) = events.partition(_.ord <= 17L)
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("ewma_out").as[EwmaOut].collect()
      .map(r => (r.key, r.ord) -> r.ewma).toMap
    val batch = graft.operators.Resample.ewma(
      events.toDF(), "key", "ord", "value", window = 4)
      .select(col("key"), col("ord"), col("ewma"))
      .as[(String, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(streamed.keySet == batch.keySet)
    val diffs = streamed.collect { case (k, v) if batch(k) != v => (k, v, batch(k)) }
    assert(diffs.isEmpty, s"stream != batch: ${diffs.take(5)}")
  }

  test("maintainSketch partials fold to the direct sketch; compaction + replay idempotent") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sketch.Kmv
    val dir = Files.createTempDirectory("msk").toString
    val k = 16
    // pre-stream corpus, sketched and seeded
    val initial = (0L until 40L).map(i => ("a", i)) ++ (0L until 10L).map(i => ("b", i))
    Streams.seedSketchStore(
      Kmv.sketch(initial.toDF("cat", "id"), Seq("cat"), Kmv.kmvHash(col("id")), k),
      s"$dir/store")
    val mem = MemoryStream[(String, Long)]
    val q = Streams.maintainSketch(mem.toDF().toDF("cat", "id"), Seq("cat"),
      Kmv.kmvHash(col("id")), k, s"$dir/store",
      Files.createTempDirectory("msk_ck").toString)
    val batch1 = (30L until 60L).map(i => ("a", i)) // overlaps the seed
    val batch2 = (0L until 25L).map(i => ("b", i)) :+ (("c", 7L))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    def sketchMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Seq[Long])].collect().toMap
    val all = (initial ++ batch1 ++ batch2).toDF("cat", "id")
    val direct = sketchMap(
      Kmv.sketch(all, Seq("cat"), Kmv.kmvHash(col("id")), k))
    val folded = sketchMap(
      Streams.foldSketch(spark, s"$dir/store", Seq("cat"), "kmv", k))
    assert(folded == direct, "stream-folded sketch != direct sketch of all facts")

    // compact, then simulate a post-compaction batch REPLAY (the crashed-
    // sink case): re-merging already-folded rows must change nothing
    Streams.compactSketchStore(spark, s"$dir/store", Seq("cat"), "kmv", k)
    val afterCompact = sketchMap(
      Streams.foldSketch(spark, s"$dir/store", Seq("cat"), "kmv", k))
    assert(afterCompact == direct, "compaction changed the folded sketch")
    Kmv.sketch(batch2.toDF("cat", "id"), Seq("cat"), Kmv.kmvHash(col("id")), k)
      .write.mode("overwrite").parquet(s"$dir/store/batch=1") // replayed dir
    val afterReplay = sketchMap(
      Streams.foldSketch(spark, s"$dir/store", Seq("cat"), "kmv", k))
    assert(afterReplay == direct, "replayed batch broke idempotence")
  }

  test("maintainCountMin partials fold to the direct grid; watermark guards post-compaction replays") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sketch.CountMin
    val dir = Files.createTempDirectory("mcm").toString
    val (d, w) = (3, 32)
    val initial = (0L until 40L).map(i => ("a", i % 7)) ++
      (0L until 10L).map(i => ("b", i))
    Streams.seedCountMinStore(
      CountMin.sketch(initial.toDF("cat", "id"), Seq("cat"), col("id"), d, w),
      s"$dir/store")
    val mem = MemoryStream[(String, Long)]
    val q = Streams.maintainCountMin(mem.toDF().toDF("cat", "id"), Seq("cat"),
      col("id"), d, w, s"$dir/store",
      Files.createTempDirectory("mcm_ck").toString)
    val batch1 = (30L until 60L).map(i => ("a", i % 5))
    val batch2 = (0L until 25L).map(i => ("b", i % 3)) :+ (("c", 7L))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    def gridMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Seq[Long])].collect().toMap
    val all = (initial ++ batch1 ++ batch2).toDF("cat", "id")
    val direct = gridMap(CountMin.sketch(all, Seq("cat"), col("id"), d, w))
    val folded = gridMap(
      Streams.foldCountMin(spark, s"$dir/store", Seq("cat"), "cm", d, w))
    assert(folded == direct, "stream-folded grid != direct grid of all facts")

    // compact, then replay an already-folded batch: WITHOUT the watermark
    // the zip-sum would double-count batch2's rows — the filter must
    // exclude ids at or below _folded_through
    Streams.compactCountMinStore(spark, s"$dir/store", Seq("cat"), "cm", d, w)
    assert(gridMap(Streams.foldCountMin(
      spark, s"$dir/store", Seq("cat"), "cm", d, w)) == direct,
      "compaction changed the folded grid")
    CountMin.sketch(batch2.toDF("cat", "id"), Seq("cat"), col("id"), d, w)
      .write.mode("overwrite").parquet(s"$dir/store/batch=1") // replayed dir
    assert(gridMap(Streams.foldCountMin(
      spark, s"$dir/store", Seq("cat"), "cm", d, w)) == direct,
      "post-compaction replayed batch double-counted")
  }

  test("maintainOhlc: folded candles equal the batch ohlc over all facts") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("mohlc").toString
    val mem = MemoryStream[(String, Long, Long, Long)]
    val q = Streams.maintainOhlc(
      mem.toDF().toDF("g", "tick", "v", "ord"), "g", "tick", "v", "ord",
      s"$dir/store", Files.createTempDirectory("mohlc_ck").toString)
    // batch boundaries split ticks so the anchors must really fold:
    // tick 1's open arrives in batch 1, its close in batch 2
    val b1 = Seq(("g", 1L, 5L, 10L), ("g", 1L, 9L, 11L), ("h", 1L, 6L, 15L))
    val b2 = Seq(("g", 1L, 2L, 12L), ("g", 1L, 7L, 13L), ("g", 2L, 4L, 20L))
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    def m(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Long, Long, Long, Long, Long, Long)].collect()
        .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6, r._7))).toMap
    val folded = m(Streams.foldOhlc(spark, s"$dir/store", "g", "tick"))
    val direct = m(graft.operators.Resample.ohlc(
      (b1 ++ b2).toDF("g", "tick", "v", "ord"), "g", "tick", "v", "ord"))
    assert(folded == direct, s"folded $folded != direct $direct")
    assert(folded(("g", 1L)) == ((5L, 9L, 2L, 7L, 4L)), "cross-batch anchors")
  }

  test("incremental BPE: streamed word-count store retrains to the batch tokenizer") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.{explode, split, lower}
    val dir = Files.createTempDirectory("bpe_inc").toString
    val specs = Seq(Streams.AggSpec("count", "", "freq"))
    val mem = MemoryStream[String]
    val words = mem.toDF().toDF("text")
      .select(explode(split(lower(col("text")), " ")).as("word"))
      .filter(col("word") =!= "")
    val q = Streams.maintainAggregate(words, Seq("word"), specs,
      s"$dir/store", Files.createTempDirectory("bpe_ck").toString)
    val batch1 = Seq("low low lower", "newest newest widest")
    val batch2 = Seq("low lowest newest", "widest widest wide")
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()
    val folded = Streams.foldAggregate(spark, s"$dir/store", Seq("word"), specs)
    val incMerges = graft.llm.Bpe.trainFromWordCounts(folded, nMerges = 6)
      .collect().toSeq.map(_.toSeq)
    val batchMerges = graft.llm.Bpe.train(
      (batch1 ++ batch2).toDF("text"), "text", nMerges = 6)
      .collect().toSeq.map(_.toSeq)
    assert(incMerges == batchMerges,
      s"incremental tokenizer diverged:\n$incMerges\nvs\n$batchMerges")
  }

  test("retractive aggregate maintenance: deletes/updates cancel exactly; emptied groups vanish") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("mar").toString
    val specs = Seq(Streams.AggSpec("count", "", "cnt"),
      Streams.AggSpec("sum", "v", "sum_v"))
    val mem = MemoryStream[(Int, String, Long)]
    val q = Streams.maintainAggregateRetractive(
      mem.toDF().toDF("op", "cat", "v"), Seq("cat"), specs, "op",
      s"$dir/store", Files.createTempDirectory("mar_ck").toString)
    try {
      mem.addData((1, "a", 10L), (1, "a", 20L), (1, "b", 5L))
      q.processAllAvailable()
      // update b: retract+insert pair; delete one a row; new group c
      mem.addData((-1, "a", 10L), (1, "a", 7L),
        (-1, "b", 5L), (1, "b", 9L), (1, "c", 1L))
      q.processAllAvailable()
      // retract group c entirely
      mem.addData((-1, "c", 1L))
      q.processAllAvailable()
    } finally q.stop()

    def folded = Streams.foldAggregateRetractive(
      spark, s"$dir/store", Seq("cat"), specs, "cnt")
      .as[(String, Long, Long)].collect()
      .map { case (c, n, s) => c -> ((n, s)) }.toMap
    // net rows: a = {20, 7}, b = {9}, c = ∅
    assert(folded == Map("a" -> ((2L, 27L)), "b" -> ((1L, 9L))), s"$folded")
    // unsigned fold ≡ batch aggregate over the NET row multiset
    val net = Seq(("a", 20L), ("a", 7L), ("b", 9L)).toDF("cat", "v")
      .groupBy("cat").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
      .as[(String, Long, Long)].collect()
      .map { case (c, n, s) => c -> ((n, s)) }.toMap
    assert(folded == net, "folded retractive view != batch over net rows")
    // compaction: zero-count groups stay IN the signed seed (so later
    // re-inserts fold on top) but OUT of the read path
    Streams.compactAggregateStore(spark, s"$dir/store", Seq("cat"), specs)
    assert(folded == net, "compaction changed the folded retractive view")
    val seed = spark.read.parquet(s"$dir/store/batch=-1")
      .as[(String, Long, Long)].collect()
      .map { case (c, n, s) => c -> ((n, s)) }.toMap
    assert(seed("c") == ((0L, 0L)), s"zero-count group missing from seed: $seed")
  }

  test("maintainHistogram partials fold to the direct grid; watermark guards replays") {
    implicit val sqlCtx = spark.sqlContext
    import graft.sketch.Histo
    val dir = Files.createTempDirectory("mh").toString
    val (lo, step, w) = (0L, 10L, 8)
    val mem = MemoryStream[(String, Long)]
    val q = Streams.maintainHistogram(mem.toDF().toDF("cat", "v"), Seq("cat"),
      col("v"), lo, step, w, s"$dir/store",
      Files.createTempDirectory("mh_ck").toString)
    val batch1 = (0L until 40L).map(i => ("a", i % 70))
    val batch2 = (0L until 25L).map(i => ("b", i * 3 % 80)) :+ (("a", 75L))
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    def gridMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(String, Seq[Long])].collect().toMap
    val all = (batch1 ++ batch2).toDF("cat", "v")
    val direct = gridMap(Histo.sketch(all, Seq("cat"), col("v"), lo, step, w))
    assert(gridMap(Streams.foldHistogram(
      spark, s"$dir/store", Seq("cat"), "hist", w)) == direct)

    Streams.compactHistogramStore(spark, s"$dir/store", Seq("cat"), "hist", w)
    assert(gridMap(Streams.foldHistogram(
      spark, s"$dir/store", Seq("cat"), "hist", w)) == direct,
      "compaction changed the folded grid")
    // replay an already-folded batch: watermark must exclude it
    Histo.sketch(batch2.toDF("cat", "v"), Seq("cat"), col("v"), lo, step, w)
      .write.mode("overwrite").parquet(s"$dir/store/batch=1")
    assert(gridMap(Streams.foldHistogram(
      spark, s"$dir/store", Seq("cat"), "hist", w)) == direct,
      "post-compaction replay double-counted")
  }

  test("maintainHeavyHitters: folded bounds stay exact across batches and compaction") {
    implicit val sqlCtx = spark.sqlContext
    val dir = Files.createTempDirectory("mhh").toString
    val k = 8
    val mem = MemoryStream[String]
    val q = Streams.maintainHeavyHitters(mem.toDF().toDF("key"), "key", k,
      s"$dir/store", Files.createTempDirectory("mhh_ck").toString)
    val batch1 = Seq.fill(60)("hot") ++ (0 until 40).map(i => s"a$i")
    val batch2 = Seq.fill(30)("hot") ++ Seq.fill(25)("warm") ++
      (0 until 30).map(i => s"b$i")
    try {
      mem.addData(batch1: _*); q.processAllAvailable()
      mem.addData(batch2: _*); q.processAllAvailable()
    } finally q.stop()

    val all = batch1 ++ batch2
    val truth = all.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = all.length.toLong
    def check(tag: String): Unit = {
      val f = Streams.foldHeavyHitters(spark, s"$dir/store", "key")
        .as[(String, Long, Long, Long)].collect()
      assert(f.head._4 == n, s"$tag: n=${f.head._4} != $n")
      f.foreach { case (key, cnt, e, _) =>
        assert(cnt <= truth(key) && truth(key) <= cnt + e, s"$tag bound at $key") }
      val absent = truth.keySet -- f.map(_._1).toSet
      absent.foreach(key => assert(truth(key) <= f.head._3, s"$tag absent $key"))
      // candidate report: no false negatives vs the true > n/k set
      val trueHh = truth.filter { case (_, c) => c * k > n }.keySet
      val cands = Streams.heavyHittersFromStore(spark, s"$dir/store", "key", k)
        .as[(String, Long, Long, Long)].collect().map(_._1).toSet
      assert(trueHh.subsetOf(cands), s"$tag missed: ${trueHh -- cands}")
    }
    check("pre-compaction")
    Streams.compactHeavyHitterStore(spark, s"$dir/store", "key", k)
    check("post-compaction")
    // replayed already-folded batch must be excluded by the watermark
    graft.sketch.MisraGries.summary(batch2.toDF("key"), "key", k)
      .write.mode("overwrite").parquet(s"$dir/store/batch=1")
    check("post-compaction replay")
  }
}
