package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Event

/** Structured Streaming behavior: watermarked windowed aggregation via
  * MemoryStream, and the stream/batch-unified transforms in batch mode.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)

  test("windowed counts over a MemoryStream emit per-window totals") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "click", 2.0),
      Event(3, ts(65), 2, "view", 3.0))
    val q = EventStreams.windowedCounts(mem.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("wc").outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      val rows = spark.table("wc")
        .select(col("event_type"), col("n"), col("total")).collect()
      assert(rows.length == 2)
      val click = rows.find(_.getString(0) == "click").get
      assert(click.getLong(1) == 2 && click.getDouble(2) == 3.0)
    } finally q.stop()
  }

  test("sessionize splits on >30min gaps (batch-mode execution)") {
    val events = Seq(
      Event(1, ts(0), 7, "a", 0), Event(2, ts(10), 7, "a", 0),
      Event(3, ts(50), 7, "a", 0), // 40-min gap -> closes session 0
      Event(4, ts(55), 7, "a", 0)).toDS()
    val out = EventStreams.sessionize(events).collect()
    assert(out.length == 1) // one closed session (the open one stays in state)
    // session identity is the start epoch-ms (durable across state
    // evictions), not a per-state ordinal
    assert(out.head.session_id == ts(0).getTime && out.head.n_events == 2)
    assert(out.head.session_id == out.head.start_ms)
  }

  test("stream-stream interval join attributes clicks to in-window views only") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val data = Seq(
      Event(10, ts(0), 1, "view", 0),   // view, then click 20min later: match
      Event(11, ts(20), 1, "click", 0),
      Event(12, ts(100), 1, "click", 0), // 100min after the view: no match
      Event(13, ts(0), 2, "view", 0),    // other user's view: no match
      Event(14, ts(5), 3, "click", 0))   // click with no view: no match
    mem.addData(data: _*)
    val q = EventStreams.clickAttribution(mem.toDF())
      .writeStream.format("memory").queryName("attr").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("attr")
        .select("user_id", "click_id", "view_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((1L, 11L, 10L)), got)
      // stream/batch unification: the same plan over the same rows as a
      // batch frame returns the same pairs
      val batch = EventStreams.clickAttribution(data.toDF())
        .select("user_id", "click_id", "view_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(batch == got, batch)
    } finally q.stop()
  }

  test("stream-stream interval join drops pairs behind the watermark") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.clickAttribution(mem.toDF())
      .writeStream.format("memory").queryName("attr_late").outputMode("append")
      .start()
    try {
      // batch 1 advances the event-time watermark to ts(205) - 1h
      mem.addData(Event(1, ts(200), 9, "view", 0),
        Event(2, ts(205), 9, "click", 0))
      q.processAllAvailable()
      // batch 2: a perfectly matching pair, but entirely BEHIND the
      // watermark — the join must drop it rather than buffer forever
      // (this is the state-eviction contract the 100 TB posture rests
      // on: without it the view buffer grows with stream length)
      mem.addData(Event(3, ts(0), 1, "view", 0),
        Event(4, ts(10), 1, "click", 0))
      q.processAllAvailable()
      val got = spark.table("attr_late")
        .select("user_id", "click_id", "view_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set((9L, 2L, 1L)), got)
    } finally q.stop()
  }

  test("dedupStream drops duplicate keys within the watermark horizon") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(
      Event(1, ts(0), 1, "click", 1.0),
      Event(1, ts(1), 1, "click", 1.0), // same event_id -> dropped
      Event(2, ts(2), 1, "view", 2.0),
      Event(2, ts(3), 1, "view", 2.0),  // dropped
      Event(3, ts(4), 2, "click", 3.0))
    val q = EventStreams.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dd").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val ids = spark.table("dd").select("event_id")
        .collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L), ids.mkString(","))
    } finally q.stop()
  }

  test("stream/batch equivalence: windowedCounts agrees with the batch groupBy") {
    implicit val sc = spark.sqlContext
    // 60 events over 3 hours, 2 types, repeating users — enough to
    // populate several windows with mixed content
    val events = (0 until 60).map { i =>
      Event(i, ts(i * 7 % 180), i % 5, if (i % 3 == 0) "click" else "view", i * 0.5)
    }
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = EventStreams.windowedCounts(mem.toDF(), "1 hour", "1 hour")
      .writeStream.format("memory").queryName("wceq").outputMode("complete")
      .start()
    try {
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select(col("window.start"), col("event_type"), col("n"),
          round(col("total"), 6).as("total"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      // the same transform on the same rows as a plain batch DataFrame
      // (withWatermark is a no-op in batch) must produce identical
      // window/type totals — the unification claim, now tested
      val streamed = canon(spark.table("wceq"))
      val batch = canon(EventStreams.windowedCounts(events.toDF(), "1 hour", "1 hour"))
      assert(streamed == batch, s"stream $streamed\nbatch $batch")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stream/batch equivalence: ingest dedup keeps exactly batch-distinct keys") {
    implicit val sc = spark.sqlContext
    val events = (0 until 40).map(i => Event(i % 13, ts(i), i % 4, "e", i.toDouble))
    val mem = MemoryStream[Event]
    mem.addData(events: _*)
    val q = EventStreams.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("ddeq").outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      val streamIds = spark.table("ddeq").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      val batchIds = events.toDF().dropDuplicates("event_id").select("event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(streamIds == batchIds, s"stream $streamIds vs batch $batchIds")
      assert(streamIds == streamIds.distinct, "stream emitted a duplicate key")
    } finally q.stop()
  }

  test("stream/batch equivalence: sessionize closed sessions match batch gap-split") {
    implicit val sc = spark.sqlContext
    // two users, events split across TWO triggers so session state must
    // survive the micro-batch boundary: u1's first session is closed by
    // an event arriving in the second trigger
    val b1 = Seq(Event(1, ts(0), 1, "a", 0), Event(2, ts(10), 1, "a", 0),
      Event(3, ts(0), 2, "a", 0))
    val b2 = Seq(Event(4, ts(50), 1, "a", 0), Event(5, ts(60), 1, "a", 0),
      Event(6, ts(45), 2, "a", 0), Event(7, ts(140), 2, "a", 0))
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("sseq").outputMode("append")
      .start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      val streamed = spark.table("sseq")
        .select("user_id", "n_events", "start_ms", "end_ms")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // batch reference: the q20-style gap-split windows over the SAME
      // events, aggregated to sessions, minus each user's final session
      // (still open in the stream's state, so never emitted)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gapS = unix_timestamp(col("ts")) - unix_timestamp(lag(col("ts"), 1).over(w))
      val sessions = (b1 ++ b2).toDF()
        .withColumn("is_new", when(gapS.isNull || gapS > 1800, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("is_new"))
          .over(w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
          (unix_timestamp(min(col("ts"))) * 1000).as("start_ms"),
          (unix_timestamp(max(col("ts"))) * 1000).as("end_ms"))
      val lastPerUser = sessions.groupBy("user_id")
        .agg(max(col("session_id")).as("session_id"))
      val batch = sessions.join(lastPerUser, Seq("user_id", "session_id"), "left_anti")
        .select("user_id", "n_events", "start_ms", "end_ms")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed == batch, s"stream $streamed\nbatch $batch")
      assert(streamed.size == 3) // u1 s0 (cross-batch close), u2 s0, u2 s1
    } finally q.stop()
  }

  test("sessionize emits and evicts an idle session once the watermark passes its gap") {
    implicit val sc = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStreams.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("ssto").outputMode("append")
      .start()
    try {
      // u1 sends two events, then goes idle forever — under NoTimeout
      // this session would never be emitted and its state never freed
      mem.addData(Event(1, ts(0), 1, "a", 0), Event(2, ts(10), 1, "a", 0))
      q.processAllAvailable()
      assert(spark.table("ssto").count() == 0) // still open, nothing closed
      // another user's traffic advances the watermark (max event time
      // minus 1h) past u1's lastTs + 30min gap: ts(200) -> wm ts(140)
      mem.addData(Event(3, ts(200), 2, "a", 0))
      q.processAllAvailable()
      // next trigger processes timeouts against the advanced watermark
      mem.addData(Event(4, ts(210), 2, "a", 0))
      q.processAllAvailable()
      val got = spark.table("ssto")
        .select("user_id", "n_events", "start_ms", "end_ms")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      // u1's idle session emitted by timeout; u2's session is live (its
      // own timeout is ahead of the watermark) so nothing else appears
      assert(got == Set((1L, 2L, ts(0).getTime, ts(10).getTime)), got)
    } finally q.stop()
  }

  test("streaming ANN ingest: searches see vectors from every committed batch") {
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_annstream").toString
    val all = spark.read.parquet(s"$sfDir/embeddings.parquet")
    graft.llm.Similarity.buildLshIndexFrom(
      all.filter(col("vec_id") < 30), s"$base/idx")
    val rows = all.filter(col("vec_id") >= 30)
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Double](2).toArray))
    val mem = MemoryStream[(Long, Int, Array[Double])]
    val q = graft.streaming.IngestAnn.run(
      mem.toDF().toDF("vec_id", "label", "embedding"),
      s"$base/idx", s"$base/ck")
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      mem.addData(b1.toIndexedSeq); q.processAllAvailable()
      mem.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val inc = graft.llm.Similarity.knnLshFromIndex(spark, s"$base/idx")
      .collect().map(_.toSeq).toSet
    graft.llm.Similarity.buildLshIndexFrom(all, s"$base/full")
    val full = graft.llm.Similarity.knnLshFromIndex(spark, s"$base/full")
      .collect().map(_.toSeq).toSet
    assert(inc == full)
    assert(inc.nonEmpty)
  }

  test("streaming as-of enrichment matches the batch native as-of join") {
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_enrich").toString
    // static dimension: per-key versioned payloads
    val dim = Seq((100L, 7L, 5L), (101L, 7L, 20L), (200L, 8L, 15L))
      .toDF("ver", "dk", "dt")
    val mem = MemoryStream[(Long, Long, Long)]
    val q = EventStreams.enrichAsOf(mem.toDF().toDF("id", "k", "t"),
      dim, ("k", "dk"), ("t", "dt"), Seq("ver"),
      s"$base/out", s"$base/ck").start()
    try {
      mem.addData((1L, 7L, 10L), (2L, 8L, 10L))
      q.processAllAvailable()
      mem.addData((3L, 7L, 25L), (4L, 9L, 25L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$base/out")
      .collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .toMap
    // same rows the batch operator produces over the union of batches
    assert(got == Map(1L -> Some(100L), 2L -> None,
      3L -> Some(101L), 4L -> None))
  }

  test("checkpointed parquet sink recovers exactly-once across a stop/restart") {
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val srcDir = s"$base/src"; val outDir = s"$base/out"; val ck = s"$base/ck"
    def start() = EventStreams.writeParquet(
      EventStreams.readEvents(spark, srcDir), outDir, ck).start()
    // run 1: first batch of files flows through to the sink
    (0 until 20).map(i => Event(i, ts(i), i % 3, "e", i)).toDS()
      .write.mode("append").parquet(srcDir)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // new files land while the query is DOWN; the restarted query must
    // pick up exactly these from the checkpointed offset — re-emitting
    // none of run 1's output and losing none of the new files
    (20 until 35).map(i => Event(i, ts(i), i % 3, "e", i)).toDS()
      .write.mode("append").parquet(srcDir)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val ids = spark.read.parquet(outDir).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until 35L).toSeq, s"expected 0..34 exactly once, got $ids")
  }

  test("streaming ingest dedup: index anti-join, cross-batch dupes dropped, index grows") {
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_ingest").toString
    // known corpus → persisted fp index (the d6 posture)
    graft.llm.Dedup.writeFpIndex(spark, sfDir, "ing_idx", buckets = 8)
    val before = spark.table("ing_idx").count()
    // a text the index already knows (any known-slice doc)
    val knownText = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") % 5 =!= 4 && col("text").isNotNull)
      .orderBy("doc_id").select("text").head.getString(0)
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.IngestDedup.run(
      mem.toDF().toDF("doc_id", "text"),
      "ing_idx", s"$base/accepted", s"$base/ck")
    try {
      // batch 1: a new doc, a dup of the known corpus, an intra-batch
      // dup pair (min doc_id wins)
      mem.addData((9001L, "wholly new ingest text"), (9002L, knownText),
        (9003L, "repeated ingest text"), (9004L, "repeated ingest text"))
      q.processAllAvailable()
      // batch 2: same text as 9001 under a new id — the index grew in
      // batch 1, so this is now a known dup; plus one genuinely new doc
      mem.addData((9005L, "wholly new ingest text"), (9006L, "second new text"))
      q.processAllAvailable()
    } finally q.stop()
    val accepted = spark.read.parquet(s"$base/accepted")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(accepted == Seq(9001L, 9003L, 9006L), accepted)
    // batch-id provenance partitions exist and the index grew by
    // exactly the accepted fps (the appends ran on the micro-batch's
    // cloned session, so THIS session must refresh its cached file
    // listing — same as any other reader session of a live index)
    assert(spark.read.parquet(s"$base/accepted").columns.contains("batch_id"))
    spark.catalog.refreshTable("ing_idx")
    assert(spark.table("ing_idx").count() == before + 3)
  }

  test("streaming upsert: latest state per key across batches, within-batch " +
      "winner by orderCol, replay of a committed batch changes nothing") {
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val table = s"$base/state"
    val mem = MemoryStream[(Long, Long, String)]
    val q = graft.streaming.IngestUpsert.run(
      mem.toDF().toDF("id", "seq", "v"),
      table, Seq("id"), "seq", s"$base/ck", buckets = 4)
    def state(): Map[Long, (Long, String)] =
      graft.streaming.IngestUpsert.readTable(spark, table)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
        .toMap
    try {
      // batch 1 bootstraps; id=1 appears twice — seq 2 must win
      mem.addData((1L, 1L, "a1"), (1L, 2L, "a2"), (2L, 1L, "b1"))
      q.processAllAvailable()
      spark.catalog.refreshByPath(table)
      assert(state() == Map(1L -> ((2L, "a2")), 2L -> ((1L, "b1"))))
      // batch 2 updates one key, inserts another; untouched key persists
      mem.addData((2L, 2L, "b2"), (3L, 1L, "c1"))
      q.processAllAvailable()
      spark.catalog.refreshByPath(table)
      assert(state() == Map(1L -> ((2L, "a2")), 2L -> ((2L, "b2")),
        3L -> ((1L, "c1"))))
    } finally q.stop()
    // crash-replay: reapplying batch 2 directly must be a no-op
    import spark.implicits._
    graft.streaming.IngestUpsert.processBatch(
      Seq((2L, 2L, "b2"), (3L, 1L, "c1")).toDF("id", "seq", "v"),
      table, Seq("id"), "seq", buckets = 4)
    spark.catalog.refreshByPath(table)
    assert(state() == Map(1L -> ((2L, "a2")), 2L -> ((2L, "b2")),
      3L -> ((1L, "c1"))))
    // layout safety: a later batch passing a DIFFERENT bucket count
    // must still route to the persisted layout (the bootstrap wrote
    // the count as table metadata) — no stale duplicate rows
    graft.streaming.IngestUpsert.processBatch(
      Seq((2L, 3L, "b3")).toDF("id", "seq", "v"),
      table, Seq("id"), "seq", buckets = 16)
    spark.catalog.refreshByPath(table)
    assert(state() == Map(1L -> ((2L, "a2")), 2L -> ((3L, "b3")),
      3L -> ((1L, "c1"))),
      "bucket-count drift left stale rows")
    // tied orderCol values: the remaining columns break the tie, so
    // replays elect the same winner; replay twice and compare
    graft.streaming.IngestUpsert.processBatch(
      Seq((9L, 1L, "za"), (9L, 1L, "zb")).toDF("id", "seq", "v"),
      table, Seq("id"), "seq", buckets = 4)
    spark.catalog.refreshByPath(table)
    val first = state()(9L)
    assert(first == ((1L, "zb")), s"tie must break by value desc: $first")
    graft.streaming.IngestUpsert.processBatch(
      Seq((9L, 1L, "zb"), (9L, 1L, "za")).toDF("id", "seq", "v"),
      table, Seq("id"), "seq", buckets = 4)
    spark.catalog.refreshByPath(table)
    assert(state()(9L) == first, "tied-winner election not deterministic")
  }

  test("streaming SCD2 maintenance: open intervals close at the batch's " +
      "first change, chains stay gapless with one current per key, " +
      "replay converges") {
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_scd2").toString
    val table = s"$base/dim"
    val mem = MemoryStream[(Long, Long, String)]
    val q = graft.streaming.IngestScd2.run(
      mem.toDF().toDF("id", "t", "v"),
      table, Seq("id"), "t", s"$base/ck", buckets = 4)
    def rows(): Seq[(Long, Long, Option[Long], Int, String)] =
      graft.streaming.IngestScd2.readTable(spark, table)
        .select("id", "valid_from", "valid_to", "is_current", "v")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getInt(3), r.getString(4))).toSeq
    try {
      // bootstrap: key 1 has two versions in one batch, key 2 one
      mem.addData((1L, 10L, "a1"), (1L, 20L, "a2"), (2L, 10L, "b1"))
      q.processAllAvailable()
      spark.catalog.refreshByPath(table)
      assert(rows().toSet == Set(
        (1L, 10L, Some(20L), 0, "a1"), (1L, 20L, None, 1, "a2"),
        (2L, 10L, None, 1, "b1")))
      // batch 2: key 1 changes again — its open version closes at the
      // batch's first change; key 2 untouched
      mem.addData((1L, 30L, "a3"), (1L, 40L, "a4"))
      q.processAllAvailable()
      spark.catalog.refreshByPath(table)
      val want = Set(
        (1L, 10L, Some(20L), 0, "a1"), (1L, 20L, Some(30L), 0, "a2"),
        (1L, 30L, Some(40L), 0, "a3"), (1L, 40L, None, 1, "a4"),
        (2L, 10L, None, 1, "b1"))
      assert(rows().toSet == want)
    } finally q.stop()
    // crash-replay of batch 2 must leave the dimension identical: its
    // versions dedupe on (key, valid_from) and the guard refuses to
    // close the open row the batch itself created
    import spark.implicits._
    graft.streaming.IngestScd2.processBatch(
      Seq((1L, 30L, "a3"), (1L, 40L, "a4")).toDF("id", "t", "v"),
      table, Seq("id"), "t", buckets = 4)
    spark.catalog.refreshByPath(table)
    assert(rows().toSet == Set(
      (1L, 10L, Some(20L), 0, "a1"), (1L, 20L, Some(30L), 0, "a2"),
      (1L, 30L, Some(40L), 0, "a3"), (1L, 40L, None, 1, "a4"),
      (2L, 10L, None, 1, "b1")), "replay diverged")
    // per-key invariants on the final table: gapless, one current
    rows().groupBy(_._1).foreach { case (k, vs) =>
      assert(vs.count(_._3.isEmpty) == 1, s"key $k current count")
      val sorted = vs.sortBy(_._2)
      sorted.sliding(2).filter(_.length == 2).foreach { p =>
        assert(p(0)._3.contains(p(1)._2), s"key $k chain gap")
      }
    }
  }

  test("streaming SCD2: a cross-batch change at the open version's exact " +
      "valid_from deterministically replaces it with the new attributes") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_scd2tie").toString
    val table = s"$base/dim"
    def rows(): Set[(Long, Long, Option[Long], Int, String)] =
      graft.streaming.IngestScd2.readTable(spark, table)
        .select("id", "valid_from", "valid_to", "is_current", "v")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getInt(3), r.getString(4))).toSet
    graft.streaming.IngestScd2.processBatch(
      Seq((1L, 10L, "a1"), (1L, 20L, "a2")).toDF("id", "t", "v"),
      table, Seq("id"), "t", buckets = 4)
    // batch 2's change carries ts == the open version's valid_from —
    // allowed by the non-decreasing contract. The (key, valid_from)
    // dedup then ties two OPEN rows with different attributes; the
    // __src tag must resolve it to the NEW batch's attributes
    // (same-instant change = in-place replacement), never a
    // partitioning-dependent coin flip
    graft.streaming.IngestScd2.processBatch(
      Seq((1L, 20L, "a2x")).toDF("id", "t", "v"),
      table, Seq("id"), "t", buckets = 4)
    spark.catalog.refreshByPath(table)
    val want = Set((1L, 10L, Some(20L), 0, "a1"), (1L, 20L, None, 1, "a2x"))
    assert(rows() == want, s"same-instant replacement not deterministic: ${rows()}")
    // replaying the same batch converges (both tied rows now identical)
    graft.streaming.IngestScd2.processBatch(
      Seq((1L, 20L, "a2x")).toDF("id", "t", "v"),
      table, Seq("id"), "t", buckets = 4)
    spark.catalog.refreshByPath(table)
    assert(rows() == want, "replay diverged after same-instant replacement")
  }

  test("late/out-of-order convergence (VERDICT r14 #6): upsert state is " +
      "batch-order-invariant (a LATE lower-seq batch never regresses " +
      "it); SCD2 is row-order-invariant within batches and equals the " +
      "one-shot batch rebuild") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_late").toString
    // --- upsert: the same change set delivered as three batches in
    // three different orders (including seq-1 updates arriving AFTER
    // the seq-3 winner — the late-data case) plus as ONE batch. The
    // max-orderCol election is associative/commutative over batches,
    // so every delivery order must converge to the same state.
    val changes = Seq(
      Seq((1L, 3L, "a3"), (2L, 1L, "b1")),
      Seq((1L, 1L, "a1"), (3L, 2L, "c2")), // key 1: late seq-1 change
      Seq((2L, 2L, "b2"), (3L, 1L, "c1"))) // key 3: late seq-1 change
    def upsertState(order: Seq[Int], dir: String): Map[Long, (Long, String)] = {
      order.foreach(i => graft.streaming.IngestUpsert.processBatch(
        changes(i).toDF("id", "seq", "v"), dir, Seq("id"), "seq", buckets = 4))
      spark.catalog.refreshByPath(dir)
      graft.streaming.IngestUpsert.readTable(spark, dir)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
        .toMap
    }
    val inOrder = upsertState(Seq(0, 1, 2), s"$base/u_inorder")
    val lateOrder = upsertState(Seq(2, 1, 0), s"$base/u_late")
    val oneShot = upsertState(Seq.empty, {
      graft.streaming.IngestUpsert.processBatch(
        changes.flatten.toDF("id", "seq", "v"),
        s"$base/u_oneshot", Seq("id"), "seq", buckets = 4)
      s"$base/u_oneshot"
    })
    assert(inOrder == Map(1L -> ((3L, "a3")), 2L -> ((2L, "b2")),
      3L -> ((2L, "c2"))))
    assert(lateOrder == inOrder, "late batch order diverged the upsert state")
    assert(oneShot == inOrder, "batched delivery diverged from one-shot")
    // --- SCD2: per-key timestamps stay non-decreasing ACROSS batches
    // (the documented CDC contract — older history goes through the
    // batch rebuild), but WITHIN a batch rows arrive in arbitrary
    // order and key batching is arbitrary. Shuffled row order and a
    // different batch split must both converge to the one-shot
    // Maintenance.scdType2 rebuild of the full log.
    val log = Seq((1L, 10L, "a1"), (2L, 10L, "b1"), (1L, 20L, "a2"),
      (1L, 30L, "a3"), (2L, 40L, "b2"), (1L, 50L, "a4"))
    def scd2Rows(dir: String, splits: Seq[Seq[(Long, Long, String)]])
        : Set[(Long, Long, Option[Long], Int, String)] = {
      splits.foreach(b => graft.streaming.IngestScd2.processBatch(
        b.toDF("id", "t", "v"), dir, Seq("id"), "t", buckets = 4))
      spark.catalog.refreshByPath(dir)
      graft.streaming.IngestScd2.readTable(spark, dir)
        .select("id", "valid_from", "valid_to", "is_current", "v")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getInt(3), r.getString(4))).toSet
    }
    // split A: chronological pairs; split B: different cut points with
    // each batch's rows SHUFFLED (reverse order within the batch)
    val a = scd2Rows(s"$base/s_a",
      Seq(log.take(2), log.slice(2, 4), log.drop(4)))
    val b = scd2Rows(s"$base/s_b",
      Seq(log.take(3).reverse, log.drop(3).reverse))
    val rebuild = graft.ops.Maintenance
      .scdType2(log.toDF("id", "t", "v"), Seq("id"), "t", Seq("v"))
      .select("id", "valid_from", "valid_to", "is_current", "v")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getInt(3), r.getString(4))).toSet
    assert(a == rebuild, s"split A diverged from the batch rebuild:\n$a\n$rebuild")
    assert(b == a, s"shuffled/re-split delivery diverged:\n$b\n$a")
  }

  test("ingest replay after a full commit changes nothing; compaction dedupes the index") {
    import graft.streaming.IngestDedup
    val base = java.nio.file.Files.createTempDirectory("graft_replay").toString
    graft.llm.Dedup.writeFpIndex(spark, sfDir, "rep_idx", buckets = 8)
    val batch = Seq((8001L, "replay test text one"), (8002L, "replay test text two"))
      .toDF("doc_id", "text")
    IngestDedup.processBatch(batch, 0L, "rep_idx", s"$base/acc")
    spark.catalog.refreshTable("rep_idx")
    val accepted1 = spark.read.parquet(s"$base/acc")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val idx1 = spark.table("rep_idx").count()
    assert(accepted1 == Seq(8001L, 8002L))
    // crash-replay of the SAME (batch, id) after both sinks committed:
    // the survivor set is now empty, so the accepted directory must
    // survive untouched and the index must not grow
    IngestDedup.processBatch(batch, 0L, "rep_idx", s"$base/acc")
    spark.catalog.refreshTable("rep_idx")
    val accepted2 = spark.read.parquet(s"$base/acc")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(accepted2 == accepted1, "replay clobbered the accepted artifact")
    assert(spark.table("rep_idx").count() == idx1)
    // a partially-replayed append leaves duplicate fps; compaction
    // rewrites the index as its distinct rows with the bucket layout
    // intact (the indexed anti-join still reads SelectedBucketsCount)
    spark.table("rep_idx").limit(5).collect().map(_.getString(0)).toSeq
      .toDF("fp").write.mode("append").format("parquet")
      .bucketBy(8, "fp").sortBy("fp").saveAsTable("rep_idx")
    spark.catalog.refreshTable("rep_idx")
    assert(spark.table("rep_idx").count() == idx1 + 5)
    IngestDedup.compactIndex(spark, "rep_idx", buckets = 8)
    spark.catalog.refreshTable("rep_idx")
    assert(spark.table("rep_idx").count() == idx1)
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = graft.llm.Dedup.incrementalDedupIndexed(spark, sfDir, "rep_idx")
        .queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("readEvents wires a file stream with the batch schema") {
    val df = EventStreams.readEvents(spark, s"$sfDir/events.parquet")
    assert(df.isStreaming)
    assert(df.schema.fieldNames.contains("event_type"))
  }

  test("streaming CMS: merged batch grids equal the one-shot grid over " +
      "the union; replayed batch converges; estimates bound true counts") {
    import graft.streaming.IngestCms
    import graft.functions.CmsAggregator
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_cms").toString
    val mem = MemoryStream[(Long, String)]
    val q = IngestCms.run(mem.toDF().toDF("doc_id", "text"),
      s"$base/sk", s"$base/ck")
    try {
      mem.addData((1L, "alpha beta gamma alpha"), (2L, "beta beta delta"))
      q.processAllAvailable()
      mem.addData((3L, "alpha epsilon"), (4L, "gamma gamma gamma"))
      q.processAllAvailable()
    } finally q.stop()
    val merged = IngestCms.readSketch(spark, s"$base/sk")
    // one-shot batch grid over the same corpus
    val all = Seq((1L, "alpha beta gamma alpha"), (2L, "beta beta delta"),
      (3L, "alpha epsilon"), (4L, "gamma gamma gamma"))
    val oneShot = all.toDF("doc_id", "text")
      .select(explode(graft.llm.TextAnalysis.tokens(lower(col("text"))))
        .as("token"))
      .agg(udaf(CmsAggregator, org.apache.spark.sql.Encoders.STRING)
        .apply(col("token")))
      .head.getSeq[Long](0)
    assert(merged.toSeq == oneShot)
    // crash-replay of a committed batch: same grid, same directory
    IngestCms.processBatch(
      Seq((3L, "alpha epsilon"), (4L, "gamma gamma gamma"))
        .toDF("doc_id", "text"), 1L, s"$base/sk")
    assert(IngestCms.readSketch(spark, s"$base/sk").toSeq == oneShot)
    // probe path: estimates are exact here (no collisions at this
    // cardinality) and always >= truth by the CMS contract
    val est = IngestCms.estimates(spark, s"$base/sk",
        Seq("alpha", "beta", "gamma", "delta", "epsilon").toDF("token"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val truth = Map("alpha" -> 3L, "beta" -> 3L, "gamma" -> 4L,
      "delta" -> 1L, "epsilon" -> 1L)
    truth.foreach { case (t, c) => assert(est(t) >= c) }
    assert(est == truth, s"collisions at toy cardinality: $est")
  }

  test("streaming KMV: merged batch sketches equal the one-shot sketch " +
      "over the union; replayed batch converges; estimate exact below K") {
    import graft.streaming.IngestKmv
    import graft.functions.KmvAggregator
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_kmv").toString
    val mem = MemoryStream[(Long, String)]
    val q = IngestKmv.run(mem.toDF().toDF("doc_id", "text"),
      s"$base/sk", s"$base/ck")
    val b1 = Seq((1L, "alpha beta gamma alpha"), (2L, "beta beta delta"))
    val b2 = Seq((3L, "alpha epsilon"), (4L, "gamma gamma gamma"))
    try {
      mem.addData(b1: _*)
      q.processAllAvailable()
      mem.addData(b2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val merged = IngestKmv.readSketch(spark, s"$base/sk")
    // one-shot batch sketch over the same corpus
    val oneShot = graft.llm.TextAnalysis
      .bigramHashesOf((b1 ++ b2).toDF("doc_id", "text"))
      .agg(udaf(KmvAggregator, org.apache.spark.sql.Encoders.scalaLong)
        .apply(col("h")))
      .head.getSeq[Long](0)
    assert(merged.toSeq == oneShot)
    // crash-replay of a committed batch: same array, same directory
    IngestKmv.processBatch(b2.toDF("doc_id", "text"), 1L, s"$base/sk")
    assert(IngestKmv.readSketch(spark, s"$base/sk").toSeq == oneShot)
    // 8 distinct bigrams across the two batches — far below K, so the
    // estimate is the exact distinct count
    val distinctBigrams = (b1 ++ b2).flatMap { case (_, t) =>
      val w = t.split("\\s+"); w.init.zip(w.tail).map(p => s"${p._1} ${p._2}")
    }.distinct.size
    assert(merged.length == distinctBigrams)
    assert(IngestKmv.estimate(spark, s"$base/sk") == distinctBigrams.toDouble)
  }

  test("streaming perceptual ingest: each batch flags against the PRIOR " +
      "index only, later batches see earlier ones, and the index grows " +
      "by the batches' band rows") {
    import graft.llm.Multimodal
    import graft.llm.Multimodal.MediaRow
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_iph").toString
    val table = "phash_stream_spec"
    graft.ops.Partitioning.dropManaged(spark, table)
    Multimodal.writePhashIndex(spark, sfDir, table)
    val baseRows = spark.table(table).count()
    // a stored 'audio'-kind doc to copy verbatim (doc_id % 3 == 1)
    val src = graft.core.Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") % 3 === 1 && col("text").isNotNull)
      .select("doc_id", "text").head()
    val (srcId, srcText) = (src.getLong(0), src.getString(1))
    def row(id: Long, text: String) = {
      val b = text.getBytes("UTF-8")
      MediaRow(id, "audio", b, b.length.toLong)
    }
    val novel = "a genuinely novel streaming payload qqx wvz unlike others"
    val mem = MemoryStream[MediaRow]
    val q = graft.streaming.IngestPhash.run(mem.toDS(), table,
      s"$base/flags", s"$base/ck")
    try {
      mem.addData(row(910001L, srcText), row(910002L, novel))
      q.processAllAvailable()
      // batch 2 duplicates batch 1's novel doc — only visible if the
      // first batch's signatures actually landed in the index
      mem.addData(row(910003L, novel))
      q.processAllAvailable()
    } finally q.stop()
    def flags(b: Int) = spark.read.parquet(s"$base/flags/batch_id=$b")
      .select("id_new", "id_old", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val f0 = flags(0)
    assert(f0.get((910001L, srcId)).contains(0), s"batch-0 flags: $f0")
    assert(!f0.keys.exists(k => k._2 >= 910000L),
      "batch-0 flagged against its own members")
    val f1 = flags(1)
    assert(f1.get((910003L, 910002L)).contains(0), s"batch-1 flags: $f1")
    // 3 media rows ingested → 3 × PhashBands band rows appended
    // (refresh: the pre-ingest count above cached this session's file
    // listing for the table; the appends themselves were visible to
    // the in-stream checks, which read through insertInto's refresh)
    spark.catalog.refreshTable(table)
    assert(spark.table(table).count() ==
      baseRows + 3L * Multimodal.PhashBands)
  }

  test("streaming drift monitor: per-batch per-dim shifts vs the persisted " +
      "baseline; a shifted batch flags exactly its shifted dimension; " +
      "replay is a byte-identical overwrite") {
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_drift").toString
    graft.streaming.IngestDrift.writeBaseline(spark, sfDir, s"$base/bl")
    val dim = spark.read.parquet(s"$base/bl").count().toInt
    val baseline = spark.read.parquet(s"$base/bl")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // batch 1: vectors AT the baseline means (shift ≈ 0 everywhere);
    // batch 2: dim 1 displaced by +0.5 (an encoder-swap signature)
    val at = (1 to dim).map(d => baseline(d.toLong).toFloat).toArray
    val off = at.clone(); off(0) = off(0) + 0.5f
    val mem = MemoryStream[Long]
    val q = graft.streaming.IngestDrift.run(
      mem.toDF().select(
        org.apache.spark.sql.functions.typedLit(at).as("embedding")),
      s"$base/bl", s"$base/out", s"$base/ck")
    try { mem.addData(1L, 2L); q.processAllAvailable() } finally q.stop()
    val b1 = spark.read.parquet(s"$base/out/batch_id=0")
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    assert(b1.size == dim)
    assert(b1.values.forall(_ <= 1e-5), s"at-baseline batch drifted: " +
      s"${b1.toSeq.sortBy(-_._2).take(3)}")
    // the shifted batch through the SAME processBatch entry
    import spark.implicits._
    val shifted = Seq(1L, 2L, 3L).toDF("i")
      .select(org.apache.spark.sql.functions.typedLit(off).as("embedding"))
    graft.streaming.IngestDrift.processBatch(shifted, 1L, s"$base/bl",
      s"$base/out")
    def b2() = spark.read.parquet(s"$base/out/batch_id=1")
      .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val first = b2()
    assert(math.abs(first(1L) - 0.5) < 1e-3, s"dim 1 shift ${first(1L)}")
    assert(first.filter(_._1 != 1L).values.forall(_ <= 1e-5),
      "un-shifted dims flagged")
    // crash-replay: identical recompute, identical directory
    graft.streaming.IngestDrift.processBatch(shifted, 1L, s"$base/bl",
      s"$base/out")
    assert(b2() == first, "replay diverged")
  }

  test("streaming NEAR-dup ingest: band probe + Jaccard verify drop " +
      "edited re-uploads cross-batch and within-batch; replay converges") {
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_neardup").toString
    // persisted d2/d3 state via the index facade (exercises both
    // registry rows the gate depends on)
    graft.index.Indexes.build(spark, "band", sfDir, "nd_bands")
    graft.index.Indexes.build(spark, "shingle", sfDir, "nd_hsets")
    // a long corpus doc, lightly edited: word-3-gram Jaccard ~0.95
    val corpusText = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("text").isNotNull &&
        size(split(trim(col("text")), "\\s+")) >= 60)
      .orderBy("doc_id").select(trim(col("text"))).head.getString(0)
    val words = corpusText.split("\\s+")
    val editedCorpus = (words.take(10) ++ Array("EDITEDTOKEN") ++
      words.drop(11)).mkString(" ")
    def novel(tag: String): String =
      (0 until 60).map(i => s"nd_${tag}_w$i").mkString(" ")
    val novelA = novel("a"); val novelB = novel("b")
    val novelBEdited = {
      val w = novelB.split(" "); (w.take(30) ++ Array("CHANGED") ++
        w.drop(31)).mkString(" ")
    }
    val mem = MemoryStream[(Long, String)]
    val q = graft.streaming.IngestNearDup.run(
      mem.toDF().toDF("doc_id", "text"),
      "nd_bands", "nd_hsets", s"$base/acc", s"$base/ck")
    try {
      // batch 1: two novels, a near-dup of the corpus (drop), and a
      // near-dup of novelB in the SAME batch (larger id drops)
      mem.addData((8001L, novelA), (8002L, editedCorpus),
        (8003L, novelB), (8004L, novelBEdited))
      q.processAllAvailable()
      // batch 2: near-dup of batch-1's novelA (the state grew), one new
      mem.addData((8005L, (novelA.split(" ").take(59) ++
        Array("TAILEDIT")).mkString(" ")), (8006L, novel("c")))
      q.processAllAvailable()
    } finally q.stop()
    def accepted(): Seq[Long] = spark.read.parquet(s"$base/acc")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(accepted() == Seq(8001L, 8003L, 8006L), accepted())
    // replay of committed batch 2: every doc self-matches at Jaccard
    // 1.0 through its own indexed hset — nothing rewritten, no growth
    spark.catalog.refreshTable("nd_bands")
    spark.catalog.refreshTable("nd_hsets")
    val (b1, h1) = (spark.table("nd_bands").count(),
      spark.table("nd_hsets").count())
    graft.streaming.IngestNearDup.processBatch(
      Seq((8005L, (novelA.split(" ").take(59) ++
        Array("TAILEDIT")).mkString(" ")), (8006L, novel("c")))
        .toDF("doc_id", "text"),
      1L, "nd_bands", "nd_hsets", s"$base/acc")
    spark.catalog.refreshTable("nd_bands")
    spark.catalog.refreshTable("nd_hsets")
    assert(accepted() == Seq(8001L, 8003L, 8006L), "replay changed accepted")
    assert(spark.table("nd_bands").count() == b1 &&
      spark.table("nd_hsets").count() == h1, "replay grew the indexes")
  }

  test("continuous Benford monitoring: a conforming batch scores a tiny " +
      "chi2, a single-digit batch blows it up, replays are byte-stable") {
    implicit val sc = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_benford")
      .toString
    // batch 0: amounts drawn FROM the Benford shape (frequency of
    // digit d proportional to log10(1+1/d)) — chi2 near zero
    val conforming = (1 to 9).flatMap { d =>
      val n = math.round(1000 * math.log10(1.0 + 1.0 / d)).toInt
      (0 until n).map(i => d * 100.0 + i * 0.01)
    }
    val mem = MemoryStream[Double]
    val q = graft.streaming.IngestBenford.run(
      mem.toDF().select(col("value").as("amount")),
      s"$base/out", s"$base/ck")
    try { mem.addData(conforming: _*); q.processAllAvailable() }
    finally q.stop()
    val b0 = spark.read.parquet(s"$base/out/batch_id=0").collect()
      .map(r => r.getAs[Int]("digit") ->
        (r.getAs[Double]("share"), r.getAs[Double]("chi2"))).toMap
    assert(b0.keySet == (1 to 9).toSet)
    (1 to 9).foreach { d =>
      assert(math.abs(b0(d)._1 - math.log10(1.0 + 1.0 / d)) < 2e-3,
        s"digit $d share ${b0(d)._1}")
    }
    assert(b0.values.map(_._2).sum < 1.0, "conforming batch flagged")
    // batch 1 through the SAME processBatch entry: every amount leads
    // with digit 7 — the injected-synthetic-rows signature
    val spam = (0 until 500).map(i => 7000.0 + i).toDF("amount")
    graft.streaming.IngestBenford.processBatch(spam, 1L, s"$base/out")
    def b1() = spark.read.parquet(s"$base/out/batch_id=1").collect()
      .map(r => r.getAs[Int]("digit") -> r.getAs[Double]("chi2")).toMap
    val first = b1()
    assert(first.keySet == Set(7))
    // all mass on one digit: chi2 contribution (n - n*p)^2/(n*p) with
    // p = log10(8/7) ~ 0.058 -> ~ n * (1-p)^2/p ~ 7660
    assert(first(7) > 5000, s"single-digit batch chi2 ${first(7)}")
    // crash-replay: identical recompute, identical directory
    graft.streaming.IngestBenford.processBatch(spam, 1L, s"$base/out")
    assert(b1() == first, "replay diverged")
  }
}
