package graft.streaming

import graft.{Queries, SparkTestBase}
import graft.pipeline.{ExtractConf, ExtractKernel, Fixtures}
import graft.media.{DeterministicMediaStore, DeterministicOcr, OcrEngine, PageMedia}
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

class StreamSpec extends AnyFunSuite {

  private lazy val spark = SparkTestBase.spark

  /** Marks every OCR pass, so a stream that ignored the injected engine
    * would show unmarked media spans. */
  private object MarkingOcr extends OcrEngine {
    override def recognize(media: PageMedia, passIdx: Int): String =
      "MARKED " + DeterministicOcr.recognize(media, passIdx)
  }

  test("windowed event counts with watermark (append after watermark passes)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = StreamOps.windowedEventCounts(df)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("win_counts").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      in.addData((t(0), "click", 1.0), (t(1), "click", 2.0), (t(2), "view", 3.0))
      q.processAllAvailable()
      // advance event time past watermark so the 10:00 window closes
      in.addData((t(30), "click", 4.0))
      q.processAllAvailable()
      in.addData((t(45), "click", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_counts")
        .select(col("event_type"), col("n_events"), col("value_cents"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(rows.contains(("click", 2L, 300L)), s"got $rows") // 10:00 window
      assert(rows.contains(("view", 1L, 300L)), s"got $rows")
    } finally q.stop()
  }

  test("stateful sessionize accumulates across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val q = StreamOps.sessionize(in.toDS())
      .writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("sessions").start()
    try {
      in.addData((1L, 100L), (1L, 200L), (2L, 50L))
      q.processAllAvailable()
      in.addData((1L, 300L))
      q.processAllAvailable()
      val last = spark.table("sessions")
        .groupBy(col("user_id"))
        .agg(max(col("n_events")).as("n"), min(col("first_us")).as("f"), max(col("last_us")).as("l"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(last.contains((1L, 3L, 100L, 300L)), s"got $last")
      assert(last.contains((2L, 1L, 50L, 50L)), s"got $last")
    } finally q.stop()
  }

  test("streaming extraction equals the batch kernel") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val conf = ExtractConf(level = "medium")
    val docs = Fixtures.testDocs.take(16)
    val in = MemoryStream[graft.model.Doc]
    val q = StreamOps.extractStream(in.toDS(), conf)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("extracted").start()
    try {
      in.addData(docs.take(8))
      q.processAllAvailable()
      in.addData(docs.drop(8))
      q.processAllAvailable()
      val got = spark.table("extracted").as[graft.model.DocOut]
        .collect().map(d => d.doc_id -> d).toMap
      assert(got.keySet == docs.map(_.doc_id).toSet)
      docs.foreach { d =>
        val exp = ExtractKernel.extractWhole(d, DeterministicMediaStore, DeterministicOcr, conf)
        assert(got(d.doc_id).spans == exp.spans, s"stream/batch mismatch for ${d.doc_id}")
        assert(got(d.doc_id).confidence == exp.confidence)
      }
    } finally q.stop()
  }

  test("streaming extraction uses the injected OcrEngine") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val conf = ExtractConf(level = "medium")
    val docs = Fixtures.testDocs.take(16)
    val in = MemoryStream[graft.model.Doc]
    val q = StreamOps.extractStream(in.toDS(), conf, engine = MarkingOcr)
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("extracted_marked").start()
    try {
      in.addData(docs)
      q.processAllAvailable()
      val got = spark.table("extracted_marked").as[graft.model.DocOut]
        .collect().map(d => d.doc_id -> d).toMap
      assert(got.keySet == docs.map(_.doc_id).toSet)
      docs.foreach { d =>
        val exp = ExtractKernel.extractWhole(d, DeterministicMediaStore, MarkingOcr, conf)
        assert(got(d.doc_id).spans == exp.spans, s"stream/batch mismatch for ${d.doc_id}")
      }
      assert(got.values.exists(_.spans.exists(_.text.contains("MARKED"))),
        "OCR-backed spans must come from the injected engine")
    } finally q.stop()
  }

  test("dd_stream_exact drops its memory-sink view after each execution") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    Seq((1L, "alpha beta gamma", "web"), (2L, "delta epsilon", "web"), (3L, "zeta", "pdf"))
      .toDF("doc_id", "text", "source").write.parquet(s"$dir/documents.parquet")
    val runs = (1 to 2).map(_ => Queries.all("dd_stream_exact")(spark, dir).collect().length)
    assert(runs == Seq(3, 3), s"each run keeps the 3 originals: $runs")
    val sinks = spark.catalog.listTables().collect().map(_.name).filter(_.contains("_sink_"))
    assert(sinks.isEmpty, s"leaked memory-sink views: ${sinks.mkString(", ")}")
  }

  test("streaming dedup: first doc per fingerprint wins, across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.dedupStream(in.toDS())
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("dedup_stream").start()
    try {
      // batch 1: 1 and 2 are dups (same normalized text — whitespace/case),
      // smaller id wins; 3 is distinct
      in.addData((2L, "Hello   World"), (1L, "hello world"), (3L, "other text"))
      q.processAllAvailable()
      // batch 2: 4 duplicates batch 1's fingerprint → dropped by state;
      // 5 is new
      in.addData((4L, "HELLO WORLD"), (5L, "fresh content"))
      q.processAllAvailable()
      val kept = spark.table("dedup_stream")
        .collect().map(r => r.getLong(0)).toSet
      assert(kept == Set(1L, 3L, 5L), s"got $kept")
    } finally q.stop()
  }

  test("streaming near-dup: band-digest state finds cross-batch near duplicates") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val base = ("the quick brown fox jumps over the lazy dog while morning " +
      "light crosses the quiet valley and birds begin their long careful " +
      "song about rivers mountains forests meadows and the slow turning " +
      "of the bright summer season")
    val nearCopy = base.replace("careful", "gentle") // 1 of ~40 words
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.nearDupStream(in.toDS()).toDF("doc_id", "base")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("near_stream").start()
    try {
      in.addData((10L, base), (11L, "a completely unrelated document about " +
        "industrial chemistry processes and the catalytic reduction of " +
        "nitrogen compounds under high pressure in continuous reactors"))
      q.processAllAvailable()
      // batch 2: exact copy (all bands collide — guaranteed), a near copy
      // (deterministic for these fixed strings), and a fresh doc
      in.addData((20L, base), (21L, nearCopy), (22L, "tiny"))
      q.processAllAvailable()
      val dupOf = spark.table("near_stream")
        .groupBy(col("doc_id")).agg(min(col("base")).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dupOf.get(20L).contains(10L), s"exact copy must hit state: $dupOf")
      assert(dupOf.get(21L).contains(10L), s"near copy must hit state: $dupOf")
      assert(!dupOf.contains(10L) && !dupOf.contains(11L) && !dupOf.contains(22L),
        s"firsts and sub-shingle docs must not emit: $dupOf")
    } finally q.stop()
  }

  test("TTL dedup: state expires with the watermark, late duplicate re-emits") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamOps.dedupStreamTtl(in.toDS(), ttlMs = 10 * 60 * 1000L)
      .toDF("doc_id", "text")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ttl_dedup").start()
    try {
      in.addData((1L, "hello world", t(0)))   // emitted; window until 10:10
      q.processAllAvailable()
      in.addData((2L, "HELLO  world", t(5)))  // dup inside window → dropped
      q.processAllAvailable()
      in.addData((3L, "other text", t(30)))   // advances watermark to 10:30
      q.processAllAvailable()
      // watermark (10:30) > the hello state's 10:05+10min timeout → the
      // state is removed in this batch's timeout pass
      in.addData((4L, "third doc", t(35)))
      q.processAllAvailable()
      in.addData((5L, "hello world", t(40)))  // state expired → RE-emitted
      q.processAllAvailable()
      val kept = spark.table("ttl_dedup").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L, 4L, 5L), s"got $kept")
    } finally q.stop()
  }

  test("TTL dedup: expiry is event-time, independent of micro-batch boundaries") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamOps.dedupStreamTtl(in.toDS(), ttlMs = 10 * 60 * 1000L)
      .toDF("doc_id", "text")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ttl_dedup_batching").start()
    try {
      in.addData((1L, "same text", t(0)))
      q.processAllAvailable()
      // ONE batch containing an in-window dup (10:05) AND a past-ttl dup
      // (10:40): the watermark has not advanced past the state's timeout,
      // but the 10:40 row's own event time decides expiry — the
      // round-4-review bug suppressed it whenever these shared a batch
      in.addData((2L, "SAME   text", t(5)), (3L, "same text", t(40)))
      q.processAllAvailable()
      val kept = spark.table("ttl_dedup_batching").collect().map(_.getLong(0)).toSet
      assert(kept == Set(1L, 3L), s"got $kept")
    } finally q.stop()
  }

  test("TTL dedup late-data boundary: rows behind the lateness watermark are dropped, lateness admits them") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    // lateness 0 (ordered-log default): a cross-batch out-of-order NEW doc
    // is dropped by FlatMapGroupsWithStateExec before the function runs —
    // silent loss, which is why the lateness is a sized knob, not a
    // hidden constant (round-4 advice)
    val in0 = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q0 = StreamOps.dedupStreamTtl(in0.toDS(), ttlMs = 10 * 60 * 1000L)
      .toDF("doc_id", "text")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ttl_late0").start()
    try {
      in0.addData((1L, "first doc", t(20)))   // watermark → 10:20 after batch
      q0.processAllAvailable()
      in0.addData((2L, "straggler doc", t(10))) // 10:10 < watermark → dropped
      q0.processAllAvailable()
      val kept0 = spark.table("ttl_late0").collect().map(_.getLong(0)).toSet
      assert(kept0 == Set(1L), s"lateness-0 straggler must be dropped: $kept0")
    } finally q0.stop()
    // the same stream with 15-minute allowed lateness keeps the straggler
    val in1 = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q1 = StreamOps.dedupStreamTtl(in1.toDS(), ttlMs = 10 * 60 * 1000L,
        allowedLateness = "15 minutes")
      .toDF("doc_id", "text")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ttl_late15").start()
    try {
      in1.addData((1L, "first doc", t(20)))
      q1.processAllAvailable()
      in1.addData((2L, "straggler doc", t(10))) // 10:10 ≥ 10:20−15m → kept
      q1.processAllAvailable()
      val kept1 = spark.table("ttl_late15").collect().map(_.getLong(0)).toSet
      assert(kept1 == Set(1L, 2L), s"15m lateness must admit the straggler: $kept1")
    } finally q1.stop()
  }

  test("TTL near-dup: band state expires with the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def t(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val base = "the quick brown fox jumps over the lazy dog near the still river tonight"
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamOps.nearDupStreamTtl(in.toDS(), ttlMs = 10 * 60 * 1000L)
      .toDF("doc_id", "base")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("ttl_near").start()
    try {
      in.addData((1L, base, t(0)))
      q.processAllAvailable()
      in.addData((2L, base, t(5)))    // inside window → collides with 1
      q.processAllAvailable()
      in.addData((3L, "unrelated filler words about glacier maps and tidal charts for navigation", t(30)))
      q.processAllAvailable()
      in.addData((4L, "second filler batch to run the timeout pass", t(35)))
      q.processAllAvailable()
      in.addData((5L, base, t(40)))   // state expired → no collision emitted
      q.processAllAvailable()
      val hits = spark.table("ttl_near")
        .groupBy(col("doc_id")).agg(min(col("base")).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(hits.get(2L).contains(1L), s"in-window near-dup must collide: $hits")
      assert(!hits.contains(5L), s"post-expiry doc must read as new: $hits")
    } finally q.stop()
  }

  test("session windows: gap-separated events form two sessions") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(Timestamp, Long)]
    val df = in.toDF().toDF("ts", "user_id")
    val q = StreamOps.sessionWindows(df, gap = "5 minutes")
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName("sess_win").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 09:$min%02d:00")
      // user 7: burst at 09:00-09:02, second burst at 09:20 (gap > 5m)
      in.addData((t(0), 7L), (t(2), 7L), (t(20), 7L))
      q.processAllAvailable()
      // advance watermark far enough to close both sessions
      in.addData((t(59), 99L))
      q.processAllAvailable()
      val sessions = spark.table("sess_win")
        .filter(col("user_id") === 7L)
        .select(col("n_events")).collect().map(_.getLong(0)).sorted.toSeq
      assert(sessions == Seq(1L, 2L), s"expected sessions of 2 and 1 events, got $sessions")
    } finally q.stop()
  }
}
