package graft.streaming

import graft.media.{DeterministicMediaStore, DeterministicOcr, MediaStore, OcrEngine}
import graft.model.{Doc, DocOut}
import graft.pipeline.{ExtractConf, ExtractKernel}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface. The reference has NO data streaming — its
  * `/stream-extract` is SSE progress reporting (SURVEY.md §2.4) — so these
  * are the engine's own streaming capabilities for the continuous-ingest
  * path a production corpus has:
  *
  *  - `windowedEventCounts`: event-time tumbling windows + watermark (late
  *    data dropped after 10 min) over the events stream.
  *  - `sessionize`: stateful per-user sessions via `mapGroupsWithState` —
  *    running event count + session span, the canonical custom-state shape.
  *  - `extractStream`: the SAME extraction kernel as the batch pipeline run
  *    incrementally over a micro-batched stream of docs (small-doc path
  *    only: per-micro-batch inputs don't need mega-doc salting; a mega doc
  *    arriving on the stream takes the whole-doc path of its batch).
  */
object StreamOps {

  /** Tumbling 5-minute windows per event_type with a 10-minute watermark. */
  def windowedEventCounts(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(round(col("value") * 100)).cast("long").as("value_cents"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n_events"), col("value_cents"))

  /** Event-time session windows (gap-based) via the built-in
    * `session_window` — sessions close when no event arrives within the
    * gap; late data beyond the watermark is dropped. */
  def sessionWindows(events: DataFrame, gap: String = "10 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "15 minutes")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("user_id"), col("n_events"))

  final case class UserSession(user_id: Long, n_events: Long,
      first_us: Long, last_us: Long)

  /** Running per-user session state (event count + first/last event time).
    * Update-mode output: one row per user per micro-batch touched. */
  def sessionize(events: Dataset[(Long, Long)]): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .mapGroupsWithState[UserSession, UserSession](GroupStateTimeout.NoTimeout) {
        case (uid, it, state: GroupState[UserSession]) =>
          val evs = it.toSeq
          val prev = state.getOption.getOrElse(UserSession(uid, 0, Long.MaxValue, Long.MinValue))
          val next = UserSession(uid,
            prev.n_events + evs.length,
            math.min(prev.first_us, evs.iterator.map(_._2).min),
            math.max(prev.last_us, evs.iterator.map(_._2).max))
          state.update(next)
          next
      }
  }

  /** Streaming exact dedup — the continuous-ingest form of `Dedup.exact`:
    * keyed by the md5 fingerprint of the normalized text, state = the first
    * doc_id seen; only the FIRST doc per fingerprint is emitted, duplicates
    * (within and across micro-batches) are dropped. State is one 16-byte
    * key + one id per distinct doc — the smallest state that makes the
    * guarantee; at 10^12 docs you'd bound it with a timeout/TTL (the
    * dedup-window tradeoff every streaming pipeline makes).
    * Within a micro-batch, ties break by smallest doc_id (deterministic,
    * mirrors `Dedup.exact`'s `min(keeper)`). */
  def dedupStream(docs: Dataset[(Long, String)]): Dataset[(Long, String)] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("_1").as("doc_id"),
        graft.operators.TextOps.fingerprintCol(col("_2")).as("fp"),
        col("_2").as("text"))
      .as[(Long, String, String)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[Long, (Long, String)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Long]) =>
          if (state.exists) Iterator.empty
          else {
            val first = it.minBy(_._1)
            state.update(first._1)
            Iterator((first._1, first._3))
          }
      }
  }

  /** TTL-bounded streaming exact dedup — `dedupStream` with EVENT-TIME
    * state expiry: unbounded fingerprint state is impossible at 10^12 docs
    * (one entry per distinct doc, forever), so production streaming dedup
    * always bounds its window ("dedup within N days"). State per
    * fingerprint = (keeper id, last-seen event time); expiry is decided
    * in EVENT TIME against each arriving row, so a duplicate whose event
    * time is past last-seen + ttl re-emits even when it shares a
    * micro-batch with earlier rows (the round-4 review caught the earlier
    * watermark-coupled form, whose output depended on batch boundaries).
    * The watermark-driven timeout is pure state CLEANUP of entries no
    * in-window row can extend again. Observing a duplicate EXTENDS the
    * window (sliding TTL), matching "active content stays deduped, dead
    * content ages out".
    *
    * LATE-DATA BOUNDARY (round-4 advice): Spark's
    * FlatMapGroupsWithStateExec drops input rows older than the
    * late-events watermark BEFORE the user function runs, so a row
    * arriving more than `allowedLateness` behind the stream's max event
    * time — across micro-batches — is silently discarded, exactly like
    * any watermarked stateful operator.
    *
    * BATCHING-INDEPENDENCE, precisely (round-5 advice): it holds for
    * streams whose CROSS-BATCH arrival is event-time-ordered (rows are
    * only sorted within a batch). With `allowedLateness` > 0, an
    * out-of-order row admitted by the lateness bound can still change
    * which doc becomes the state's keeper depending on where the batch
    * boundary falls — e.g. keeper A(ts=100) in batch 1 then B(ts=50) in
    * batch 2 emits A, while one batch sorted by (ts, id) emits B. So
    * lateness > 0 prevents silent DROPS inside the disorder bound, but
    * keeper CHOICE for out-of-order rows is batch-dependent; the default
    * "0 seconds" assumes an event-time-ordered append log (ids assigned
    * in arrival order), where output is fully batching-independent.
    * Size the lateness to the source's real disorder — a dropped
    * genuinely-new doc is silent data loss for a dedup operator.
    *
    * Input: (doc_id, text, event_ts). Output: first doc per fingerprint
    * per TTL window. */
  def dedupStreamTtl(docs: Dataset[(Long, String, java.sql.Timestamp)],
      ttlMs: Long, allowedLateness: String = "0 seconds"): Dataset[(Long, String)] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("_1").as("doc_id"), col("_2").as("text"),
        graft.operators.TextOps.fingerprintCol(col("_2")).as("fp"),
        col("_3").as("ts"))
      .withWatermark("ts", allowedLateness)
      .as[(Long, String, String, java.sql.Timestamp)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[(Long, Long), (Long, String)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, it, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // rows processed in (event-time, id) order with the expiry
            // decided against EACH row's event time — for cross-batch
            // event-time-ordered arrival the output is identical however
            // the stream is micro-batched (the watermark timeout below
            // is then pure state cleanup, not the expiry decision); see
            // the scaladoc's batching-independence note for the
            // out-of-order-within-lateness caveat
            val rows = it.toArray.sortBy(r => (r._4.getTime, r._1))
            var st = state.getOption
            val out = Vector.newBuilder[(Long, String)]
            for (r <- rows) {
              val ts = r._4.getTime
              st = st match {
                case Some((k, last)) if ts <= last + ttlMs =>
                  Some((k, math.max(last, ts))) // in-window dup: extend
                case _ => // no window, or this row is past it in event time
                  out += ((r._1, r._2))
                  Some((r._1, ts))
              }
            }
            val (k, last) = st.get // rows non-empty in the data branch
            state.update((k, last))
            // timeout timestamps must sit above the current watermark
            // (rows older than the lateness watermark never reach this
            // function — see the late-data boundary note above); a row
            // that passed the watermark but whose window is already past
            // just leaves its state immediately cleanup-eligible
            state.setTimeoutTimestamp(
              math.max(last + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Streaming NEAR-dup candidate detection — the continuous-ingest form of
    * minhash-LSH banding (`Dedup.bandRows`): keyed by (band, digest), state
    * = the smallest doc_id seen for that digest; every arriving band row
    * whose digest was already seen by a smaller id emits
    * (doc_id, base = that smaller id). Cross-micro-batch state does the
    * work: a doc arriving days after its near-original still collides.
    *
    * Emission contract (what makes this BATCH-REPLAYABLE, hence
    * oracle-exact): assuming ids are assigned in arrival order (an append
    * log's natural property; within a micro-batch the group sorts by id),
    * the per-doc minimum over emitted bases equals the batch semantics
    * "smallest doc sharing any band digest with me, among docs before
    * me" — the same LEFT-JOIN-min a batch engine computes over
    * `minhashCandidates` output. Per-doc resolution (min across bands)
    * happens in a batch read-back of the sink: a stateful flatMap followed
    * by a streaming aggregation is still a restricted multi-stateful
    * combination, and the cross-batch STATE is the part that needs to be
    * streaming.
    *
    * State size: one long per distinct (band, digest) — 4 rows/doc at the
    * defaults; at 10^12 docs you bound it with a TTL (the dedup-window
    * trade every streaming pipeline makes; `GroupStateTimeout` slot is
    * where that lands). Docs with < 3 words have null digests and are
    * filtered out (they cannot collide in the batch form either). */
  def nearDupStream(docs: Dataset[(Long, String)],
      numPerms: Int = 8, rowsPerBand: Int = 2): Dataset[(Long, Long)] = {
    import docs.sparkSession.implicits._
    graft.operators.Dedup
      .bandRows(docs.toDF("doc_id", "text"), "doc_id", "text", numPerms, rowsPerBand)
      .filter(col("digest").isNotNull)
      .select(col("band"), col("digest"), col("doc_id"))
      .as[(Int, String, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[Long, (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (_, it, state: GroupState[Long]) =>
          val ids = it.map(_._3).toArray.sorted
          var m = state.getOption.getOrElse(Long.MaxValue)
          val out = Vector.newBuilder[(Long, Long)]
          for (id <- ids) {
            if (m < id) out += ((id, m))
            if (id < m) m = id
          }
          state.update(m)
          out.result().iterator
      }
  }

  /** TTL-bounded streaming near-dup — `nearDupStream` with the same
    * per-row EVENT-TIME expiry contract as `dedupStreamTtl`; band-digest
    * state (min id, last-seen) is additionally cleaned up by the
    * watermark timeout, so the 4-rows/doc LSH state stays bounded on an
    * unbounded stream. A near-dup of content older than the window is
    * reported as new (the bounded-window recall trade, stated not
    * hidden). Late-data boundary identical to `dedupStreamTtl`: rows
    * more than `allowedLateness` behind the stream's max event time are
    * dropped BEFORE the stateful function runs — and as there,
    * batching-independence holds only for cross-batch event-time-ordered
    * arrival: with lateness > 0 an admitted out-of-order row's keeper
    * assignment depends on the batch boundary (see `dedupStreamTtl`'s
    * boundary note). */
  def nearDupStreamTtl(docs: Dataset[(Long, String, java.sql.Timestamp)],
      ttlMs: Long, numPerms: Int = 8, rowsPerBand: Int = 2,
      allowedLateness: String = "0 seconds"): Dataset[(Long, Long)] = {
    import docs.sparkSession.implicits._
    graft.operators.Dedup
      .bandRows(docs.toDF("doc_id", "text", "ts"), "doc_id", "text",
        numPerms, rowsPerBand, keepCols = Seq("ts"))
      .filter(col("digest").isNotNull)
      .select(col("band"), col("digest"), col("doc_id"), col("ts"))
      .withWatermark("ts", allowedLateness)
      .as[(Int, String, Long, java.sql.Timestamp)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState[(Long, Long), (Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, it, state: GroupState[(Long, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // per-row event-time expiry in (event-time, id) order — same
            // batching-independence contract as dedupStreamTtl
            val rows = it.toArray.sortBy(r => (r._4.getTime, r._3))
            var st = state.getOption // (min id, last seen)
            val out = Vector.newBuilder[(Long, Long)]
            for (r <- rows) {
              val ts = r._4.getTime
              st = st match {
                case Some((m, last)) if ts <= last + ttlMs =>
                  if (m < r._3) out += ((r._3, m))
                  Some((math.min(m, r._3), math.max(last, ts)))
                case _ => // window expired: this row starts a new one
                  Some((r._3, ts))
              }
            }
            val (m, last) = st.get
            state.update((m, last))
            state.setTimeoutTimestamp(
              math.max(last + ttlMs, state.getCurrentWatermarkMs() + 1))
            out.result().iterator
          }
      }
  }

  /** Incremental extraction: same kernel, streaming source → streaming sink.
    * `foreachBatch`-friendly; here expressed directly so the plan is a
    * streaming MapPartitions (engine init amortized per partition per
    * micro-batch). */
  def extractStream(
      docs: Dataset[Doc],
      conf: ExtractConf,
      store: MediaStore = DeterministicMediaStore,
      engine: OcrEngine = DeterministicOcr): Dataset[DocOut] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions { it =>
      it.map(d => ExtractKernel.extractWhole(d, store, engine, conf))
    }
  }
}
