package graft.streaming

import graft.media.{DeterministicMediaStore, DeterministicOcr, MediaStore, OcrEngine}
import graft.model.{Doc, DocOut}
import graft.pipeline.{ExtractConf, ExtractKernel}
import graft.operators.{Dedup, TextOps}
import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
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
  *  - `dedupStream` / `nearDupStream`: first-doc-wins exact dedup and
  *    band-digest near-dup candidates over cross-micro-batch keyed state,
  *    unbounded or bounded by an event-time `Ttl`.
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

  /** Event-time dedup window of the bounded stream operators: a key's
    * state lives `ms` past its last-seen event time; `allowedLateness` is
    * the watermark delay. Unbounded fingerprint state is impossible at
    * 10^12 docs (one entry per distinct doc, forever), so production
    * streaming dedup bounds its window ("dedup within N days"). Observing
    * a duplicate EXTENDS the window (sliding TTL): active content stays
    * deduped, dead content ages out.
    *
    * LATE-DATA BOUNDARY: Spark's FlatMapGroupsWithStateExec drops input
    * rows older than the late-events watermark BEFORE the user function
    * runs, so a row arriving more than `allowedLateness` behind the
    * stream's max event time — across micro-batches — is silently
    * discarded, exactly like any watermarked stateful operator. Size the
    * lateness to the source's real disorder: a dropped genuinely-new doc
    * is silent data loss for a dedup operator.
    *
    * BATCHING-INDEPENDENCE holds for streams whose CROSS-BATCH arrival is
    * event-time-ordered (rows are only sorted within a batch). With
    * `allowedLateness` > 0, an out-of-order row admitted by the lateness
    * bound can still change which doc becomes the state's keeper
    * depending on where the batch boundary falls — e.g. keeper A(ts=100)
    * in batch 1 then B(ts=50) in batch 2 emits A, while one batch sorted
    * by (ts, id) emits B. So lateness > 0 prevents silent DROPS inside the
    * disorder bound, but keeper CHOICE for out-of-order rows is
    * batch-dependent; the default "0 seconds" assumes an
    * event-time-ordered append log (ids assigned in arrival order), where
    * output is fully batching-independent. */
  final case class Ttl(ms: Long, allowedLateness: String = "0 seconds") {
    require(ms >= 0, s"Ttl.ms must be >= 0, got $ms")
  }

  /** Streaming exact dedup — the continuous-ingest form of `Dedup.exact`:
    * keyed by the md5 fingerprint of the normalized text; only the FIRST
    * doc per fingerprint (per TTL window when `ttl` is set) is emitted,
    * duplicates within and across micro-batches are dropped. State is one
    * 16-byte key + (keeper id, last-seen) per distinct doc. Within a
    * micro-batch, ties break by smallest doc_id (mirrors `Dedup.exact`'s
    * `min(keeper)`).
    *
    * Input: (doc_id, text[, ts]); `ts` is read only when `ttl` is set.
    * Output: (doc_id, text) of each window's first doc. */
  def dedupStream(docs: DataFrame, ttl: Option[Ttl] = None): Dataset[(Long, String)] = {
    import docs.sparkSession.implicits._
    keyedWindow[String, (Long, String)](
      docs.select(TextOps.fingerprintCol(col("text")), col("doc_id"), col("text"), eventTime(ttl)),
      ttl) {
      case (None, id, text) => Some((id, text))
      case _ => None
    }
  }

  /** Streaming NEAR-dup candidate detection — the continuous-ingest form of
    * minhash-LSH banding (`Dedup.bandRows`, pinned band shape): keyed by
    * (band, digest), state = the smallest doc_id seen for that digest;
    * every arriving band row whose digest was already seen by a smaller id
    * (inside the TTL window, when `ttl` is set) emits (doc_id, base = that
    * smaller id). Cross-micro-batch state does the work: a doc arriving
    * days after its near-original still collides. With a TTL, a near-dup
    * of content older than the window is reported as new (the
    * bounded-window recall trade, stated not hidden).
    *
    * Emission contract (what makes the unbounded form BATCH-REPLAYABLE,
    * hence oracle-exact): assuming ids are assigned in arrival order (an
    * append log's natural property; within a micro-batch the group sorts
    * by id), the per-doc minimum over emitted bases equals the batch
    * semantics "smallest doc sharing any band digest with me, among docs
    * before me" — the same LEFT-JOIN-min a batch engine computes over
    * `minhashCandidates` output. Per-doc resolution (min across bands)
    * happens in a batch read-back of the sink: a stateful flatMap followed
    * by a streaming aggregation is still a restricted multi-stateful
    * combination, and the cross-batch STATE is the part that needs to be
    * streaming.
    *
    * Docs with < 3 words have null digests and are filtered out (they
    * cannot collide in the batch form either). */
  def nearDupStream(docs: DataFrame, ttl: Option[Ttl] = None): Dataset[(Long, Long)] = {
    import docs.sparkSession.implicits._
    val bands = Dedup.bandRows(docs.select(col("doc_id"), col("text"), eventTime(ttl)),
      "doc_id", "text", keepCols = Seq("ts"))
    keyedWindow[(Int, String), (Long, Long)](
      bands.filter(col("digest").isNotNull)
        .select(struct(col("band").as("_1"), col("digest").as("_2")), col("doc_id"),
          lit(null).cast("string"), col("ts")),
      ttl) {
      case (Some(base), id, _) if base < id => Some((id, base))
      case _ => None
    }
  }

  /** The event-time column: `ts` when a TTL reads it, else a constant, so
    * the unbounded forms order rows by id alone and need no `ts` input. */
  private def eventTime(ttl: Option[Ttl]): Column =
    (if (ttl.isDefined) col("ts") else lit(new Timestamp(0L))).as("ts")

  /** Saturating `last + ms`: a window that ends past `Long.MaxValue` never
    * ends. */
  private def windowEnd(last: Long, t: Ttl): Long =
    if (last > Long.MaxValue - t.ms) Long.MaxValue else last + t.ms

  /** The keyed-window step behind both dedup operators. `keyed` holds
    * (key, doc_id, text, ts); per key the state is (keeper = smallest id
    * in the window, last-seen event time). Each row either extends the
    * open window or opens a new one, and `emit(keeper of the open window,
    * doc_id, text)` decides what it outputs — `None` means the row opens
    * a window.
    *
    * Expiry is decided in EVENT TIME against each arriving row, in
    * (ts, id) order, so a duplicate whose event time is past last-seen +
    * ttl re-emits even when it shares a micro-batch with earlier rows
    * (expiry by watermark would make output depend on where batch
    * boundaries fall). The watermark-driven `EventTimeTimeout` is pure state
    * CLEANUP of entries no in-window row can extend again. Without a TTL
    * there is neither watermark nor timeout: the window never closes. */
  private def keyedWindow[K: Encoder, O: Encoder](keyed: DataFrame, ttl: Option[Ttl])(
      emit: (Option[Long], Long, String) => Option[O]): Dataset[O] = {
    import keyed.sparkSession.implicits._
    val rows = Encoders.tuple(implicitly[Encoder[K]], Encoders.scalaLong, Encoders.STRING,
      Encoders.TIMESTAMP)
    val timeout = if (ttl.isEmpty) GroupStateTimeout.NoTimeout else GroupStateTimeout.EventTimeTimeout
    ttl.fold(keyed)(t => keyed.withWatermark("ts", t.allowedLateness))
      .as[(K, Long, String, Timestamp)](rows)
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), O](OutputMode.Append(), timeout) {
        case (_, _, state: GroupState[(Long, Long)]) if state.hasTimedOut =>
          state.remove(); Iterator.empty
        case (_, it, state: GroupState[(Long, Long)]) =>
          var st = state.getOption
          val out = Vector.newBuilder[O]
          for ((_, id, text, tsv) <- it.toArray.sortBy(r => (r._4.getTime, r._2))) {
            val ts = tsv.getTime
            val open = st.filter { case (_, last) => ttl.forall(t => ts <= windowEnd(last, t)) }
            emit(open.map(_._1), id, text).foreach(out += _)
            st = Some(open.fold((id, ts)) { case (k, last) => (math.min(k, id), math.max(last, ts)) })
          }
          // an in-window duplicate without a TTL changes nothing: no write
          if (state.getOption != st) state.update(st.get)
          // timeout timestamps must sit above the current watermark; a row
          // that passed the watermark but whose window is already past
          // just leaves its state immediately cleanup-eligible
          ttl.foreach(t => state.setTimeoutTimestamp(
            math.max(windowEnd(st.get._2, t), state.getCurrentWatermarkMs() + 1)))
          out.result().iterator
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
