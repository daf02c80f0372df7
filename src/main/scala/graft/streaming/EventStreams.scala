package graft.streaming

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** One event of the driver's `events` table shape (TESTDATA.md). */
final case class EventRow(
    event_id: Long,
    ts: Timestamp,
    user_id: Long,
    event_type: String,
    value: Double)

/** A closed user session emitted by [[EventStreams.sessionize]]. */
final case class UserSession(
    user_id: Long,
    session_start: Timestamp,
    session_end: Timestamp,
    n_events: Long,
    total_value: Double)

/** Open-session accumulator kept in the state store between triggers. */
final case class SessionState(
    startMs: Long,
    endMs: Long,
    n: Long,
    total: Double)

/** State-store value for [[EventStreams.sessionize]]: all of a user's
  * not-yet-emitted sessions, sorted by start. More than one stays open
  * only while out-of-order events inside the watermark horizon could
  * still bridge them — so the list length is bounded by
  * (watermark delay / gap) + 1, O(1) for any fixed configuration. */
final case class OpenSessions(sessions: Seq[SessionState])

/** Structured Streaming surface over event streams (builder brief; beyond
  * the reference — acowley/Frames "streaming" is finite single-threaded
  * pipes with no event time, SURVEY §2.10).
  *
  * Every transform here is the SAME declarative plan for batch and
  * streaming input — pass `spark.read.parquet(...)` and it runs as a
  * batch query, pass `spark.readStream...` and Spark runs it
  * incrementally with state in the checkpointed state store. Watermarks
  * bound state size (without one, a 100 TB/day stream grows state
  * forever); aggregations shuffle once on their keys exactly like the
  * batch equivalents.
  */
object EventStreams {

  /** Tumbling event-time window aggregate per event type, watermark-bounded.
    * Streaming: partial aggregation happens map-side per trigger, the
    * state store holds one row per (window, type) — O(windows x types),
    * independent of event volume. */
  def windowedCounts(
      events: DataFrame,
      windowDuration: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value")).as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Built-in session windows (gap-based), the declarative sessionization:
    * prefer this when the per-session result is a plain aggregate — the
    * native state store implementation merges/expires sessions without
    * user code. */
  def sessionWindowAgg(
      events: DataFrame,
      gap: String = "30 minutes",
      watermarkDelay: String = "10 minutes",
      totalValue: org.apache.spark.sql.Column => org.apache.spark.sql.Column = sum(_)): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), totalValue(col("value")).as("total_value"))
      .select(
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("total_value"))

  /** Per-window heavy-hitters sketch: the Count-Min aggregate
    * ([[graft.functions.expressions.CmsSketch]]) inside a watermarked
    * tumbling window — the SAME mergeable 16 KB state that runs batch
    * runs incrementally here, so the streaming sketch is bit-identical
    * to the batch sketch over the same events (pinned in StreamingSpec).
    * State per window is one sketch row, independent of event volume or
    * key cardinality — the property that makes per-window top-k feasible
    * on a 100 TB/day stream; probe the emitted bytes downstream with
    * `CountMin.estimate` against whatever candidate keys matter. */
  def windowedHeavyHitters(
      events: DataFrame,
      windowDuration: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowDuration))
      .agg(
        graft.functions.expressions.CountMin.sketch(col("user_id")).as("cms"),
        count(lit(1)).as("n"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("cms"), col("n"))

  /** Streaming exact dedup on content identity (e.g. a document
    * fingerprint column) — state holds one key per distinct id seen
    * within the watermark horizon, then expires. The streaming face of
    * `graft.operators.Dedup.exact`. */
  def streamingDedup(
      events: DataFrame,
      keyCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Watermarked stream-stream join: attribute each `click` to the same
    * user's `view` at most `within` BEFORE it (inclusive bounds). Both
    * sides carry watermarks and the join condition bounds event time in
    * BOTH directions, so the state store provably expires rows: each
    * side holds at most `within` + watermark-delay of data per key — the
    * requirement for an unbounded 100 TB/day stream-stream join to run
    * forever. The same call on batch frames computes the identical
    * attribution (pinned in StreamingSpec).
    *
    * Inputs need columns (user_id, ts, ...); output pairs each click
    * with every qualifying view (dedupe downstream if one-to-one
    * attribution is wanted — e.g. argmax on view_ts per click). */
  def attributeClicks(
      views: DataFrame,
      clicks: DataFrame,
      within: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val v = views
      .withWatermark("ts", watermarkDelay)
      .select(
        col("user_id"),
        col("ts").as("view_ts"),
        col("event_id").as("view_id"))
    val c = clicks
      .withWatermark("ts", watermarkDelay)
      .select(
        col("user_id").as("c_user_id"),
        col("ts").as("click_ts"),
        col("event_id").as("click_id"))
    v.join(
      c,
      col("user_id") === col("c_user_id") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("view_id"), col("view_ts"),
        col("click_id"), col("click_ts"))
  }

  /** Stream-static enrichment join: every micro-batch joins against the
    * (slowly-changing) static dimension, which Spark re-resolves per
    * trigger — dimension updates flow in without restarting the query.
    * The dimension side is broadcast, so the event stream itself never
    * shuffles: stateless, no watermark needed, and at 100 TB/day the
    * per-executor cost is one dim-table lookup per event. */
  def enrich(
      events: DataFrame,
      dim: DataFrame,
      keys: Seq[String]): DataFrame =
    events.join(broadcast(dim), keys, "left")

  /** Streaming NEAR-duplicate suppression via the SimHash block index —
    * the streaming face of `Dedup.simhashPairs`' multi-index. Each
    * document's 64-bit SimHash splits into 4 16-bit blocks; the stream
    * deduplicates on (block, value) within the watermark, then counts
    * each document's first-seen blocks in a tumbling window. A document
    * with `n_new_blocks == 4` is novel; any hamming<=3 near-dup of a
    * previously seen document collides on >= 1 block (pigeonhole), so it
    * surfaces with n_new_blocks < 4 — guaranteed, not probabilistic.
    * Unrelated documents are flagged only on rare 16-bit collisions.
    *
    * Scale shape: two keyed stateful stages (block-hash shuffle, then
    * doc-id shuffle) — state is 4 tiny rows per novel document, expiring
    * with the watermark; no global structure, no driver state. Chained
    * stateful operators require append mode (Spark >= 3.5). */
  def streamingNearDedup(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      tsCol: String = "ts",
      windowDuration: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val sim = docs
      .withWatermark(tsCol, watermarkDelay)
      .select(
        col(idCol), col(tsCol),
        graft.functions.expressions.Sketches
          .simhash64(graft.functions.TextFunctions.tokens(lower(col(textCol))))
          .as("__sim"))
    val blockStructs = (0 until 4).map { c =>
      struct(
        lit(c).as("blk"),
        shiftright(col("__sim"), c * 16).bitwiseAND(lit(0xffffL)).as("v"))
    }
    sim
      .select(col(idCol), col(tsCol), explode(array(blockStructs: _*)).as("__b"))
      .select(col(idCol), col(tsCol), col("__b.blk"), col("__b.v"))
      .dropDuplicatesWithinWatermark("blk", "v")
      .groupBy(window(col(tsCol), windowDuration), col(idCol))
      .agg(count(lit(1)).as("n_new_blocks"))
      .select(
        col("window.start").as("window_start"),
        col(idCol), col("n_new_blocks"))
  }

  /** Custom-state sessionization via `flatMapGroupsWithState` — for when
    * session emission logic is richer than an aggregate (here: emit each
    * CLOSED session exactly once, carrying count + value totals; the open
    * session rides in the state store with an event-time timeout at
    * `end + gap`, so state per user is O(1) and expires by watermark).
    *
    * Requires a streaming Dataset with a watermark on `ts`
    * (EventTimeTimeout contract). Use [[sessionWindowAgg]] for the
    * batch/declarative form. Boundary note: two events exactly `gap`
    * apart merge here (`<=`), while the built-in `session_window` treats
    * its half-open windows as distinct (`<`) — irrelevant off the exact
    * millisecond boundary.
    */
  def sessionize(
      events: Dataset[EventRow],
      gapMs: Long = 30L * 60 * 1000): Dataset[UserSession] = {
    implicit val sessEnc: Encoder[UserSession] = Encoders.product[UserSession]
    implicit val stateEnc: Encoder[OpenSessions] = Encoders.product[OpenSessions]
    implicit val longEnc: Encoder[Long] = Encoders.scalaLong

    // fold one event into the sorted session list: merge into any session
    // whose [start-gap, end+gap] hull contains it (extending start OR end
    // — out-of-order events within the watermark handled correctly),
    // else insert a new singleton; then re-merge adjacent sessions the
    // event may have bridged.
    def insert(sessions: Seq[SessionState], t: Long, v: Double): Seq[SessionState] = {
      val withEvent =
        sessions.indexWhere(s => t >= s.startMs - gapMs && t <= s.endMs + gapMs) match {
          case -1 =>
            (sessions :+ SessionState(t, t, 1, v)).sortBy(_.startMs)
          case i =>
            val s = sessions(i)
            sessions.updated(i,
              SessionState(math.min(s.startMs, t), math.max(s.endMs, t), s.n + 1, s.total + v))
        }
      withEvent.foldLeft(Vector.empty[SessionState]) { (acc, s) =>
        acc.lastOption match {
          case Some(p) if s.startMs - p.endMs <= gapMs =>
            acc.init :+ SessionState(
              p.startMs, math.max(p.endMs, s.endMs), p.n + s.n, p.total + s.total)
          case _ => acc :+ s
        }
      }
    }

    def emitAndKeep(
        userId: Long,
        sessions: Seq[SessionState],
        state: GroupState[OpenSessions]): Iterator[UserSession] = {
      // a session is final once no event >= watermark can merge into it
      // (kept sessions have end+gap > wm, so the timeout set below is
      // always strictly past the watermark, as GroupState requires)
      val wm = state.getCurrentWatermarkMs()
      val (closed, open) = sessions.partition(_.endMs + gapMs <= wm)
      if (open.isEmpty) state.remove()
      else {
        state.update(OpenSessions(open))
        state.setTimeoutTimestamp(open.map(_.endMs).min + gapMs)
      }
      closed.iterator.map(s =>
        UserSession(userId, new Timestamp(s.startMs), new Timestamp(s.endMs), s.n, s.total))
    }

    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSessions, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[EventRow], state: GroupState[OpenSessions]) =>
          val existing = state.getOption.map(_.sessions).getOrElse(Seq.empty)
          val merged = rows.foldLeft(existing)((acc, e) =>
            insert(acc, e.ts.getTime, e.value))
          emitAndKeep(userId, merged, state)
      }
  }

  /** Latest COMMITTED snapshot version directory under a [[upsertSink]]
    * target, if any batch has committed yet. A version counts only once
    * its `_SUCCESS` marker exists (Spark writes one on commit): a crash
    * mid-write of `v_N` leaves data files without the marker, and
    * treating that partial directory as current would merge the replayed
    * batch into it and silently lose rows present only in `v_{N-1}`. */
  def currentSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String): Option[String] =
    snapshotVersions(spark, targetPath).lastOption

  /** All COMMITTED snapshot version directories under an [[upsertSink]]
    * target, ascending in version order (same `_SUCCESS` gating and
    * [[versionKey]] ordering as [[currentSnapshot]]) — the available
    * TIME-TRAVEL window. [[upsertSink]] never deletes a superseded
    * version, so until [[compactSnapshots]] or [[retainSnapshots]]
    * prunes them, every historical state is still readable. */
  def snapshotVersions(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String): Seq[String] = {
    val path = new org.apache.hadoop.fs.Path(targetPath)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) Seq.empty
    else fs.listStatus(path).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v_") &&
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .sortBy(s => versionKey(s.getPath.getName))
      .map(_.getPath.toString)
  }

  /** TIME TRAVEL: the snapshot AS OF CDC batch `batchId` — the newest
    * committed version whose base batch id is <= `batchId` (a compacted
    * `v_N_cG` carries base id N, so asking for N after compaction
    * serves the compacted rewrite, exactly what a replayed reader
    * should see). None when every version at or below `batchId` has
    * been pruned — compaction and retention DESTROY history below
    * their horizon, the same contract as a vacuum. Version names
    * inherit batch ids (see [[upsertSink]]), so `batchId` is the same
    * handle the checkpoint log speaks. */
  def snapshotAsOf(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      batchId: Long): Option[org.apache.spark.sql.DataFrame] =
    snapshotVersions(spark, targetPath)
      .filter { p =>
        val base = versionKey(new org.apache.hadoop.fs.Path(p).getName)._1
        base.stripPrefix("v_").toLongOption.exists(_ <= batchId)
      }
      .lastOption
      .map(spark.read.parquet(_))

  /** Bound the time-travel window WITHOUT rewriting anything: delete
    * all but the newest `keepLast` committed versions. The complement
    * of [[compactSnapshots]] (which rewrites the current state and
    * drops ALL history): retention keeps the store append-cheap while
    * capping storage at `keepLast` full snapshots. Never touches the
    * current version (`keepLast >= 1` enforced) or an uncommitted
    * partial dir — deleting one could race a writer mid-recovery. */
  def retainSnapshots(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      keepLast: Int): Unit = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val versions = snapshotVersions(spark, targetPath)
    val doomed = versions.dropRight(keepLast)
    if (doomed.nonEmpty) {
      val fs = new org.apache.hadoop.fs.Path(targetPath)
        .getFileSystem(spark.sessionState.newHadoopConf())
      doomed.foreach(p => fs.delete(new org.apache.hadoop.fs.Path(p), true))
    }
  }

  /** (version base, compaction generation), generation compared
    * NUMERICALLY: a dir written before generations were zero-padded
    * (`…_c1`) string-sorts above every padded one up to `_c0999`, so a
    * string compare would keep serving — and never delete — the stale
    * snapshot. Splits on the LAST `_c` and falls back to (name, 0) when
    * what follows is not a number: only self-written `v_%012d[_cNNNN]`
    * names exist under a healthy target, but this runs on the READ path
    * ([[currentSnapshot]]) where a foreign dir name must degrade to
    * string ordering, not crash snapshot reads. */
  private[streaming] def versionKey(name: String): (String, Long) = {
    val i = name.lastIndexOf("_c")
    if (i < 0) (name, 0L)
    else name.substring(i + 2).toLongOption match {
      case Some(g) => (name.substring(0, i), g)
      case None => (name, 0L)
    }
  }

  /** Compact an [[upsertSink]] target while the stream is STOPPED:
    * rewrite the current snapshot minus tombstones older than
    * `tombstoneHorizon` (keep recent ones — they still fence off
    * out-of-order stragglers inside the late-data window), then delete
    * the superseded version directories.
    *
    * The compacted directory gets a `_c<n>` suffix on the current
    * version name: it sorts after its source version but BELOW any
    * future batch id, so a later restart resumes cleanly and a replayed
    * old batch can never shadow the compacted state. */
  def compactSnapshots(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      isDelete: org.apache.spark.sql.Column,
      tombstoneHorizon: org.apache.spark.sql.Column,
      // CRASH-WINDOW test hook (ChaosCheck drill 6): invoked at the
      // point where the compacted rewrite is COMMITTED (its _SUCCESS
      // exists) but the superseded versions have not been deleted yet —
      // a driver death here must leave readers on a consistent snapshot
      // and a re-run must converge. Production callers leave the
      // default no-op.
      onBeforeCleanup: () => Unit = () => ()): Unit = {
    val current = currentSnapshot(spark, targetPath).getOrElse(
      throw new IllegalStateException(s"no snapshot under $targetPath"))
    val compacted = spark.read.parquet(current)
      .filter(!isDelete || tombstoneHorizon)
    val name = new org.apache.hadoop.fs.Path(current).getName
    // Generation is zero-padded (cosmetic now — ordering is numeric via
    // [[versionKey]], which also handles pre-padding legacy dirs).
    val (base, gen) = versionKey(name)
    val dest = f"$targetPath/${base}_c${gen + 1}%04d"
    compacted.write.mode("overwrite").parquet(dest)
    onBeforeCleanup()
    // drop every strictly-older COMMITTED version now that dest is
    // current (an uncommitted partial dir is left for manual cleanup —
    // deleting it here could race a writer mid-recovery)
    val fs = new Path(targetPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val destKey = versionKey(new Path(dest).getName)
    snapshotVersions(spark, targetPath).map(new Path(_))
      .filter(p => Ordering[(String, Long)].lt(versionKey(p.getName), destKey))
      .foreach(fs.delete(_, true))
  }

  /** One [[upsertSink]] trigger, named so recovery is testable
    * (ChaosCheck drill 6 replays it under a real executor halt): read
    * the previous committed snapshot, merge the batch, write the new
    * version directory. Idempotent per batch id — a replay after a
    * checkpoint-commit crash rewrites `v_<batchId>` with the same
    * content. */
  private[graft] def upsertStep(
      batch: DataFrame,
      batchId: Long,
      targetPath: String,
      keys: Seq[String],
      seqCols: Seq[String],
      isDelete: org.apache.spark.sql.Column): Unit = {
    val spark = batch.sparkSession
    val prev = currentSnapshot(spark, targetPath)
      .map(spark.read.parquet(_))
    val all = prev.fold(batch)(p => p.unionByName(batch))
    graft.operators.Incremental
      .mergeLatest(all, keys, seqCols.map(col), isDelete, keepTombstones = true)
      .write.mode("overwrite")
      .parquet(f"$targetPath/v_$batchId%012d")
  }

  /** Exactly-once streaming upsert: fold a CDC change stream into a
    * latest-state parquet snapshot with `foreachBatch` +
    * [[graft.operators.Incremental.mergeLatest]].
    *
    * Each micro-batch reads the previous snapshot, merges the batch
    * (newest row per key wins by `seqCols`; deletes survive as
    * TOMBSTONES so an out-of-order older upsert cannot resurrect a
    * deleted key — read the live view with `filter(!isDelete)`), and
    * writes the result as a NEW versioned directory `v_<batchId>`. On
    * the ORDINARY path the directory written is never the one just
    * read (batch N reads v_{N-1}, writes v_N), so a mid-write crash
    * cannot corrupt the current version. The one exception is REPLAY
    * (exercised by ChaosCheck drill 6): after v_N committed, a
    * replayed batch N reads currentSnapshot() = v_N and overwrites
    * v_N itself. That self-overwrite is safe for the same reason the
    * ordinary path is: the committer stages into `_temporary` and the
    * version only counts as current once `_SUCCESS` lands
    * ([[currentSnapshot]] gates on it), so a crash mid-replay degrades
    * v_N to an uncommitted directory and recovery falls back to
    * v_{N-1} — then the next replay rebuilds v_N from v_{N-1} plus the
    * same batch rows. Replay convergence (same content either way)
    * holds because merging a batch into a snapshot that already
    * absorbed it is a no-op under mergeLatest's newest-wins-by-seqCols
    * rule with the deterministic tie-break — which is exactly what the
    * drill asserts. Because the version name is the batch id and
    * writes are mode("overwrite"), the replay is idempotent, which
    * together with the checkpoint gives end-to-end exactly-once.
    * Readers pick the snapshot via [[currentSnapshot]] (the delta-log
    * pattern, one directory deep). The checkpoint must live and die
    * with the target: version names inherit the batch id, so
    * discarding the checkpoint (restarting ids at 0) would write
    * versions that sort below the current snapshot.
    *
    * Scale shape: the merge is [[Incremental.mergeLatest]]'s keyed
    * WindowGroupLimit plan over snapshot ∪ batch — one shuffle keyed by
    * the merge keys per micro-batch, no global window. Snapshot columns
    * must include `seqCols` and the columns `isDelete` reads (they ride
    * along so later batches can compare recency against them). */
  def upsertSink(
      changes: DataFrame,
      targetPath: String,
      checkpoint: String,
      keys: Seq[String],
      seqCols: Seq[String],
      isDelete: org.apache.spark.sql.Column)
      : org.apache.spark.sql.streaming.StreamingQuery =
    eachBatch(changes, checkpoint)(
      upsertStep(_, _, targetPath, keys, seqCols, isDelete))

  /** The one `foreachBatch` shell every sink here runs on: `step`
    * receives each micro-batch with the id the checkpoint log assigned
    * it, so a step that writes a directory named by that id is
    * idempotent under replay. */
  private def eachBatch(stream: DataFrame, checkpoint: String)(
      step: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(step)
      .start()

  private def batchDir(targetPath: String, batchId: Long): String =
    f"$targetPath/b_$batchId%012d"

  /** The append-only micro-batch log: run `f` on each micro-batch and
    * write its result to the batch's own `b_<batchId>` directory under
    * `targetPath`. Read the log back with [[committedBatches]], fold it
    * with [[compactBatches]]. Every append face here is a call on it.
    *
    * Exactly-once by overwrite-by-id: batch N writes `b_N`; a replay
    * after crash-recovery rewrites the same directory with the same
    * content (`f` must be deterministic), and readers union only
    * `_SUCCESS`-committed directories, so a crash-partial write is
    * invisible until its replay commits. The checkpoint must live and
    * die with the target: directory names inherit the batch id.
    *
    * Probing a persisted index this way IS the streaming semantics.
    * When `f` is a pure function of (batch, static index) — e.g.
    * [[graft.operators.Dedup.incrementalDedupIndexed]],
    * [[graft.operators.Dedup.probeSpanIndex]],
    * [[graft.operators.Linkage.probeReferenceIndex]],
    * [[graft.operators.TfIdf.scoreWithLmIndex]],
    * [[graft.operators.Similarity.probeIvfIndex]] (with or without its
    * metadata `filter`) or [[graft.operators.Similarity
    * .knnClassifyAttached]] over a label-carrying probe — no state store
    * is needed and batch ≡ stream exactly (pinned in StreamingSpec).
    * Each trigger probes only its micro-batch, the index is neither
    * shuffled nor fully scanned, so per-trigger cost scales with the
    * batch, not the corpus. Index APPENDS between triggers are legal
    * (the tables re-resolve every trigger) but are a separate
    * single-writer batch step: folding them into `f` would break replay
    * idempotence — the `*IngestSink`s below do it with marker fencing
    * ([[twoPhaseIngest]]). */
  def batchLog(stream: DataFrame, targetPath: String, checkpoint: String)(
      f: DataFrame => DataFrame): StreamingQuery =
    eachBatch(stream, checkpoint) { (batch, batchId) =>
      f(batch).write.mode("overwrite").parquet(batchDir(targetPath, batchId))
    }

  /** Streaming face of the AS-OF join (q38's composition): enrich an
    * event STREAM against a static right relation — each left event takes
    * the value columns of the single most recent right row at or before
    * its timestamp ([[graft.operators.Joins.asofJoin]] semantics,
    * including tolerance and direction). Every as-of match is a pure
    * function of (one left row, the static right relation), so this is a
    * [[batchLog]] and batch ≡ stream exactly (pinned in StreamingSpec on
    * the q38 fixture); read the output with [[committedBatches]].
    *
    * Scale shape per trigger: the right side is first pruned to the
    * micro-batch's key set (a broadcast left-semi join — batch keys are
    * bounded per trigger; keeping EVERY right row of a matched key
    * preserves as-of semantics exactly), then the batch operator runs
    * one keyed shuffle of (micro-batch ∪ pruned right). Without the
    * prune, every trigger would window the WHOLE right relation —
    * per-trigger cost proportional to the dimension, not the batch.
    * The right side re-resolves every trigger, so a slowly-changing
    * right table flows in without a restart (same property as
    * [[enrich]]). */
  def asofEnrichSink(
      events: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      tsCol: String,
      valueCols: Seq[String],
      targetPath: String,
      checkpoint: String,
      toleranceSeconds: Option[Long] = None,
      direction: String = "backward"): StreamingQuery =
    batchLog(events, targetPath, checkpoint) { batch =>
      val rightPruned = right.join(
        broadcast(batch.select(keys.map(col): _*).distinct()),
        keys, "left_semi")
      graft.operators.Joins.asofJoin(batch, rightPruned, keys, tsCol,
        valueCols, toleranceSeconds, direction)
    }

  /** All COMMITTED `b_<batchId>` output directories of a [[batchLog]]
    * target as one relation — same `_SUCCESS` gating as
    * [[currentSnapshot]]: a crash-partial batch directory is invisible
    * until its replay commits. */
  def committedBatches(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(targetPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // ONE directory snapshot feeds BOTH the marker horizon and the b_
    // set. Two separate listings raced a concurrent [[compactBatches]]:
    // a new m_ marker committed (and superseded b_/c_ dirs deleted)
    // between the listings made the reader pair an OLD horizon with a
    // POST-DELETE b_ set — silently dropping the folded batches' data.
    // A snapshot can still be superseded between the listing and the
    // path resolve (compaction deletes what the snapshot references),
    // so the resolve validates every referenced path and retries on a
    // fresh snapshot if one vanished. Residual window: a compaction
    // that deletes while a resolved readout's ACTION is still running
    // can yank files mid-scan (Spark then fails the job, never returns
    // a partial view) — schedule compaction between long readouts, or
    // persist the readout first.
    var attempt = 0
    while (true) {
      attempt += 1
      val listing =
        if (!fs.exists(root)) Seq.empty[org.apache.hadoop.fs.FileStatus]
        else fs.listStatus(root).toSeq
      val upTo = compactionUpTo(listing)
      val liveDirs = listing
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("b_") &&
          batchId(s.getPath.getName) > upTo.getOrElse(-1L))
      // a dir in the snapshot that VANISHED is a superseded-snapshot
      // signal (retry); a dir still present without _SUCCESS is a
      // genuinely uncommitted batch (exclude, no retry)
      val vanished = liveDirs.exists(s => !fs.exists(s.getPath))
      val committed = liveDirs
        .filter(s =>
          fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
        .map(_.getPath.toString)
        .sorted
      val compacted = upTo.map(k => f"$targetPath/c_$k%012d")
      val all = compacted.toSeq ++ committed
      val stale = vanished ||
        !all.forall(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
      if (!stale) {
        require(all.nonEmpty, s"no committed batches under $targetPath")
        return spark.read.parquet(all: _*)
      }
      // exhaustion is a CLEAR contention error, never a proceed-anyway:
      // returning paths just verified missing would fail deep inside
      // spark.read.parquet with PATH_NOT_FOUND instead of naming the
      // cause. Linear backoff gives a racing compaction's marker+delete
      // window time to close between snapshots.
      if (attempt >= 5)
        throw new IllegalStateException(
          s"compaction raced the reader $attempt times under $targetPath; " +
            "schedule compaction between readouts or retry the read")
      Thread.sleep(50L * attempt)
    }
    throw new IllegalStateException("unreachable")
  }

  private def batchId(name: String): Long =
    name.dropWhile(_ != '_').drop(1).toLongOption.getOrElse(-1L)

  /** Highest committed compaction horizon in one directory `listing`:
    * the max `m_<upTo>` marker. Marker files are empty — the NAME is the
    * whole payload, so commit is a single atomic file creation (no
    * content to torn-write). */
  private def compactionUpTo(listing: Seq[FileStatus]): Option[Long] =
    listing
      .filter(s => !s.isDirectory && s.getPath.getName.startsWith("m_"))
      .map(s => batchId(s.getPath.getName))
      .filter(_ >= 0)
      .maxOption

  /** Compact an append-only `b_<batchId>` micro-batch log (every
    * [[batchLog]] face writes one) into one `c_<upTo>` directory: the
    * operational answer to the small-files problem a months-old 100 TB
    * stream accumulates (one tiny parquet dir per trigger makes the
    * readout's planning/listing cost grow without bound).
    *
    * Crash-safe by ordering, not locking:
    *   1. union [previous `c_` +] every committed `b_` with id ≤ upTo
    *      into `c_<upTo>` (overwrite — a half-written `c_` from a crash
    *      is invisible until step 2 and simply rewritten on retry);
    *   2. create the empty marker `m_<upTo>` — the atomic commit point:
    *      readers resolve max(m_*) and see EITHER the old view (stale
    *      b_/c_ still present, new c_ ignored) OR the new one (old
    *      dirs ignored by the id ≤ upTo rule even before deletion);
    *   3. lazily delete superseded `b_`/`c_`/`m_` entries — a crash
    *      mid-delete leaves garbage that readers already ignore and
    *      the next compaction removes.
    *
    * `upTo` always excludes the HIGHEST committed batch id: the
    * streaming engine may replay exactly that micro-batch after a
    * checkpoint-commit crash (foreachBatch's overwrite-by-id makes the
    * replay absorb into `b_<id>` — but only if that directory is still
    * the live copy, which excluding it guarantees). Readout equality
    * before/after compaction and across every crash window is pinned
    * in StreamingSpec. */
  def compactBatches(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      // CRASH-WINDOW test hook (ChaosCheck drill 6): invoked between
      // step 2 (the atomic m_ marker creation) and step 3 (the lazy
      // deletes) — a driver death here must leave [[committedBatches]]
      // readers on the NEW view and the next compaction must sweep the
      // garbage. Production callers leave the default no-op.
      onBeforeCleanup: () => Unit = () => ()): Option[Long] = {
    val root = new org.apache.hadoop.fs.Path(targetPath)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return None
    val listing = fs.listStatus(root).toSeq
    val prevUpTo = compactionUpTo(listing)
    val live = listing
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("b_") &&
        batchId(s.getPath.getName) > prevUpTo.getOrElse(-1L) &&
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .map(s => batchId(s.getPath.getName) -> s.getPath.toString)
      .sortBy(_._1)
    if (live.size < 2) return prevUpTo // nothing to fold below the live head
    val upTo = live.init.last._1 // fold everything strictly below the head
    val folded = prevUpTo.map(k => f"$targetPath/c_$k%012d").toSeq ++
      live.init.map(_._2)
    spark.read.parquet(folded: _*)
      .write.mode("overwrite").parquet(f"$targetPath/c_$upTo%012d")
    // the commit point: readers switch on the marker's existence
    fs.create(new org.apache.hadoop.fs.Path(root, f"m_$upTo%012d"), true)
      .close()
    onBeforeCleanup()
    // lazy cleanup of everything the new marker supersedes
    fs.listStatus(root).toSeq.foreach { s =>
      val n = s.getPath.getName
      val id = batchId(n)
      val stale =
        (n.startsWith("b_") && id >= 0 && id <= upTo) ||
        (n.startsWith("c_") && id >= 0 && id < upTo) ||
        (n.startsWith("m_") && id >= 0 && id < upTo)
      if (stale) fs.delete(s.getPath, true): Unit
    }
    Some(upTo)
  }

  /** Streaming ingest face of the experimentation readout
    * ([[graft.operators.Experiments]]): each micro-batch pre-aggregates
    * its events to (group, arm, unit, Σy, Σx) partial metric rows —
    * unit-cardinality-bounded, NOT event-cardinality — appended to a
    * [[batchLog]]. Because the unit collapse is ADDITIVE, feeding
    * the committed partials back through `welchAbTest`/`cupedAbTest`
    * (which re-collapses per unit across batches before any moment is
    * taken) yields EXACTLY the one-shot batch answer — pinned in
    * StreamingSpec via [[experimentReadout]]. The live-monitoring
    * shape: the stream never holds state beyond the trigger, the
    * readout reads unit rows, not raw events. (Peeking at a running
    * experiment repeatedly is the usual sequential-testing caveat —
    * the STATISTIC is exact; the stopping rule is the caller's.) */
  def experimentIngestSink(
      events: DataFrame,
      groupCol: String,
      armCol: String,
      unitCol: String,
      yQCol: String,
      xQCol: String,
      targetPath: String,
      checkpoint: String): StreamingQuery =
    batchLog(events, targetPath, checkpoint)(
      _.groupBy(col(groupCol), col(armCol), col(unitCol))
        .agg(
          sum(col(yQCol).cast("long")).as(yQCol),
          sum(col(xQCol).cast("long")).as(xQCol)))

  /** CUPED readout over an [[experimentIngestSink]] target: the
    * committed per-batch unit partials ARE valid operator input (the
    * collapse re-sums them per unit), so this is one call — and equal
    * to running [[graft.operators.Experiments.cupedAbTest]] on the
    * full event history directly. */
  def experimentReadout(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      groupCol: String,
      armCol: String,
      unitCol: String,
      yQCol: String,
      xQCol: String): DataFrame =
    graft.operators.Experiments.cupedAbTest(
      committedBatches(spark, targetPath),
      groupCol, armCol, unitCol, yQCol, xQCol)

  /** Two-phase ingest step over a persisted index — the crash-recovery
    * contract of every `*IngestSink`: (1) `classify` the batch against
    * the CURRENT index and commit the result to the batch's `b_<batchId>`
    * directory; (2) `append` to the index, given the COMMITTED
    * classification read back from that directory.
    *
    * Each phase is fenced by its own marker — the classification by the
    * directory's `_SUCCESS`, the append by `_appended_<batchId>` — so a
    * replay (re-invoking with the same batch and id) re-runs exactly the
    * missing phases and is a no-op when both markers exist. The
    * classification is never recomputed once committed (after the
    * append, the pre-append index state it was derived from no longer
    * exists); reading the append's input back from the committed
    * classification keeps it stable across replays. A crash in the
    * middle of the append itself re-runs the whole append: the index
    * must absorb that (each `*IngestStep` says how). Single-writer, like
    * every index append. StreamingSpec executes the replay and the
    * marker-lost-after-append shape for every step directly. */
  private[graft] def twoPhaseIngest(
      batch: DataFrame,
      batchId: Long,
      targetPath: String)(
      classify: DataFrame => DataFrame,
      append: DataFrame => Unit): Unit = {
    val spark = batch.sparkSession
    val dir = new Path(batchDir(targetPath, batchId))
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(new Path(dir, "_SUCCESS")))
      classify(batch).write.mode("overwrite").parquet(dir.toString)
    val marker = new Path(f"$targetPath/_appended_$batchId%012d")
    if (!fs.exists(marker)) {
      append(spark.read.parquet(dir.toString))
      fs.create(marker).close()
    }
  }

  /** The rows of `batch` its committed classification marked novel. */
  private def novelRows(batch: DataFrame, committed: DataFrame, idCol: String): DataFrame =
    batch.join(
      committed.filter(col("status") === "novel").select(col(idCol)),
      Seq(idCol), "left_semi")

  /** One [[dedupIngestSink]] trigger, named so recovery is testable
    * ([[twoPhaseIngest]]). A crash in the middle of the append can leave
    * the batch's band/text rows appended twice — classifications are
    * unaffected (the probe aggregates with min/distinct, which absorb
    * duplicate index rows); storage for that one batch doubles, an
    * accepted cost of marker-based fencing without a transactional
    * table format. */
  private[graft] def dedupIngestStep(
      table: String,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      targetPath: String,
      numBuckets: Int,
      shingleSize: Int,
      numHashes: Int,
      bands: Int,
      seed: Long,
      tau: Double): Unit = {
    val spark = batch.sparkSession
    twoPhaseIngest(batch, batchId, targetPath)(
      graft.operators.Dedup.incrementalDedupIndexed(spark, table, _,
        idCol, textCol, shingleSize, numHashes, bands, seed, tau),
      committed => graft.operators.Dedup.appendDedupIndex(spark, table,
        novelRows(batch, committed, idCol),
        idCol, textCol, numBuckets, shingleSize, numHashes, bands, seed))
  }

  /** The FULL continual-ingest loop over a persisted dedup index —
    * the [[graft.operators.Dedup.incrementalDedupIndexed]] probe plus
    * index MAINTENANCE: each micro-batch is (1) classified against the
    * CURRENT index and committed to its `b_<batchId>` directory (read
    * with [[committedBatches]]), then (2) its NOVEL documents are
    * appended to the index
    * ([[graft.operators.Dedup.appendDedupIndex]]) so batch N+1
    * detects batch N's novel documents as duplicates (pinned in
    * StreamingSpec). Append lives HERE as a guarded second phase rather
    * than in a second query so that recovery is marker-fenced
    * ([[twoPhaseIngest]]). */
  def dedupIngestSink(
      docs: DataFrame,
      table: String,
      idCol: String,
      textCol: String,
      targetPath: String,
      checkpoint: String,
      numBuckets: Int = 32,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      seed: Long = 42L,
      tau: Double = 0.4): StreamingQuery =
    eachBatch(docs, checkpoint)(
      dedupIngestStep(table, _, _, idCol, textCol, targetPath,
        numBuckets, shingleSize, numHashes, bands, seed, tau))

  /** One [[ivfIngestSink]] trigger, named so recovery is testable
    * ([[twoPhaseIngest]]). A mid-append crash can duplicate index rows
    * for that one batch. This step's own k = 1 classification is
    * unaffected (both copies carry the same (id, cosine) and
    * `row_number` keeps one), but a k > 1 probe of the index returns
    * the duplicated vector at two ranks. */
  private[graft] def ivfIngestStep(
      table: String,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      vecCol: String,
      centroids: Array[(Long, Seq[Double])],
      nProbe: Int,
      tau: Double,
      targetPath: String,
      numBuckets: Int): Unit =
    twoPhaseIngest(batch, batchId, targetPath)(
      { b =>
        val nn = graft.operators.Similarity
          .probeIvfIndex(b.sparkSession, table, b, idCol, vecCol,
            k = 1, centroids = centroids, nProbe = nProbe)
          .select(col("query_id").as(idCol), col("neighbor_id"), col("cosine"))
        b.select(col(idCol))
          .join(nn, Seq(idCol), "left")
          .select(
            col(idCol),
            when(col("cosine") >= tau, lit("near_dup"))
              .otherwise(lit("novel")).as("status"),
            when(col("cosine") >= tau, col("neighbor_id")).as("dup_of"),
            col("cosine"))
      },
      committed => graft.operators.Similarity.appendIvfIndex(
        table, novelRows(batch, committed, idCol), idCol, vecCol,
        centroids, numBuckets))

  /** The IVF counterpart of [[dedupIngestSink]] — continual vector
    * ingest with index maintenance: each micro-batch of NEW vectors is
    * (1) classified against the CURRENT index (nearest neighbor via
    * [[graft.operators.Similarity.probeIvfIndex]] with k = 1; cosine >=
    * `tau` → `near_dup` of that neighbor, else `novel`), then (2) the
    * batch's novel vectors are appended to the index
    * ([[graft.operators.Similarity.appendIvfIndex]], fixed build
    * centroids) so batch N+1 detects near-copies of batch N's novel
    * vectors (pinned in StreamingSpec). Same marker-fenced recovery
    * ([[twoPhaseIngest]]). */
  def ivfIngestSink(
      vectors: DataFrame,
      table: String,
      idCol: String,
      vecCol: String,
      centroids: Array[(Long, Seq[Double])],
      nProbe: Int,
      tau: Double,
      targetPath: String,
      checkpoint: String,
      numBuckets: Int = 32): StreamingQuery =
    eachBatch(vectors, checkpoint)(
      ivfIngestStep(table, _, _, idCol, vecCol, centroids,
        nProbe, tau, targetPath, numBuckets))

  /** Histogram binning the stats sink uses for per-document token
    * counts — FROZEN by contract: sketches from every batch and every
    * day must stay mergeable, so the binning comes from domain
    * knowledge, never from the data. */
  final val StatsHistLo = 0L
  final val StatsHistHi = 4096L
  final val StatsHistBins = 256

  /** Streaming face of the incremental-statistics pattern (p17): each
    * micro-batch REDUCES to one tiny row per group — persisted HLL
    * register bytes ([[graft.functions.expressions.HllSketch]]) of the
    * text hash, plus exact doc/token counts — appended to a
    * [[batchLog]]. Raw text is read exactly once, at ingest;
    * every later distinct-count/volume question is answered from the
    * sketch table alone ([[corpusStats]]), never rescanning a byte of
    * corpus. Because HLL union is a register max (associative,
    * commutative, idempotent), the estimate over ANY committed-batch
    * subset is EXACTLY what a direct aggregate over those batches'
    * documents would return — batch ≡ stream pinned in StreamingSpec.
    * Counts are sums, so exactly-once matters for them: same `_SUCCESS`
    * gating as every append sink here. Per-trigger output is
    * |groups| rows of ~300 bytes — the 100 TB dashboard costs one
    * aggregation of the micro-batch, nothing downstream. */
  def corpusStatsSink(
      docs: DataFrame,
      groupCol: String,
      textCol: String,
      targetPath: String,
      checkpoint: String): StreamingQuery =
    batchLog(docs, targetPath, checkpoint) { batch =>
      val nt = graft.functions.TextFunctions
        .tokenCount(col(textCol)).cast("long")
      batch
        .groupBy(col(groupCol))
        .agg(
          graft.functions.expressions.HllSketch(
            xxhash64(col(textCol))).as("sk"),
          graft.functions.expressions.Hist.sketch(
            nt, StatsHistLo, StatsHistHi, StatsHistBins).as("hk"),
          count(lit(1)).as("n_docs"),
          sum(nt).as("n_tokens"))
    }

  /** Fold a [[corpusStatsSink]] target into the live per-group
    * dashboard: union the persisted sketches, estimate + read token-
    * length quantiles, sum the exact counts. Reads only committed
    * batch directories (sketch rows, not corpus); the unioned `hk`
    * rides along so callers can probe further quantiles or compute
    * [[graft.functions.expressions.Hist.psi]] drift between targets. */
  def corpusStats(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      groupCol: String): DataFrame = {
    import graft.functions.expressions.{Hist, HllEstimate, HllUnion}
    committedBatches(spark, targetPath)
      .groupBy(col(groupCol))
      .agg(
        HllEstimate(HllUnion(col("sk"))).as("approx_distinct_texts"),
        Hist.union(col("hk")).as("hk"),
        sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"))
      .withColumn("p50_tokens",
        Hist.quantileOf(col("hk"), lit(500000L), StatsHistLo, StatsHistHi))
      .withColumn("p90_tokens",
        Hist.quantileOf(col("hk"), lit(900000L), StatsHistLo, StatsHistHi))
  }

  /** One [[spanIngestSink]] trigger, named so recovery is testable
    * ([[twoPhaseIngest]]). The append takes ALL the batch's windows and
    * ignores the classification; even a marker-lost re-append is a
    * row-level no-op (the presence check excludes committed hashes),
    * which StreamingSpec asserts directly. */
  private[graft] def spanIngestStep(
      table: String,
      batch: DataFrame,
      batchId: Long,
      idCol: String,
      textCol: String,
      targetPath: String,
      windowTokens: Int,
      numBuckets: Int): Unit = {
    val spark = batch.sparkSession
    twoPhaseIngest(batch, batchId, targetPath)(
      graft.operators.Dedup.probeSpanIndex(spark, table, _, idCol, textCol,
        windowTokens),
      _ => graft.operators.Dedup.appendSpanIndex(
        spark, table, batch, idCol, textCol, windowTokens, numBuckets))
  }

  /** The span-index counterpart of [[dedupIngestSink]] — continual
    * ingest with index maintenance: each micro-batch is (1) profiled
    * against the CURRENT corpus window set
    * ([[graft.operators.Dedup.probeSpanIndex]]), then (2) ALL its
    * windows are appended ([[graft.operators.Dedup.appendSpanIndex]]
    * keeps only hashes not already present), so batch N+1 reports
    * batch N's content as corpus-duplicated (pinned in StreamingSpec).
    * Same marker-fenced recovery ([[twoPhaseIngest]]); here a replayed
    * append is naturally a no-op at the hash level, so not even
    * transient row duplication is possible. `windowTokens` MUST match
    * the index build. */
  def spanIngestSink(
      docs: DataFrame,
      table: String,
      idCol: String,
      textCol: String,
      targetPath: String,
      checkpoint: String,
      windowTokens: Int = 8,
      numBuckets: Int = 32): StreamingQuery =
    eachBatch(docs, checkpoint)(
      spanIngestStep(table, _, _, idCol, textCol, targetPath,
        windowTokens, numBuckets))

  /** Streaming ingest face of the N-step funnel
    * ([[graft.operators.Funnel.funnel]]): each micro-batch appends its
    * funnel-RELEVANT events — (user, step type, event time), non-step
    * events dropped at the trigger — to a [[batchLog]].
    *
    * The append-only log IS the funnel state: the greedy chain is
    * order-sensitive and a LATE event can re-route every later match,
    * so any per-user (t₁..tₖ) summary is unmaintainable under
    * out-of-order arrival — but the multiset of per-step event times
    * is a commutative monoid under union, append-only by construction,
    * and exactly sufficient. [[funnelProgress]] recomputes the chain
    * from the union of committed directories, so
    * stream-then-read ≡ one batch call over the same events, bit for
    * bit, REGARDLESS of how events were split or ordered across
    * triggers (pinned in StreamingSpec, late-arrival case included).
    *
    * Scale shape: per trigger one filtered projection of the batch
    * (no state store, no shuffle); the readout is the batch operator's
    * single user-keyed aggregation over step events only — the log
    * never holds the stream's non-funnel traffic. */
  def funnelIngestSink(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      steps: Seq[String],
      targetPath: String,
      checkpoint: String): StreamingQuery = {
    require(steps.nonEmpty && steps.distinct == steps,
      s"funnel steps must be non-empty and distinct: $steps")
    batchLog(events, targetPath, checkpoint)(
      _.filter(col(userCol).isNotNull && col(typeCol).isin(steps: _*))
        .select(col(userCol).as("user"), col(typeCol).as("step"),
          col(tsCol).as("ts")))
  }

  /** The live funnel readout over a [[funnelIngestSink]] target: the
    * batch operator, verbatim, over every committed micro-batch —
    * (step, event_type, users, conv_prev, conv_first). */
  def funnelProgress(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      steps: Seq[String]): DataFrame =
    graft.operators.Funnel.funnel(
      committedBatches(spark, targetPath), "user", "step", "ts", steps)

  /** Append-only session-event log — the streaming ingest face of the
    * session FLOW analytics ([[graft.operators.Funnel.transitionMatrix]]
    * / [[graft.operators.Funnel.topPaths]]). Unlike the EWMA tallies,
    * session structure is NOT incrementally maintainable: a late event
    * can re-cut its session and rewrite the adjacency around it, so
    * per-(from, to) counts are not an additive log. The per-user EVENT
    * multiset, however, is a commutative monoid — so the sink logs the
    * four columns the operators need to a [[batchLog]], and
    * the readouts re-derive sessions from the union: stream-then-read ≡
    * one batch call under ARBITRARY late arrival, bit for bit (pinned
    * in StreamingSpec). Storage is event-proportional, the readout one
    * user-partitioned window pass over the log. */
  def sessionLogSink(
      events: DataFrame,
      userCol: String,
      typeCol: String,
      tsCol: String,
      idCol: String,
      targetPath: String,
      checkpoint: String): StreamingQuery =
    batchLog(events, targetPath, checkpoint)(
      _.filter(col(userCol).isNotNull)
        .select(col(userCol).as("user"), col(typeCol).as("event_type"),
          col(tsCol).as("ts"), col(idCol).as("event_id")))

  /** Live Markov transition readout over a [[sessionLogSink]] target:
    * the batch operator, verbatim, over every committed micro-batch. */
  def transitionProgress(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      gapHours: Long,
      scale: Long = 1000000L): DataFrame =
    graft.operators.Funnel.transitionMatrix(
      committedBatches(spark, targetPath),
      "user", "event_type", "ts", "event_id", gapHours, scale)

  /** Live top-journeys readout over a [[sessionLogSink]] target. */
  def topPathsProgress(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      gapHours: Long,
      maxLen: Int,
      k: Int): DataFrame =
    graft.operators.Funnel.topPaths(
      committedBatches(spark, targetPath),
      "user", "event_type", "ts", "event_id", gapHours, maxLen, k)

  /** Streaming ingest face of the EWMA spike detector
    * ([[graft.operators.TimeSeries.ewmaSpikes]]): each micro-batch
    * appends its (key, epoch-hour, count) PARTIAL tallies to a
    * [[batchLog]]. Hourly counts are an additive
    * commutative monoid, so the log stays batch-proportional (tally
    * rows, never events) and ORDER-free: however events split across
    * triggers — including late arrivals into hours that already have
    * partials — [[ewmaProgress]] re-sums per (key, hour) and folds the
    * recurrence, equal to one batch call over the union, bit for bit
    * (pinned in StreamingSpec). The sequential EWMA state itself is
    * deliberately NOT checkpointed: a late event would invalidate
    * every smoothed value after it, and re-folding costs one pass over
    * the tally grid (time-range-sized), not the stream. */
  def ewmaIngestSink(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      targetPath: String,
      checkpoint: String): StreamingQuery =
    batchLog(events, targetPath, checkpoint)(
      _.filter(col(keyCol).isNotNull)
        .select(col(keyCol).as("key"),
          expr(s"unix_micros($tsCol) div 3600000000").as("hour"))
        .groupBy(col("key"), col("hour"))
        .agg(count(lit(1)).as("cnt")))

  /** The live spike readout over an [[ewmaIngestSink]] target: re-sum
    * the partial tallies per (key, hour) — additive, so late partials
    * just add — and fold the batch recurrence
    * ([[graft.operators.TimeSeries.ewmaSpikesFromTallies]]). */
  def ewmaProgress(
      spark: org.apache.spark.sql.SparkSession,
      targetPath: String,
      alphaDen: Long = 8L,
      threshNum: Long = 1L,
      threshDen: Long = 2L): DataFrame =
    graft.operators.TimeSeries.ewmaSpikesFromTallies(
      committedBatches(spark, targetPath)
        .groupBy(col("key"), col("hour"))
        .agg(sum(col("cnt")).as("cnt")),
      "key", "hour", "cnt", alphaDen, threshNum, threshDen)
}
