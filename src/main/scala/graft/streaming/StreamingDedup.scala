package graft.streaming

import graft.functions._
import graft.pipeline.{Dedup, DedupConfig}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Per-bucket LSH membership carried across micro-batches. `members` is
  * capped at the batch pipeline's `hotBucketLimit`; once a bucket
  * overflows, only the minimum member survives as `hub` and later
  * arrivals pair against it alone — the streaming form of the batch
  * star transform (same connected components, bounded state). */
final case class BucketState(members: Vector[String], hub: Option[String])

/** Structured Streaming near-dup candidate generation (SURVEY §2.8
  * promoted from sketch aggregates to the flagship pipeline): the batch
  * LSH design re-expressed as keyed state. Signatures are the same
  * map-only pass; band buckets become `groupByKey(bucket)` with
  * `flatMapGroupsWithState`, so every arriving clip is paired against
  * the members already seen in its buckets — incremental dedup with
  * O(hotBucketLimit) state per bucket key and append-only output.
  *
  * The reference engine's streaming model is a one-pass reducer over
  * stdin (/root/reference/src/main.rs); this is that contract on an
  * unbounded keyed stream with exactly the batch candidate semantics.
  */
object StreamingDedup {

  /** Streamed VERIFIED near-dup pairs: the incremental candidates joined
    * (stream-static, append mode) against a precomputed per-clip shingle
    * table, kept when exact Jaccard >= cfg.tau — the batch verify stage's
    * precompute-and-join form under Structured Streaming. `payload` is
    * the static side: (clip_id, sh) as produced by shingle_hashes over
    * the reference corpus (at scale: the published signature table). */
  def verifiedTextPairs(clips: DataFrame, payload: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame = {
    val inter = sorted_intersect_count(col("sh_a"), col("sh_b")).cast("double")
    val jac = try_divide(inter, size(col("sh_a")) + size(col("sh_b")) - inter)
    Dedup.bindPairs(textCandidatePairs(clips, cfg), payload.select(col("clip_id"), col("sh")), "clip_id")
      .withColumn("jaccard", jac)
      .where(col("jaccard") >= cfg.tau)
      .select(col("a"), col("b"), col("jaccard"))
  }

  /** Text-LSH candidate pairs over a (possibly streaming) clips frame.
    * Output: (a, b, source) with a < b in string order; a pair colliding
    * in several bands can be emitted more than once (batch mode dedups
    * with groupBy(a,b) — a streaming consumer dedups downstream or
    * treats candidate emission as idempotent, which verification is).
    *
    * REPLAY CONTRACT: candidates are CONNECTIVITY EVIDENCE, not an
    * exact replayable set. For buckets that stay under
    * `cfg.hotBucketLimit` the emitted pair set is arrival-order-
    * invariant (each unordered pair emitted exactly once, when its
    * later member arrives), but once a bucket overflows into the star
    * regime the pre-overflow clique depends on shuffle arrival order —
    * a micro-batch recomputed after task retry/speculation can emit a
    * DIFFERENT (equally connective) pair set than a sink already
    * committed. Downstream must consume these as edges feeding
    * idempotent verification + connected components (where any of the
    * possible sets yields the same clusters), never diff them against
    * a prior run. A deterministic intake would require sorting each
    * batch's arrivals per bucket, i.e. materializing an unbounded
    * micro-batch in one task — exactly the unbounded intake the
    * streaming cap exists to prevent.
    *
    * STATE LIFETIME: with `cfg.streamStateTtlMs > 0`, a bucket idle
    * longer than the TTL (processing time) is evicted from the state
    * store, bounding the KEY count on an unbounded stream; a
    * re-arriving member re-seeds the bucket from empty, so cross-batch
    * pairing degrades to within-TTL evidence. 0 = keep state forever
    * (exact parity with the batch pass over a bounded input).
    * Run TTL queries with a real trigger interval: ProcessingTimeTimeout
    * makes the engine schedule timeout batches indefinitely
    * (FlatMapGroupsWithStateExec.shouldRunAnotherBatch), so the default
    * 0ms trigger busy-loops and processAllAvailable() never returns —
    * callers must poll StreamingQueryProgress instead. */
  def textCandidatePairs(clips: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame = {
    val spark = clips.sparkSession
    import spark.implicits._
    val t = coalesce(col("transcript"), lit(""))
    val sigs = clips.select(
      col("clip_id"),
      minhash_text(t, cfg.shingleK, cfg.numPerms).as("minhash"))
    // the batch minhash bucket keys (Dedup.bucketKeys), but carrying the
    // real clip_id: streaming state pairs ids directly (its output is
    // consumed without a payload join, so the batch path's compact sid
    // encoding would force a decode join on an unbounded stream)
    val buckets = sigs
      .select(explode(Dedup.bucketKeys("minhash", cfg)).as("bucket"), col("clip_id"))
      .as[(Long, String)]
    val limit = cfg.hotBucketLimit
    val ttlMs = cfg.streamStateTtlMs
    val timeoutMode =
      if (ttlMs > 0) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    buckets
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, timeoutMode)(
        (bucket: Long, rows: Iterator[(Long, String)], state: GroupState[BucketState]) => {
          if (state.hasTimedOut) {
            // idle past the TTL: evict. The next arrival re-seeds the
            // bucket from empty (within-TTL connectivity only).
            state.remove()
            Iterator.empty
          } else {
          var st = state.getOption.getOrElse(BucketState(Vector.empty, None))
          val out = Vector.newBuilder[(String, String, String)]
          // arrivals STREAM through the state machine one at a time, so
          // the hotBucketLimit cap bounds memory DURING intake: an
          // exact-dup mass arriving in one micro-batch holds at most
          // limit+1 ids before the state collapses to its hub — the
          // earlier sort-the-whole-batch intake materialized every
          // arrival of the batch in one task first. The emitted pair SET
          // is arrival-order-invariant for every bucket that stays under
          // the cap (each unordered pair is emitted exactly once, when
          // its later member arrives); an overflowing bucket's exact
          // pre-overflow clique depends on arrival order, but every
          // member is connected to the bucket's running-min hub either
          // way — the connectivity CC consumes is deterministic.
          rows.foreach { case (_, id) =>
            st.hub match {
              case Some(h) =>
                // star regime: one edge to the (min) hub, state stays O(1)
                if (id != h) {
                  val (a, b) = if (id < h) (id, h) else (h, id)
                  out += ((a, b, "minhash"))
                  st = if (id < h) BucketState(Vector.empty, Some(id)) else st
                }
              case None =>
                if (!st.members.contains(id)) {
                  st.members.foreach { m =>
                    val (a, b) = if (id < m) (id, m) else (m, id)
                    out += ((a, b, "minhash"))
                  }
                  val grown = st.members :+ id
                  st =
                    if (grown.length > limit) BucketState(Vector.empty, Some(grown.min))
                    else BucketState(grown, None)
                }
            }
          }
          state.update(st)
          if (ttlMs > 0) state.setTimeoutDuration(ttlMs)
          out.result().iterator
          }
        })
      .toDF("a", "b", "source")
  }
}
