package graft.pipeline

import graft.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection + clustering pipeline configuration.
  *
  * Mirrors how the reference pins lg_k/seed as compile-time defaults
  * (/root/reference/datasketches-cpp/cpc/include/cpc_common.hpp:31,
  * common_defs.hpp:30): one immutable config drives every stage, so
  * results are reproducible at identical shingle/signature config
  * (north_rule requirement).
  *
  * At b=32 bands x r=4 rows (128 perms), a pair at Jaccard 0.8 collides
  * with p = 1-(1-0.8^4)^32 = 0.99999994 -> recall >= 0.99 holds with big
  * margin at the tau=0.8 decision boundary.
  */
final case class DedupConfig(
    shingleK: Int = 5,          // char k-grams over transcripts
    numPerms: Int = 128,
    bands: Int = 32,
    rowsPerBand: Int = 4,
    tau: Double = 0.8,          // exact-Jaccard verify threshold
    containmentTau: Double = 0.9, // substring-containment verify threshold
    simhashMaxHamming: Int = 4, // combo pigeonhole guarantee
    audioBands: Int = 42,
    audioRowsPerBand: Int = 3,  // r=2 produced ~1M birthday-junk pairs at 50k
                                // clips (cross-clip frame jaccard ~0.004 x 64
                                // bands); r=3 keeps p=0.96 at j=0.42 (worst
                                // observed planted dup) with junk ~ 0
    audioTau: Double = 0.35,    // frame-set Jaccard threshold (robust fp)
    winnowK: Int = 16,          // winnowing k-gram size (substring pass)
    winnowWindow: Int = 32,     // guarantee: shared substrings >= 47 chars collide
    hotBucketLimit: Int = 64,   // buckets larger than this stop all-pairs
    saltMaxBucket: Int = 1024,  // buckets larger than this get star-only
    // which candidate evidence sources run; verify criteria follow (the
    // audio criterion only applies when "audio" evidence is on). A
    // restricted set gives oracle-exact sub-pipelines (e.g. minhash-only
    // with verifyContainment=false is pure shingle-Jaccard clustering,
    // SQL-replayable in DuckDB).
    sources: Set[String] = Set("minhash", "simhash", "audio", "substring"),
    verifyContainment: Boolean = true, // containment/substring verify criteria
    // Streaming only: idle-bucket state TTL (processing time). 0 keeps
    // state forever (the reference's one-pass model terminates at EOF;
    // an unbounded stream with no TTL grows the state-store KEY count
    // with every distinct bucket ever seen). With a TTL, a bucket idle
    // longer than this is dropped and a re-arriving member re-seeds it
    // from empty — connectivity degrades gracefully to within-TTL
    // evidence (pairs between arrivals separated by more than the TTL
    // with no traffic in between are missed; everything else is kept).
    streamStateTtlMs: Long = 0L
)

/** The pipeline. Every stage is a pure DataFrame -> DataFrame map or a
  * keyed aggregation; candidate generation never compares all pairs.
  *
  * Scale design (the 100TB story, SURVEY §3.4/§4):
  *  - signatures: ONE map pass over clips, no shuffle — minhash, simhash
  *    and the audio fingerprint are computed per row;
  *  - candidates: explode each row's bucket keys (bucketKeys) and pair
  *    within buckets (pairsFromBuckets). Buckets above `hotBucketLimit`
  *    (exact-dup masses, hot shingles) pair within chained chunks, and
  *    past `saltMaxBucket` switch to O(n) star pairing, which preserves
  *    connectivity (CC recovers the clique) while bounding output — the
  *    "skew-aware band-bucket splitting" of the north rule;
  *  - verify: joins candidates back to payloads by id — sort-merge on the
  *    id, the only big join, and it's start-shaped not quadratic;
  *  - CC: see ConnectedComponents (a driver union-find up to
  *    DefaultLocalEdgeThreshold edges, large-star/small-star rounds past
  *    it, both on the clip_id strings).
  */
object Dedup {

  /** Stage 1: per-row signatures. clips(clip_id, bytes, sr_hz, dur_ms,
    * codec, transcript) -> (clip_id, minhash, simhash, audio_minhash).
    * Null transcripts are treated as empty so one bad row cannot kill a
    * 100TB candidate stage. */
  def signatures(clips: DataFrame, cfg: DedupConfig): DataFrame = {
    val t = coalesce(col("transcript"), lit(""))
    // the raw shingle set (sh) and audio frame-hash set (afp) are carried
    // FORWARD in the signature table so verification never touches the
    // raw clips again: re-decoding 300k clips' PCM and re-shingling every
    // transcript in the verify stage measured as ~half the pipeline's
    // total allocation churn (GC was 31% of all task time), for data the
    // signature pass had already computed. One wider checkpoint row beats
    // a second full decode pass at every scale.
    // disabled evidence sources skip their (expensive) per-row work: a
    // text-only run never decodes PCM / fingerprints audio
    val afpCol =
      if (cfg.sources("audio")) audio_fp_hashes(col("bytes"), col("codec"), col("sr_hz"))
      else array().cast("array<long>")
    clips.select(
      col("clip_id"),
      t.as("transcript"),
      shingle_hashes(t, lit(cfg.shingleK)).as("sh"),
      minhash_text(t, cfg.shingleK, cfg.numPerms).as("minhash"),
      simhash_text(t).as("simhash"),
      afpCol.as("afp"),
      winnow_hashes(t, lit(cfg.winnowK), lit(cfg.winnowWindow)).as("winnow"))
      .withColumn("audio_minhash", minhash_of_hashes(col("afp"), lit(cfg.numPerms)))
  }

  /** Materialization barrier for multi-consumer intermediates. With a
    * checkpoint directory configured on the SparkContext this is a
    * RELIABLE checkpoint (blocks on the shared filesystem — an executor
    * loss cannot kill the run, the 100TB default); without one it falls
    * back to executor-local blocks (fast, test/sandbox mode). */
  private[graft] def materialize(df: DataFrame,
      localLevel: org.apache.spark.storage.StorageLevel =
        org.apache.spark.storage.StorageLevel.DISK_ONLY): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      // persist first: an eager reliable checkpoint runs TWO jobs (the
      // eager action, then the checkpoint write) and recomputes the whole
      // plan in the second one unless its blocks are cached — for the
      // map-only signature stage that doubled the audio decode + minhash
      // work. The write job reads the cached blocks instead.
      val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
      val out = cached.checkpoint(eager = true)
      cached.unpersist(blocking = false)
      out
    } else
      // DISK_ONLY by default: the signature checkpoint is
      // ~10 GB serialized at 600k clips, and keeping it heap-resident
      // (MEMORY_AND_DISK_SER) drove ParallelGC into multi-second full
      // collections that inflated the high-core leg superlinearly; local
      // SSD blocks cost a re-read but zero GC. Small frames (CC rounds)
      // pass MEMORY_AND_DISK_SER instead — a disk round trip per CC
      // iteration is pure serial latency for kilobyte state.
      df.localCheckpoint(true, localLevel)

  /** Frees what backs a `materialize`d frame once nothing left to run
    * reads it: the blocks of a local checkpoint, or the files of a
    * reliable one. `Dataset.unpersist` reaches neither: it only reaches
    * the cache manager, while a local checkpoint persists its RDD
    * directly and a reliable one writes under the checkpoint dir, which
    * Spark does not clean by default. */
  private[graft] def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD =>
      r.rdd.unpersist(blocking = false)
      r.rdd.getCheckpointFile.foreach { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        path.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(path, true)
      }
    case _ =>
  }

  /** Evidence sources are byte-coded and clip ids 64-bit-hashed inside
    * the candidate stage: the bucket fan-out is the single largest
    * shuffle of the pipeline (one row per band membership — measured
    * 11+ GB per 600k clips with string ids and source names), and
    * (sid LONG, bucket LONG, source BYTE) rows are ~4x smaller and
    * sort/group as primitive comparisons. sid = xxhash64(clip_id) is a
    * pure column function — deterministic across re-evaluation with no
    * dictionary materialization; real clip ids come back for free via
    * the payload join the verify stage performs anyway. Collisions only
    * MERGE two ids inside candidate generation: a spurious pair is
    * killed by exact verification, and a lost true pair needs both ids
    * in one bucket AND equal hashes — expected lost pairs ~ n^2/2^65
    * (~3e4 of ~10^12 at the target scale, recall impact < 1e-7, far
    * inside the 0.99 budget). Connected components run on the clip_id
    * strings themselves, so no collision can merge two clusters. */
  private[graft] val SourceNames: Seq[String] =
    Seq("minhash", "simhash", "audio", "substring", "containment")
  private[graft] def sourceCode(name: String): Int = SourceNames.indexOf(name)
  private[graft] def sourceLit(name: String): Column =
    lit(sourceCode(name)).cast("tinyint")
  private[graft] def decodeSource(c: Column): Column =
    element_at(array(SourceNames.map(lit): _*), c.cast("int") + 1)
  private[graft] def sidOf(c: Column): Column = xxhash64(c)

  /** Candidate pairs from a (sid, bucket, source) fan-out: (a, b, source)
    * sid pairs, a < b, from one exchange on (source, bucket), one
    * in-partition sort and one pass over the sorted rows.
    *
    * Each (source, bucket) run arrives as one consecutive slice, ordered
    * by a per-bucket salted hash of the member. With repeated sids skipped
    * (a winnow fingerprint can repeat in one text), member i (0-based in
    * that order) pairs with, for hot = hotBucketLimit and saltMax =
    * saltMaxBucket:
    *  - nothing, if i = 0;
    *  - every earlier member of its chunk, members hot*(i/hot) .. i-1, if
    *    1 <= i < saltMax and i % hot != 0 (runs of at most `hot` members
    *    emit their whole clique);
    *  - member i-1, if 1 <= i < saltMax and i % hot == 0: the chain edge
    *    that starts a new chunk and keeps the run one component;
    *  - member 0, the hub, if i >= saltMax: past this IDF cutoff (stop
    *    phrases, exact-dup masses) a shared bucket is no evidence, so each
    *    further member costs one star edge.
    * Output is linear in the run past `hot`, and memory is one chunk.
    * The salt draws chunk membership independently per bucket: an
    * exact-dup mass lands with identical membership in every band of
    * every source, and id-ordered chunks would split it the same way
    * everywhere. A true pair colliding in k buckets therefore co-chunks in
    * at least one with p = 1-(1-1/s)^k, s the number of chunks. */
  def pairsFromBuckets(buckets: DataFrame, hotBucketLimit: Int, saltMaxBucket: Int): DataFrame = {
    require(hotBucketLimit >= 2, s"hotBucketLimit must be >= 2, got $hotBucketLimit")
    val spark = buckets.sparkSession
    import spark.implicits._
    val hot = hotBucketLimit
    val saltMax = saltMaxBucket
    // pair generation is OUTPUT-heavy (quadratic in chunk size) while its
    // shuffle INPUT is small, so AQE's bytes-based coalescing would
    // shrink the run stage to one task and serialize it. An explicit
    // fixed-width repartition on the bucket key pins the fan-out.
    val shufN = spark.sessionState.conf.numShufflePartitions
    val parted = buckets
      .repartition(shufN, col("source"), col("bucket"))
      .sortWithinPartitions(col("source"), col("bucket"),
        xxhash64(col("source"), col("bucket"), col("sid")), col("sid"))
      .select(col("source"), col("bucket"), col("sid"))
      .as[(Byte, Long, Long)]
    parted.mapPartitions { rows =>
      // the current run: key, hub, last member seen, member index i, and
      // its chunk's members chunk(0 until n)
      var src: Byte = 0; var bkt = 0L; var hub = 0L; var last = 0L; var i = -1
      var chunk = new Array[Long](16); var n = 0
      rows.flatMap { case (s, b, sid) =>
        val partners: Iterator[Long] =
          if (i < 0 || s != src || b != bkt) {
            src = s; bkt = b; hub = sid; i = 0; chunk(0) = sid; n = 1
            Iterator.empty
          } else if (sid == last) Iterator.empty
          else {
            i += 1
            if (i >= saltMax) Iterator.single(hub)
            else if (i % hot == 0) { chunk(0) = sid; n = 1; Iterator.single(last) }
            else {
              if (n == chunk.length) chunk = java.util.Arrays.copyOf(chunk, 2 * n)
              chunk(n) = sid; n += 1
              chunk.iterator.take(n - 1)
            }
          }
        last = sid
        partners.map(p => if (p < sid) (p, sid, s) else (sid, p, s))
      }
    }.toDF("a", "b", "source")
  }

  /** Stage 2 bucket keys: the ONE definition of each evidence source's
    * key formula, as an array<long> per signature row. Keys are hash-
    * namespaced per source so they never collide; a band index is
    * `transform`'s 0-based int position.
    *  - minhash: text-LSH band collisions (b x r tuned to tau);
    *  - simhash: 2-of-6 block combos — pigeonhole catches any pair within
    *    Hamming 4. The earlier 4x16-bit single chunks collided unrelated
    *    pairs at p = 4*2^-16, and junk is p*n^2/2 (866k pairs at 150k
    *    clips -> 3.27M at 300k); the combos cut p ~13x and widen recall;
    *  - audio: audio-minhash band collisions;
    *  - substring: winnowed fingerprints. If transcript A is a substring
    *    of B (len >= winnowWindow + winnowK - 1), EVERY winnowed
    *    fingerprint of A appears in B, so the bucket join cannot miss it;
    *  - containment: loose r=2 minhash bands for pairs whose Jaccard is
    *    diluted by length (containment >= 0.9 but J ~ len_short/len_long;
    *    SURVEY §7.6 risk 1). Off by default, see candidates().
    * Reads the signature columns minhash / simhash / audio_minhash /
    * winnow — only the one its source needs. */
  def bucketKeys(source: String, cfg: DedupConfig): Column = source match {
    case "minhash" => transform(
      band_hashes(col("minhash"), lit(cfg.bands), lit(cfg.rowsPerBand)),
      (h, i) => xxhash64(i, h))
    case "simhash" => transform(simhash_combo_buckets(col("simhash")),
      c => xxhash64(lit("simhash"), c))
    case "audio" => transform(
      band_hashes(col("audio_minhash"), lit(cfg.audioBands), lit(cfg.audioRowsPerBand)),
      (h, i) => xxhash64(lit("audio"), i, h))
    case "substring" => transform(col("winnow"),
      fp => xxhash64(lit("winnow"), fp))
    case "containment" => transform(
      band_hashes(col("minhash"), lit(8), lit(2)),
      (h, i) => xxhash64(lit("cont"), i, h))
    case other => throw new IllegalArgumentException(s"unknown candidate source $other")
  }

  /** The (sid, bucket, source) fan-out of `sources` over a signature
    * table with a clip_id column, built in a SINGLE pass: each source's
    * keys are tagged with its byte code, concatenated and exploded once.
    * A union of per-source fan-outs would read a signature CHECKPOINT
    * once PER SOURCE (a checkpointed table cannot be column-pruned, so
    * every branch deserialized the full wide row — a 128-task scan stage
    * and 4x the deserialization for the same fan-out rows). All sources
    * then share ONE pair-generation shuffle (pairsFromBuckets). */
  def buckets(sigs: DataFrame, cfg: DedupConfig, sources: Seq[String]): DataFrame = {
    require(sources.nonEmpty, "no candidate sources")
    def tagged(src: String): Column =
      transform(bucketKeys(src, cfg), b => struct(b.as("bucket"), sourceLit(src).as("source")))
    sigs.select(sidOf(col("clip_id")).as("sid"),
        explode(concat(sources.map(tagged): _*)).as("bs"))
      .select(col("sid"), col("bs.bucket").as("bucket"), col("bs.source").as("source"))
  }

  /** The substring fan-out alone: `buckets(sigs, cfg, Seq("substring"))`.
    * Kept as a named entry point only because graft.Bench (a frozen
    * measuring instrument) calls it. */
  def substringBuckets(sigs: DataFrame, cfg: DedupConfig): DataFrame =
    buckets(sigs, cfg, Seq("substring"))

  /** The enabled sources' fan-out, in SourceNames order. */
  private def enabledBuckets(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val enabled = SourceNames.filter(cfg.sources)
    require(enabled.nonEmpty, s"no known candidate sources in ${cfg.sources}")
    buckets(sigs, cfg, enabled)
  }

  /** The north-rule suffix-array pass as a standalone operator: exact
    * shared-span pairs. Winnowed fingerprints bucket the corpus — the
    * recall GUARANTEE (Schleimer et al.) is that any pair sharing a
    * contiguous span of >= winnowWindow + winnowK - 1 bytes shares a
    * fingerprint, so the bucket equi-join cannot miss a qualifying pair —
    * then each candidate is verified EXACTLY with a per-pair generalized
    * suffix array (text.SuffixArray), O((|a|+|b|) log) inside a map stage.
    * This replaces a corpus-global suffix array (which does not
    * distribute) with a bucket join + local SA: same answer, shuffle-
    * friendly, nothing global. Output: (a, b, span_len, a_in_b, b_in_a)
    * for every pair sharing >= minSpan CODE POINTS (a < b in the id
    * column's string order); the containment flags mark full-substring
    * pairs. `hotBucketLimit` defaults to exact (no star-capping) — at
    * extreme scale pass a finite limit and pairs inside over-limit
    * fingerprint buckets (stop-phrase buckets) degrade to star evidence.
    */
  def sharedSpanPairs(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig = DedupConfig(), minSpan: Int = 47,
      hotBucketLimit: Int = Int.MaxValue): DataFrame = {
    import docs.sparkSession.implicits._
    spanCandidatePayloads(docs, idCol, textCol, cfg, minSpan, hotBucketLimit)
      .flatMap { case (idA, idB, textA, textB) =>
        // EXACT O(n+m) decision gate before the SA: winnow buckets
        // overgenerate (a shared fingerprint is not a shared 47-char
        // span), and at sf0.1 only 256 of 162k candidates qualify — the
        // expensive generalized-SA build (the exact span LENGTH) now runs
        // on survivors only; the gate itself is exact in both directions
        // (SuffixArray.sharedSpanAtLeast).
        if (!graft.text.SuffixArray.sharedSpanAtLeast(textA, textB, minSpan)) None
        else {
          val span = graft.text.SuffixArray.longestSharedSpan(textA, textB)
          val (a, b, ta, tb) =
            if (idA > idB) (idB, idA, textB, textA) else (idA, idB, textA, textB)
          Some((a, b, span,
            span == ta.codePointCount(0, ta.length),
            span == tb.codePointCount(0, tb.length)))
        }
      }
      .toDF("a", "b", "span_len", "a_in_b", "b_in_a")
  }

  /** Flags-only form of [[sharedSpanPairs]]: (a, b, a_in_b, b_in_a),
    * identical rows minus the span_len column. The >= minSpan predicate
    * is decided by the exact rolling-gram gate, and the containment flags
    * need no span length either: "longest shared span covers ALL of a"
    * is precisely "a is a substring of b", i.e. text_b.contains(text_a).
    * Callers that never consume span_len (q_shared_spans drops it; the
    * substring-cluster pipeline keeps only the ids) skip the per-pair
    * generalized-SA build entirely — the dominant per-pair cost when
    * most candidates qualify (planted-duplicate corpora). */
  def sharedSpanFlagPairs(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig = DedupConfig(), minSpan: Int = 47,
      hotBucketLimit: Int = Int.MaxValue): DataFrame = {
    import docs.sparkSession.implicits._
    spanCandidatePayloads(docs, idCol, textCol, cfg, minSpan, hotBucketLimit)
      .flatMap { case (idA, idB, textA, textB) =>
        if (!graft.text.SuffixArray.sharedSpanAtLeast(textA, textB, minSpan)) None
        else {
          val (a, b, ta, tb) =
            if (idA > idB) (idB, idA, textB, textA) else (idA, idB, textA, textB)
          Some((a, b, tb.contains(ta), ta.contains(tb)))
        }
      }
      .toDF("a", "b", "a_in_b", "b_in_a")
  }

  /** Shared candidate + payload machinery of the span operators: winnow
    * buckets -> pair runs -> distinct -> payload joins -> pinned
    * round-robin repartition, as a typed (id_a, id_b, text_a, text_b)
    * Dataset ready for a per-pair verifier flatMap. */
  private def spanCandidatePayloads(docs: DataFrame, idCol: String, textCol: String,
      cfg: DedupConfig, minSpan: Int,
      hotBucketLimit: Int): org.apache.spark.sql.Dataset[(String, String, String, String)] = {
    require(minSpan >= cfg.winnowWindow + cfg.winnowK - 1,
      s"winnowing only guarantees recall for spans >= ${cfg.winnowWindow + cfg.winnowK - 1}")
    val d = docs.select(col(idCol).cast("string").as("clip_id"),
      coalesce(col(textCol), lit("")).as("text"))
    val sigs = d.select(col("clip_id"),
      winnow_hashes(col("text"), lit(cfg.winnowK), lit(cfg.winnowWindow)).as("winnow"))
    // a pair sharing several fingerprints collides in several buckets:
    // distinct() before the (costlier) SA verification. saltMaxBucket is
    // raised to the caller's hotBucketLimit so the exactness contract
    // (hotBucketLimit = MaxValue -> no star-capping anywhere) actually
    // holds — with the default saltMax a >1024-doc fingerprint bucket
    // would silently degrade to star evidence despite the contract.
    val cands = pairsFromBuckets(buckets(sigs, cfg, Seq("substring")), hotBucketLimit,
        math.max(cfg.saltMaxBucket, hotBucketLimit))
      .select(col("a"), col("b")).distinct()
    // sid -> (clip_id, text) decode and payload join in one: the dict is
    // a pure projection of the input docs
    val dict = d.select(sidOf(col("clip_id")).as("sid"), col("clip_id").as("id"), col("text"))
    val bound = bindPairs(cands, dict, "sid")
    // The per-pair SA verify costs per PAIR, not per byte, and the
    // candidate shuffle is only ids — AQE's bytes-proportional partition
    // coalescing would run the whole verify on a handful of tasks
    // (measured: 6 tasks, 527 idle core-seconds, 19 s of a 25 s wall at
    // 10k docs / 300k pairs on 32 cores). The explicit round-robin
    // repartition is never AQE-coalesced (user-specified count) and
    // balances hot-doc skew; the typed flatMap is an optimizer barrier, so
    // the span filter cannot be pushed back into the coalesced join stage
    // (PushDownPredicates traverses Repartition, but not typed maps).
    // span_len is symmetric; containment flags are computed AFTER the
    // swap back to string id order so a_in_b refers to the output's a.
    val shufN = docs.sparkSession.sessionState.conf.numShufflePartitions
    import docs.sparkSession.implicits._
    bound.select(col("id_a"), col("id_b"), col("text_a"), col("text_b"))
      .repartition(shufN)
      .as[(String, String, String, String)]
  }

  /** Text-LSH candidates decoded to clip ids: the batch reference the
    * streaming candidate pass is checked against (StreamingDedupSpec).
    * A pair colliding in k bands would otherwise be emitted k times;
    * distinct() keeps each candidate once. Sid pairs are decoded back to
    * clip ids (and re-canonicalized to string order) via the id
    * dictionary — a pure projection of sigs, no materialization. */
  def textCandidates(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val pairs = pairsFromBuckets(buckets(sigs, cfg, Seq("minhash")),
        cfg.hotBucketLimit, cfg.saltMaxBucket)
      .distinct()
    val swap = col("id_a") > col("id_b")
    bindPairs(pairs, sigs.select(sidOf(col("clip_id")).as("sid"), col("clip_id").as("id")), "sid")
      .select(
        when(swap, col("id_b")).otherwise(col("id_a")).as("a"),
        when(swap, col("id_a")).otherwise(col("id_b")).as("b"),
        decodeSource(col("source")).as("source"))
      .distinct()
  }

  /** Oracle-support dump: every clip's bucket memberships across the
    * enabled evidence sources, decoded to (clip_id, source, bucket).
    * Verify persists this beside clips_input so the DuckDB oracle can
    * replay the candidate stage EXACTLY — below hotBucketLimit the pair
    * pass emits all within-bucket pairs (pairsFromBuckets), so
    * candidates == the SQL self-join on (source, bucket). LSH/banding is
    * deterministic given the signatures; no probabilistic-recall caveat
    * applies to the replay itself. */
  def bucketDump(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    val dict = sigs.select(sidOf(col("clip_id")).as("sid"), col("clip_id"))
    enabledBuckets(sigs, cfg).join(dict, "sid")
      .select(col("clip_id"), decodeSource(col("source")).as("source"), col("bucket"))
  }

  def candidates(sigs: DataFrame, cfg: DedupConfig): DataFrame = {
    // NOTE: the "containment" source (b=8, r=2 loose minhash bands) is
    // NOT in the default sources: its junk-collision rate for unrelated
    // docs is p = 8*J_rand^2, quadratic in corpus size (measured 759k pairs at
    // 150k clips -> 2.03M at 300k), and every real containment pair it
    // could find is already GUARANTEED a candidate by the winnowing
    // substring pass (any contiguous shared span >= 47 chars). It stays
    // available for corpora with non-contiguous containment.
    val fanout = enabledBuckets(sigs, cfg)
    // the fan-out has exactly ONE consumer (the single-pass pair stage),
    // so it flows straight into that shuffle — no barrier
    // output keeps the compact 64-bit sid keys (a, b): the verify stage
    // joins payloads BY SID and recovers real clip ids from the payload
    // row, so decoding here would add a join for nothing
    // a pair colliding in k buckets is emitted k times; the dedup
    // aggregates a fixed-width BITMASK of evidence sources instead of
    // collect_set — an 8-byte agg state keeps the partial-agg output
    // rows (the second-largest shuffle of the pipeline) fixed-size, and
    // decodes to the public array<string> contract after the shuffle
    pairsFromBuckets(fanout, cfg.hotBucketLimit, cfg.saltMaxBucket)
      .groupBy(col("a"), col("b"))
      .agg(bit_or(expr("shiftleft(1L, cast(source as int))")).as("src_mask"))
      .select(col("a"), col("b"),
        array_compact(array(SourceNames.zipWithIndex.map { case (n, i) =>
          when(col("src_mask").bitwiseAND(lit(1L << i)) =!= 0, lit(n))
        }: _*)).as("sources"))
  }

  /** The one pair-binding join: `pairs` (id columns `a`, `b`) keeps its
    * columns and gains, for each column `c` of `payload` other than its id
    * column `key`, `c_a` (the payload of `a`) and `c_b` (of `b`). Inner
    * joins: a pair with an end missing from `payload` is dropped. No
    * persist and no repartition: both joins read one payload subtree, whose
    * exchange runs once and is read back as a ReusedExchange (PlansSpec);
    * a caller that wants the payload pruned or pre-partitioned does that
    * before the call. */
  private[graft] def bindPairs(pairs: DataFrame, payload: DataFrame, key: String): DataFrame = {
    val rest = payload.columns.toSeq.filterNot(_ == key)
    def end(e: String): DataFrame =
      payload.select(col(key).as(e) +: rest.map(c => col(c).as(s"${c}_$e")): _*)
    pairs.join(end("a"), "a").join(end("b"), "b")
  }

  /** Stage 3: exact verification. Joins payloads back by id (the only wide
    * join) and keeps pairs passing any criterion: exact shingle-Jaccard >=
    * tau, shingle containment >= containmentTau, or audio frame-set
    * Jaccard >= audioTau. */
  def verify(sigs: DataFrame, cands: DataFrame, cfg: DedupConfig): DataFrame = {
    // shingle sets and audio fingerprints were computed ONCE PER CLIP in
    // the signature pass (never once per candidate pair — measured
    // 2.7ms/pair in per-pair UDF form; the merge-walk form is codegen'd
    // and ~50x cheaper). The pruned projection is keyed by the candidate
    // stage's 64-bit sid and shuffled once by it: the aliased ends keep
    // that partitioning, so neither id join reshuffles the wide payload
    // (a checkpointed table cannot be column-pruned), and the real clip
    // id rides along in the payload row.
    val shufN = sigs.sparkSession.sessionState.conf.numShufflePartitions
    val payload = sigs.select(sidOf(col("clip_id")).as("sid"), col("clip_id").as("id"),
        col("transcript").as("text"), col("sh"), col("afp"))
      .repartition(shufN, col("sid"))
    val bound = bindPairs(cands, payload, "sid")
    val inter = sorted_intersect_count(col("sh_a"), col("sh_b")).cast("double")
    // try_divide: ANSI-safe even if an upstream source hands us genuinely
    // empty shingle arrays (a null pair then scores null -> filtered out)
    val jac = try_divide(inter, size(col("sh_a")) + size(col("sh_b")) - inter)
    val cont = try_divide(inter, least(size(col("sh_a")), size(col("sh_b"))).cast("double"))
    val audioJac = array_jaccard(col("afp_a"), col("afp_b"))
    // criteria follow the enabled evidence: a text-only config must not
    // apply the audio criterion (empty fingerprint sets would score
    // audio_jaccard = 1.0 and pass everything), and the Jaccard-only
    // sub-pipeline (verifyContainment = false) is SQL-replayable exactly
    val audioCrit =
      if (cfg.sources("audio")) col("audio_jaccard") >= cfg.audioTau else lit(false)
    val contCrit =
      if (cfg.verifyContainment) col("containment") >= cfg.containmentTau || col("is_sub")
      else lit(false)
    // every verdict column is symmetric in (a, b) (Jaccard, containment
    // via min, isSubstring checks shorter-in-longer), so the output pair
    // is re-canonicalized to STRING id order — sid order is hash order,
    // not the stable contract downstream oracles pin
    val swap = col("id_a") > col("id_b")
    bound
      .withColumn("jaccard", jac)
      .withColumn("containment", cont)
      .withColumn("audio_jaccard", audioJac)
      .withColumn("is_sub",
        when(lit(cfg.verifyContainment) && col("containment") >= cfg.containmentTau,
          is_substring(col("text_a"), col("text_b"))).otherwise(lit(false)))
      .where(col("jaccard") >= cfg.tau || contCrit || audioCrit)
      .select(
        when(swap, col("id_b")).otherwise(col("id_a")).as("a"),
        when(swap, col("id_a")).otherwise(col("id_b")).as("b"),
        col("sources"), col("jaccard"),
        col("containment"), col("audio_jaccard"), col("is_sub"))
  }

  /** Stage 4: clusters from verified edges (ConnectedComponents.runOnStrings,
    * whose persist + count is the edges' only barrier in `run`).
    * cluster_id = min clip_id in the cluster (canonical; SURVEY §5).
    * Unmatched clips keep themselves as singleton clusters. */
  def clusters(spark: SparkSession, clips: DataFrame, edges: DataFrame): DataFrame = {
    val cc = ConnectedComponents.runOnStrings(spark, edges, "a", "b")
    clips.select(col("clip_id"))
      .join(cc, Seq("clip_id"), "left")
      .select(col("clip_id"), coalesce(col("cluster_id"), col("clip_id")).as("cluster_id"))
  }

  /** Whole pipeline, batch mode, no checkpointing (see runCheckpointed
    * for the resumable variant). */
  def run(spark: SparkSession, clips: DataFrame, cfg: DedupConfig = DedupConfig()): DataFrame =
    stages(spark, clips, cfg, _ => ())

  /** run().count() with the clock read at the pipeline's EXISTING eager
    * materialization barriers — the same stage sequence as run(), the
    * hook only reads the clock where a barrier already synchronizes.
    * Returns (cluster rows, ordered (stage, seconds)):
    *  - signatures: the map pass (decode + minhash/simhash/winnow/afp);
    *  - pairs_verify: the bucket fan-out shuffle, single-pass pair run,
    *    bitmask dedup, the verify payload shuffle, both payload joins
    *    and exact verification — one lazy chain, executed when CC
    *    persists and counts the edges — plus CC itself (the collect and
    *    driver union-find, or past DefaultLocalEdgeThreshold edges the
    *    star rounds);
    *  - cc_clusters: the final cluster join + count.
    * This is the per-stage scaling diagnosis the bench emits at both
    * parallelism levels (which stage binds the N -> 4N efficiency). */
  def runTimedCount(spark: SparkSession, clips: DataFrame,
      cfg: DedupConfig = DedupConfig()): (Long, Seq[(String, Double)]) = {
    val times = Seq.newBuilder[(String, Double)]
    var t0 = System.nanoTime()
    def mark(name: String): Unit = {
      val t1 = System.nanoTime()
      times += name -> (t1 - t0) / 1e9
      t0 = t1
    }
    val rows = stages(spark, clips, cfg, mark).count()
    mark("cc_clusters")
    (rows, times.result())
  }

  /** The one stage sequence behind run() and runTimedCount(): `mark` is
    * called with the stage name right after each eager barrier. The only
    * barriers are the signature `materialize` (two consumers: candidates
    * and verify) and CC's persist + count of the verified edges. */
  private def stages(spark: SparkSession, clips: DataFrame, cfg: DedupConfig,
      mark: String => Unit): DataFrame = {
    // candidates and verify both consume sigs: materialize so the
    // signature map pass (incl. audio decode + fingerprint) runs once. In
    // the checkpointed variant this is a table write instead (SURVEY
    // §3.4: explicit materialization barrier = the --raw/--merge seam).
    val sigs = materialize(signatures(clips, cfg))
    mark("signatures")
    // the verified edges have one consumer, CC, whose persist + count is
    // their only barrier: verification runs there and pairs_verify ends
    // once CC has closed them
    val out = clusters(spark, clips,
      verify(sigs, candidates(sigs, cfg), cfg).select(col("a"), col("b")))
    mark("pairs_verify")
    // CC is eager and its output does not read the signatures
    release(sigs)
    out
  }

  /** Resumable variant: every stage is committed to a checkpoint table
    * keyed by TableIO.snapshotKey; a restarted run reuses published
    * snapshots and recomputes only what is missing (north rule:
    * "resumable from checkpoint with per-partition lineage + metrics").
    * The table write is the explicit materialization barrier — the
    * promoted form of the reference's --raw/--merge seam (SURVEY §1.2).
    *
    * Resume is newest-first: a stage's snapshot is opened only when a
    * later stage has to be computed from it. A restart whose `clusters`
    * snapshot exists costs the input fingerprint plus that one snapshot
    * read (which starts no Spark job, see TableIO); one missing only
    * `clusters` reads `edges` and never touches `signatures` or
    * `candidates`. */
  def runCheckpointed(spark: SparkSession, clips: DataFrame, cfg: DedupConfig,
      checkpointRoot: String): DataFrame = {
    val io = new graft.io.TableIO(spark, checkpointRoot)
    val h = graft.io.TableIO.snapshotKey(cfg, clips)
    lazy val sigs = io.readOrCompute("signatures", h)(signatures(clips, cfg))
    lazy val cands = io.readOrCompute("candidates", h)(candidates(sigs, cfg))
    lazy val edges = io.readOrCompute("edges", h)(verify(sigs, cands, cfg))
    io.readOrCompute("clusters", h)(clusters(spark, clips, edges))
  }

  /** Exact Jaccard over two pre-computed SORTED hash arrays (audio frame
    * sets) — codegen merge walk, no per-row hash set. */
  private def array_jaccard(a: Column, b: Column): Column = {
    val inter = sorted_intersect_count(a, b)
    val uni = size(a) + size(b) - inter
    when(uni === 0, lit(1.0)).otherwise(inter.cast("double") / uni.cast("double"))
  }
}
