package graft

import graft.functions._
import graft.gen.ClipGen
import graft.pipeline.{Dedup, DedupConfig}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract: every implemented operator from SURVEY.md §2 exposed
  * as a named query, with an exact DuckDB oracle wherever the semantics
  * are SQL-expressible. Sketch queries are sized so the sketch is in its
  * EXACT regime at the correctness scales (sf0.01: 1500 users, 15k orders,
  * ~100k shingles) — the estimate then equals the exact count and the
  * driver's hash compare is meaningful, while the same code path scales
  * to estimates at 100TB.
  */
object SparkEntry {

  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Deterministic synthetic clips table derived from the sf dir's size
    * (2x documents count), cached per dir within the session. Public so
    * Verify can persist it to parquet for the DuckDB oracles. */
  private val clipCache = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  def clipsInput(s: SparkSession, dir: String): DataFrame =
    clipCache.getOrElseUpdate(dir, {
      val nDocs = tbl(s, dir, "documents").count().toInt
      ClipGen.generate(s, nClips = nDocs * 2, seed = 42L)._1.toDF()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })

  /** Flagship: the full near-dup pipeline on a small synthetic clips table. */
  def entry(spark: SparkSession): DataFrame = {
    val clips = ClipGen.generate(spark, nClips = 200, seed = 42L)._1.toDF()
    Dedup.run(spark, clips, DedupConfig())
  }

  // exact while distinct count < nomK; tuned to the sf0.01/sf0.1 profile
  private val K = 65536

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- aggregations over driver tables (reference A1-A12 analogs) --------
    "q1_agg" -> ((s, dir) => {
      tbl(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    "q_keyed_distinct" -> ((s, dir) => {
      // SELECT key, COUNT(DISTINCT value) GROUP BY key — the reference's
      // --key mode (src/main.rs:98-101) via our KMV sketch (exact regime)
      tbl(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(kmv_est(col("user_id").cast("string"), K).as("distinct_users"))
        .orderBy(col("event_type"))
    }),

    "q_raw_merge" -> ((s, dir) => {
      // two-level protocol: partial sketches (--raw) grouped finer, then
      // merged (--merge) to the final key — reference src/main.rs:63-76
      val partial = tbl(s, dir, "events")
        .groupBy(col("event_type"), pmod(col("user_id"), lit(16)).as("shard"))
        .agg(kmv_sketch(col("user_id").cast("string"), K).as("sk"))
      partial.groupBy(col("event_type"))
        .agg(kmv_merge_est(col("sk")).as("distinct_users"))
        .orderBy(col("event_type"))
    }),

    "q_theta_setops" -> ((s, dir) => {
      // |A∪B|, |A∩B|, |A\B| of click vs purchase user sets (theta.rs A6-A8)
      val ev = tbl(s, dir, "events")
      val a = ev.where(col("event_type") === "click")
        .agg(kmv_sketch(col("user_id").cast("string"), K).as("ska"))
      val b = ev.where(col("event_type") === "purchase")
        .agg(kmv_sketch(col("user_id").cast("string"), K).as("skb"))
      a.crossJoin(b).select(
        theta_union_est(col("ska"), col("skb")).as("u"),
        theta_intersect_est(col("ska"), col("skb")).as("i"),
        theta_anotb_est(col("ska"), col("skb")).as("d"))
    }),

    "q_hh_topk" -> ((s, dir) => {
      // heavy hitters: exact under capacity (5 distinct event types)
      tbl(s, dir, "events")
        .agg(freq_items(col("event_type"), 3).as("hh"))
        .select(explode(col("hh")).as("r"))
        .select(col("r.item").as("item"), col("r.est").as("est"),
          col("r.lb").as("lb"), col("r.ub").as("ub"))
        .orderBy(desc("est"), col("item"))
    }),

    "q_hot_shingles" -> ((s, dir) => {
      // HH sketch reused as a skew statistic: top-20 doc-frequency char
      // 5-grams (SURVEY §4: hot-shingle detection feeds bucket splitting).
      // Built-in substring/sequence keeps shingling inside codegen.
      // The input is a single small parquet file (one scan split), so the
      // shingle explode + per-partition MG partial aggregation — the
      // ENTIRE cost of the query — would run in one task; the explicit
      // round-robin repartition fans the compute out to the configured
      // shuffle width (it is a user-specified count, so AQE cannot
      // coalesce it back down; guide §2.5 input skew). The MG sketch is
      // in its exact regime here (distinct 5-grams << 2^18 capacity), so
      // partial-sketch partitioning cannot change the merged result.
      val sh2 = tbl(s, dir, "documents")
        .repartition(s.sessionState.conf.numShufflePartitions)
        .select(col("doc_id"), expr("explode(array_distinct(transform(sequence(1, greatest(length(text)-4,1)), i -> substring(text, i, 5))))").as("sh"))
      sh2.agg(freq_items_lg(col("sh"), 20, 18).as("hh"))
        .select(explode(col("hh")).as("r"))
        .select(col("r.item").as("item"), col("r.est").as("df"))
        .orderBy(desc("df"), col("item"))
    }),

    "q_rolling_distinct" -> ((s, dir) => {
      // amazon-notebook 28-day rolling distinct (SURVEY P6/§2.7): widen
      // each event to its 28 trailing days, then keyed sketch distinct
      // (r6: an explicit repartition off the single-split scan was tried
      // and reverted — the 32-way partial KMV merge cost more than the
      // single-task explode saved: 0.34 s -> 0.54 s steady-state)
      val ev = tbl(s, dir, "events").withColumn("d", to_date(col("ts")))
      val days = ev.select(col("d").as("day")).distinct()
      ev.withColumn("day", explode(sequence(col("d"), date_add(col("d"), 27))))
        .join(days, Seq("day"), "left_semi")
        .groupBy(col("day"))
        .agg(kmv_est(col("user_id").cast("string"), K).as("du"))
        .orderBy(col("day"))
    }),

    "q_lines_scan" -> ((s, dir) => {
      // S1+P2 (SURVEY §2.1/§2.2): raw line scan over a file with MIXED
      // \n / \r\n terminators — spark.read.text strips both (the
      // reference strips trailing \r after the \n split,
      // stream_reducer.rs:13-29) — then the --key protocol: first-space
      // split, keyed distinct-count + line count. A \r surviving into
      // the value would split every third value group and fail the gate.
      val lines = s.read.text(graft.gen.RawFixtures.linesPath)
      lines
        .select(substring_index(col("value"), " ", 1).as("key"),
          expr("substring(value, length(substring_index(value, ' ', 1)) + 2)").as("v"))
        .groupBy(col("key"))
        .agg(kmv_est(col("v"), K).as("dv"), count(lit(1)).as("n"))
        .orderBy(col("key"))
    }),

    "q_csv_extract" -> ((s, dir) => {
      // S5 (SURVEY §2.1): CSV field extraction with real RFC4180 quoting
      // (embedded commas, doubled quotes). escape="\"" pins univocity to
      // quote-doubling, the dialect DuckDB's reader speaks natively.
      s.read.option("header", "true").option("escape", "\"")
        .csv(graft.gen.RawFixtures.csvPath)
        .select(col("id").cast("long").as("id"), col("cat"), col("msg"),
          length(col("msg")).as("n_msg"), col("val").cast("double").as("val"))
        .orderBy(col("id"))
    }),

    "q_keyval_split" -> ((s, dir) => {
      // P1 (SURVEY §2.2): line = key ' ' value, split on the FIRST space —
      // the reference --key line format (src/counters.rs:60-66) — then
      // keyed distinct-count over the reconstructed lines
      val lines = tbl(s, dir, "events")
        .select(concat(col("event_type"), lit(" "), col("user_id"), lit(":"), col("event_id")).as("line"))
      lines
        .select(substring_index(col("line"), " ", 1).as("key"),
          expr("substring(line, length(substring_index(line, ' ', 1)) + 2)").as("value"))
        .groupBy(col("key"))
        .agg(kmv_est(col("value"), K).as("dv"))
        .orderBy(col("key"))
    }),

    // --- dedup / text analysis over documents ------------------------------
    "q_dedup_exact" -> ((s, dir) => {
      // exact dedup: canonical id = min doc_id among byte-identical texts.
      // The shuffle key is a 256-bit content fingerprint, NOT the document:
      // at 100TB, grouping on full text ships every document as a
      // comparator key; sha-256 gives 32-byte keys with the same groups
      // AND no constructible collision (md5 collisions are practically
      // forgeable, which would let adversarial input defeat dedup for
      // chosen documents). Byte equality is still verified WITHIN each
      // fingerprint group (the min(struct) buffer carries the canonical
      // text), so even a collision degrades to self-canonical, never a
      // wrong merge.
      val d = tbl(s, dir, "documents")
        .select(col("doc_id"), col("text"), sha2(col("text").cast("binary"), 256).as("fp"))
      val canon = d.groupBy(col("fp"))
        .agg(min(struct(col("doc_id"), col("text"))).as("c"))
      d.join(canon, "fp")
        .select(col("doc_id"),
          when(col("text") === col("c.text"), col("c.doc_id"))
            .otherwise(col("doc_id")).as("canon_id"))
        .orderBy(col("doc_id"))
    }),

    "q_word_jaccard_pairs" -> ((s, dir) =>
      wordJaccardPairs(tbl(s, dir, "documents"), tau = 0.5)
        .orderBy(col("a"), col("b"))),

    "q_token_stats" -> ((s, dir) => {
      tbl(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(filter(split(col("text"), " "), w => w =!= "")).as("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    "q_bpeish_tokens" -> ((s, dir) => {
      // subword-budget proxy: words + digit runs + punctuation singletons
      // (Text.bpeIshTokenCount); oracle-able because the token regex is
      // plain enough to agree between Java regex and DuckDB's RE2
      tbl(s, dir, "documents")
        .select(col("doc_id"), bpeish_token_count(col("text")).cast("long").as("n_bpeish"))
        .orderBy(col("doc_id"))
    }),

    "q_quality" -> ((s, dir) => {
      val t = col("text")
      val n = length(t)
      tbl(s, dir, "documents").select(
        col("doc_id"),
        n.as("n_chars"),
        round(length(regexp_replace(t, "[^a-z]", "")) / n.cast("double"), 6).as("alpha_ratio"),
        round(length(regexp_replace(t, "[^ ]", "")) / n.cast("double"), 6).as("space_ratio"))
        .where(n > 0)
        .orderBy(col("doc_id"))
    }),

    "q_fingerprint" -> ((s, dir) => {
      tbl(s, dir, "documents")
        .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"), length(col("text")).as("n"))
        .orderBy(col("doc_id"))
    }),

    "q_lang_id" -> ((s, dir) => {
      // n-gram-free marker-word language ID (CJK script split happens in
      // the same function; these docs are ASCII so the marker path decides)
      tbl(s, dir, "documents")
        .select(col("doc_id"), lang_id(col("text")).as("lang_pred"))
        .orderBy(col("doc_id"))
    }),

    "q_minhash_lsh_docs" -> ((s, dir) =>
      lshVerifiedDocPairs(s, dir).orderBy(col("a"), col("b"))),

    "q_cc_clusters" -> ((s, dir) => {
      // connected components with a direct oracle: cluster the EXACT
      // verified J>=0.5 pair set of q_minhash_lsh_docs; DuckDB replays it
      // as a recursive-CTE transitive closure. cluster_id = min doc_id in
      // the component; unmatched docs are singleton clusters. At this size
      // runOnStrings closes the pairs with its driver union-find (its
      // star rounds take over only past DefaultLocalEdgeThreshold edges).
      // Ids are zero-padded for Dedup.clusters (the pipeline's cluster
      // join) so its string-min representative is the numeric min.
      def padded(c: String) = lpad(col(c).cast("string"), 12, "0")
      val pairs = lshVerifiedDocPairs(s, dir).select(padded("a").as("a"), padded("b").as("b"))
      val docs = tbl(s, dir, "documents").select(padded("doc_id").as("clip_id"))
      Dedup.clusters(s, docs, pairs)
        .select(col("clip_id").cast("long").as("doc_id"),
          col("cluster_id").cast("long").as("cluster_id"))
        .orderBy(col("doc_id"))
    }),

    "q_shared_spans" -> ((s, dir) => {
      // the north-rule suffix-array pass: every doc pair sharing a
      // contiguous span of >= 47 code points, with exact containment
      // flags — winnow-fingerprint buckets for recall, per-pair
      // generalized suffix array for exact verification (Dedup
      // .sharedSpanPairs). Ids zero-padded so pair order is numeric.
      // flags-only span operator: this query drops span_len, so the
      // per-pair generalized-SA build is replaced by the exact O(n+m)
      // shared-47-gram gate + contains() flags (Dedup.sharedSpanFlagPairs
      // — identical rows, SA reserved for span-length consumers)
      val docs = tbl(s, dir, "documents").select(
        lpad(col("doc_id").cast("string"), 12, "0").as("id"), col("text"))
      Dedup.sharedSpanFlagPairs(docs, "id", "text", DedupConfig(), minSpan = 47)
        .select(col("a").cast("long").as("a"), col("b").cast("long").as("b"),
          col("a_in_b"), col("b_in_a"))
        .orderBy(col("a"), col("b"))
    }),

    "q_rolling_fp" -> ((s, dir) => {
      // the PRODUCTION rolling Rabin-Karp content fingerprint (base 257
      // mod 2^61-1 over UTF-8 bytes) under the driver gate: the polynomial
      // is pure integer arithmetic, so DuckDB replays it bit-exactly with
      // a HUGEINT power table + per-byte sum (the gate corpora are pure
      // ASCII, where ord(char) == the UTF-8 byte; the non-ASCII byte path
      // is pinned by SketchSpec). The production murmur-seeded simhash
      // that used to share this query is gated by q_simhash_md5 (bit-vote
      // combiner, bit-exact) + q_simhash_hamming_pairs (bucket join) and
      // pinned by SketchSpec — this replaces round 4's one no_oracle row.
      tbl(s, dir, "documents")
        .select(col("doc_id"), rolling_fp(col("text")).as("content_fp"))
        .orderBy(col("doc_id"))
    }),

    "q_simhash_md5" -> ((s, dir) => {
      // the same SimHash bit-vote combiner under the DRIVER gate: token
      // hashes are md5-derived (first 8 bytes big-endian), which DuckDB
      // replays bit-exactly in SQL — so the sign-vote fold, tie rule
      // (acc == 0 → bit 0) and bit packing are all hash-checked, not just
      // ScalaTest-pinned. Production simhash_text differs only in the
      // per-token hash (seeded Murmur3 over word bigrams).
      tbl(s, dir, "documents")
        .select(col("doc_id"), simhash_md5_words(col("text")).as("simhash"))
        .orderBy(col("doc_id"))
    }),

    "q_simhash_hamming_pairs" -> ((s, dir) => {
      // the SimHash Hamming-bucket JOIN under the driver gate: all doc
      // pairs within Hamming distance 4 of each other's 64-bit simhash,
      // found via the pipeline's 2-of-6 block-combo bucket keys (15 keys
      // per doc; pigeonhole: <= 4 flipped bits leave >= 2 clean blocks,
      // so every qualifying pair shares >= 1 key — EXACT recall, never an
      // all-pairs scan) and verified by exact bit_count(xor). md5-derived
      // token hashes so DuckDB replays the whole path bit-exactly; the
      // output pair set is inherently quadratic only in duplicate masses
      // (the qualifying set itself), junk collisions at 15*2^-21.3 per
      // unrelated pair. The clustering pipeline consumes the capped
      // evidence form instead (Dedup star/chunk); this query is the
      // exact-enumeration operator.
      val fp = tbl(s, dir, "documents")
        .repartition(s.sessionState.conf.numShufflePartitions)
        .select(col("doc_id"), simhash_md5_words(col("text")).as("sh"))
      val bk = fp.select(col("doc_id"), col("sh"),
        explode(simhash_combo_buckets(col("sh"))).as("bucket"))
      val cand = bk.select(col("bucket"), col("doc_id").as("a"), col("sh").as("sha"))
        .join(bk.select(col("bucket"), col("doc_id").as("b"), col("sh").as("shb")), "bucket")
        .where(col("a") < col("b"))
        .select(col("a"), col("b"), col("sha"), col("shb")).distinct()
      cand.select(col("a"), col("b"), hamming(col("sha"), col("shb")).as("hd"))
        .where(col("hd") <= 4)
        .orderBy(col("a"), col("b"))
    }),

    // --- similarity search over embeddings ----------------------------------
    "q_ann_bruteforce" -> ((s, dir) => {
      // top-10 cosine neighbors of query vectors 0..2: brute force,
      // broadcast the tiny query side, score via codegen'd zip_with+aggregate
      graft.sim.Ann.bruteTopK(tbl(s, dir, "embeddings"), kNeighbors = 10)
        .orderBy(col("qid"), col("rk"))
    }),

    "q_ann_lsh" -> ((s, dir) => {
      // LSH-bucketed ANN: random-hyperplane signs -> candidate buckets ->
      // exact cosine within buckets (the scale path; ScalaTest measures
      // recall vs brute force)
      graft.sim.Ann.lshTopK(s, tbl(s, dir, "embeddings"), kNeighbors = 10, planes = 4, tables = 16)
        .orderBy(col("qid"), col("rk"))
    }),

    "q_ann_ivf" -> ((s, dir) => {
      // IVF inverted-list ANN (seeded Lloyd codebook, nProbe lists, exact
      // rerank). nProbe = nCentroids here makes the probe exhaustive, so
      // the result is EXACTLY the brute-force top-10 and the brute-force
      // SQL is a true oracle for the whole train/assign/probe/rerank
      // machinery; the selective regime (nProbe=6, recall 0.93) is
      // asserted by ScalaTest (QueriesSpec)
      graft.sim.Ann.ivfTopK(s, tbl(s, dir, "embeddings"), kNeighbors = 10,
          nCentroids = 8, nProbe = 8)
        .orderBy(col("qid"), col("rk"))
    }),

    "q_ann_ivf_sel" -> ((s, dir) => {
      // the SELECTIVE IVF regime under the driver gate (the exhaustive
      // q_ann_ivf oracle validates the machinery; this one validates the
      // APPROXIMATION): nProbe = 6 of 8 lists, recall measured in-Spark
      // against the exact brute-force top-10 and emitted as a per-query
      // bound. DuckDB pins the bound as a constant — if the selective
      // probe ever degrades below 7/10 per query the flag flips and the
      // hash compare fails. (Measured: recall 0.93 overall at sf0.01;
      // the 0.7 floor leaves margin for corpus-profile drift across sf.)
      val emb = tbl(s, dir, "embeddings")
      val ivf = graft.sim.Ann.ivfTopK(s, emb, kNeighbors = 10, nCentroids = 8, nProbe = 6)
      val brute = graft.sim.Ann.bruteTopK(emb, kNeighbors = 10)
      val hits = brute.select(col("qid"), col("vec_id"))
        .join(ivf.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"), "left_semi")
        .groupBy(col("qid")).agg(count(lit(1)).as("nh"))
      brute.select(col("qid")).distinct()
        .join(hits, Seq("qid"), "left")
        .select(col("qid"), (coalesce(col("nh"), lit(0L)) >= 7).as("recall_ok"))
        .orderBy(col("qid"))
    }),

    "q_embed_neardup" -> ((s, dir) => {
      // embedding-cosine near-duplicate pairs (training-data dedup):
      // LSH-bucketed candidates with Hamming-1 probes (miss p ~ 2e-6 at
      // tau = 0.45), exact-cosine verified — never an all-pairs scan.
      // planes pinned to 4: the DuckDB oracle enumerates ALL qualifying
      // pairs, and at the gate's corpus size the shallow signature's
      // near-exhaustive recall is exactly the regime under test (the
      // production default auto-depths to log2(n)+4 — Ann.autoPlanes)
      graft.sim.Ann.cosineNearDupPairs(s, tbl(s, dir, "embeddings"), tau = 0.45,
          planes = 4)
        .orderBy(col("a"), col("b"))
    }),

    // --- the north-star pipeline on synthetic clips -------------------------
    "q_pipeline_clusters" -> ((s, dir) => {
      // FULL multimodal pipeline (all four evidence sources + audio +
      // containment verify). Oracle-replayable via the clips_sigs /
      // clips_buckets side dumps Verify writes: see oracleSql for the
      // replay derivation and its scope.
      Dedup.run(s, clipsInput(s, dir), DedupConfig()).orderBy(col("clip_id"))
    }),

    "q_pipeline_text_clusters" -> ((s, dir) => {
      // the flagship path END TO END — signatures -> LSH band buckets ->
      // salted pair generation -> exact verify -> CC (at this size the
      // driver union-find) -> cluster ids — restricted to minhash evidence
      // with Jaccard-only verification. Every stage is the one
      // q_pipeline_clusters runs, but the decision predicate (shingle J >=
      // tau) is SQL-expressible, so DuckDB replays
      // candidates+verify+clustering exactly (at b=32/r=4 an LSH miss of a
      // J>=0.8 pair has p ~ 5e-8: zero expected misses).
      val cfg = DedupConfig(sources = Set("minhash"), verifyContainment = false)
      Dedup.run(s, clipsInput(s, dir), cfg).orderBy(col("clip_id"))
    }),

    "q_pipeline_substring_clusters" -> ((s, dir) => {
      // the winnow -> suffix-array -> CC flagship path END TO END under
      // the driver gate: exact shared-span pairs (>= 47 code points —
      // winnowing recall guarantee + per-pair generalized-SA exact
      // verification, Dedup.sharedSpanPairs) closed into clusters by
      // Dedup.clusters (at this size CC's driver union-find).
      // SQL-replayable because "longest shared span >= 47" is EXACTLY
      // "shares some 47-char gram": DuckDB rebuilds the pair set from a
      // 47-gram self-join and closes it with a recursive CTE. (Scope:
      // ASCII transcripts — ClipGen emits [a-z ] only, so char grams and
      // byte grams coincide.)
      val clips = clipsInput(s, dir).select(col("clip_id"), col("transcript"))
      // flags-only span operator (only the pair ids feed CC): skips the
      // per-pair SA build — the dominant per-pair cost here, where most
      // candidates genuinely qualify (planted duplicates + hot sentence)
      val pairs = Dedup.sharedSpanFlagPairs(clips, "clip_id", "transcript",
        DedupConfig(), minSpan = 47).select(col("a"), col("b"))
      Dedup.clusters(s, clips, pairs).orderBy(col("clip_id"))
    }),

    "q_multimodal_meta" -> ((s, dir) => {
      // typed metadata + decode over the binary audio column: the
      // multimodal plumbing (schema, batch map, no shuffle) with a real
      // pcm decoder behind it
      clipsInput(s, dir).select(
        col("clip_id"), col("codec"), col("sr_hz"), col("dur_ms"),
        length(col("bytes")).cast("long").as("n_bytes"),
        audio_n_samples(col("bytes"), col("codec")).cast("long").as("n_samples"))
        .withColumn("dur_check_ms", round(col("n_samples") * lit(1000.0) / col("sr_hz"), 0))
        .orderBy(col("clip_id"))
    }),

    // --- HH parity + sketch text boundary -----------------------------------
    "q_hh_weighted" -> ((s, dir) => {
      // weighted heavy hitters (reference HhSketch::update(bytes, weight),
      // hh.rs:127-151): weight = floor(value*100); exact under capacity
      tbl(s, dir, "events")
        .select(col("event_type"), floor(col("value") * 100).cast("long").as("w"))
        .agg(freq_items_weighted(col("event_type"), col("w"), 3).as("hh"))
        .select(explode(col("hh")).as("r"))
        .select(col("r.item").as("item"), col("r.est").as("est"),
          col("r.lb").as("lb"), col("r.ub").as("ub"))
        .orderBy(desc("est"), col("item"))
    }),

    "q_hh_nofp" -> ((s, dir) => {
      // the no-false-positives view (lb-based, hh.rs:153-165); equals the
      // no-FN view here because the sketch is exact under capacity
      tbl(s, dir, "events")
        .agg(freq_items_no_fp(col("event_type"), 3).as("hh"))
        .select(explode(col("hh")).as("r"))
        .select(col("r.item").as("item"), col("r.est").as("est"),
          col("r.lb").as("lb"), col("r.ub").as("ub"))
        .orderBy(desc("est"), col("item"))
    }),

    "q_b64_roundtrip" -> ((s, dir) => {
      // sketch text boundary: partial sketches cross a base64 no-pad text
      // seam (reference counters.rs:28-39) and still merge exactly
      val partial = tbl(s, dir, "events")
        .groupBy(col("event_type"), pmod(col("user_id"), lit(16)).as("shard"))
        .agg(sketch_to_b64(kmv_sketch(col("user_id").cast("string"), K)).as("sk_b64"))
      partial.groupBy(col("event_type"))
        .agg(kmv_merge_est(sketch_from_b64(col("sk_b64"))).as("distinct_users"))
        .orderBy(col("event_type"))
    })
  )

  /** EXACT word-level Jaccard near-dup pairs (J >= tau) via AllPairs/
    * PPJoin prefix filtering (Bayardo et al. WWW'07; Xiao et al.): under
    * one GLOBAL token order — document frequency ascending, word as the
    * tie-break — any pair with |a∩b| >= α must share a token inside
    * a's (na-α+1)-prefix and b's (nb-α+1)-prefix, and J >= tau implies
    * |a∩b| >= ceil(tau·max(na,nb)), so per-doc prefixes of length
    * n - ceil(tau·n) + 1 cannot miss a qualifying pair. The inverted-
    * index join therefore runs over PREFIX tokens only: a Zipfian hot
    * word (df ~ corpus size) sorts to the END of the global order and
    * drops out of nearly every prefix — the bare index's Σ_w df(w)²
    * hot-word quadratic is gone while the result stays exact. A length
    * filter (min >= ceil(tau*max)) and the PPJoin positional filter cut
    * candidates further before any payload binds. Verification touches
    * candidates only: each doc's word-id set (dense dictionary, see below)
    * is bound to both ends of a pair (Dedup.bindPairs) and intersected with
    * a codegen merge walk.
    *
    * No barrier anywhere: the word-id sets are one aggregate whose
    * exchange both payload joins read (the second as a ReusedExchange),
    * and because that aggregate is a shuffle-stage output, AQE sees its
    * real size and broadcasts it when it is small. No cached block
    * outlives the query.
    *
    * Exposed for the plan/size spec (candidate shrink assertion). */
  private[graft] def wordJaccardPairs(documents: DataFrame, tau: Double): DataFrame = {
    val words = documents
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))
      .where(col("w") =!= "")
    val cand = wordPrefixCandidates(words, tau)
    // Verification payload: words mapped through an id dictionary, so
    // the ~candidate-count array binds carry array<long> (8 B/word) instead
    // of strings and the codegen merge walk compares longs (measured ~1.6x
    // end-to-end vs string arrays at sf0.1 / 10.8M candidates). The mapping
    // is bijective — |a∩b|, na, nb and hence J are EXACT, no hash-collision
    // caveat. monotonically_increasing_id numbers the distinct words with
    // no global sort and no RDD round trip; sorting each partition first
    // keeps the numbering the same if a task is recomputed.
    val vocab = words.select(col("w")).distinct()
      .sortWithinPartitions(col("w"))
      .withColumn("wid", monotonically_increasing_id())
    // ws is a sort_array output — the codegen merge walk replaces
    // array_intersect's per-row hash set
    val sets = words.join(vocab, "w")
      .groupBy(col("doc_id")).agg(sort_array(collect_set(col("wid"))).as("ws"))
    // explicit round-robin repartition: the candidate frame is byte-tiny
    // (two longs per row) but each row costs a merge walk + two array
    // binds downstream, and AQE's bytes-based coalescing was running the
    // whole verification on a handful of tasks (same reasoning as the
    // pinned repartition in Dedup.sharedSpanPairs).
    val shufN = documents.sparkSession.sessionState.conf.numShufflePartitions
    val inter = sorted_intersect_count(col("ws_a"), col("ws_b")).cast("double")
    Dedup.bindPairs(cand.repartition(shufN), sets, "doc_id")
      .withColumn("j", round(inter / (size(col("ws_a")) + size(col("ws_b")) - inter), 6))
      .where(col("j") >= tau)
      .select(col("a"), col("b"), col("j"))
  }

  /** The prefix-filtered candidate id pairs (a < b, distinct) — separated
    * so the spec can count them against the unfiltered index join. */
  private[graft] def wordPrefixCandidates(words: DataFrame, tau: Double): DataFrame = {
    val dfreq = words.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    val ranked = words.join(dfreq, "w")
      .withColumn("rk", row_number().over(byDoc.orderBy(col("df"), col("w"))))
      .withColumn("n", count(lit(1)).over(byDoc))
    // The prefix frame is BOTH sides of the self-join below, with no
    // barrier: the two sides share the window's exchange, which AQE runs
    // once and the second side reads as a ReusedExchange (PlansSpec).
    val prefix = ranked.where(col("rk") <= col("n") - ceil(lit(tau) * col("n")) + 1)
      .select(col("w"), col("doc_id"), col("rk"), col("n"))
    // PPJoin INDEX-PREFIX asymmetry (Xiao et al.): orient each unordered
    // pair so the size-SMALLER doc (ties: smaller id) probes with its
    // shorter 2tau/(1+tau)-prefix while the larger doc is indexed by the
    // t-prefix. Exact: a qualifying pair has overlap alpha >=
    // ceil(tau/(1+tau)(ns+nl)) >= ceil(2tau/(1+tau) ns) (ns <= nl) and
    // >= ceil(tau*nl) (ns >= tau*nl for a qualifying pair), so the
    // pair's global-minimum shared token sits inside BOTH prefixes. The
    // join fan-out — the dominant stage of the query — shrinks by the
    // probe-prefix ratio (~2/3 at tau=0.5).
    val probe = prefix
      .where(col("rk") <= col("n") - ceil(lit(2 * tau / (1.0 + tau)) * col("n")) + 1)
    // Two further EXACT cuts before the candidate pairs bind any payload
    // (verification attaches full word arrays — every row dropped here is
    // two array binds and a merge walk saved):
    //  - length filter: |a∩b| <= min(na,nb) and union >= max, so J >= tau
    //    forces min >= ceil(tau*max);
    //  - positional filter (PPJoin, Xiao et al.): tokens sort in the SAME
    //    global (df, w) order in both docs, so the first shared token t*
    //    bounds |a∩b| <= 1 + min(na-rk_a(t*), nb-rk_b(t*)); J >= tau needs
    //    |a∩b| >= ceil(tau/(1+tau)*(na+nb)). t* always lies in both
    //    prefixes and passes the bound for a qualifying pair, so keeping
    //    pairs where ANY joined occurrence passes loses nothing.
    val alpha = ceil(lit(tau / (1.0 + tau)) * (col("ns") + col("nl")))
    // The probe side is repartitioned to the configured shuffle width
    // before the self-join: the prefix frame is byte-tiny, so AQE
    // coalesced the join input to ~1 partition — but the join OUTPUT fans
    // out to every co-occurring prefix pair (the dominant cost of the
    // whole query: 8.4 of 11.5 s at sf0.1 in the r6 baseline ran in that
    // single task). A user-specified repartition count is never
    // AQE-coalesced (guide §2.5). Hash-partitioned on the probe doc, not
    // round-robin: every duplicate of a pair (one per shared prefix
    // token) carries the SAME probe doc, so the partial aggregate of the
    // distinct() below dedups map-side and only ~distinct pairs cross
    // the exchange (guide §2.3 aggregate-before-you-shuffle).
    val shufN = words.sparkSession.sessionState.conf.numShufflePartitions
    probe.select(col("w"), col("doc_id").as("s"), col("rk").as("rks"), col("n").as("ns"))
      .repartition(shufN, col("s"))
      .join(prefix.select(col("w"), col("doc_id").as("l"), col("rk").as("rkl"), col("n").as("nl")), "w")
      // orientation: probe doc strictly smaller (ties: smaller id) —
      // each unordered pair is generated exactly once
      .where(col("ns") < col("nl") || (col("ns") === col("nl") && col("s") < col("l")))
      .where(col("ns") >= ceil(lit(tau) * col("nl")))
      .where(lit(1) + least(col("ns") - col("rks"), col("nl") - col("rkl")) >= alpha)
      .select(least(col("s"), col("l")).as("a"), greatest(col("s"), col("l")).as("b"))
      .distinct()
  }

  /** Verified near-dup doc pairs via the text LSH path; exact
    * verification keeps J >= 0.5 (ScalaTest checks recall vs oracle).
    * Shared by q_minhash_lsh_docs and q_cc_clusters.
    *
    * Sharp bands (r=5): these documents are heavily self-similar (~ALL of
    * the n^2/2 pairs share some shingle; 3.7M pairs sit at J>=0.2 at
    * sf0.1) while every pair that passes tau=0.5 has J >= 0.83 — loose
    * r=2 bands collided the J~0.2 mass into millions of junk candidates
    * (29s at sf0.1). At r=5/b=25 the J=0.2 mass collides at p = 25*0.2^5
    * = 0.008 (30k candidates) while a true pair is missed with p =
    * (1-0.83^5)^25 = 4e-6 (1e-13 at the sf0.01 gate, where min
    * qualifying J = 0.93).
    *
    * The shingle payload has no barrier: both payload joins read its one
    * exchange (the second as a ReusedExchange), so the shingle explode
    * runs once and no cached block outlives the call. */
  private def lshVerifiedDocPairs(s: SparkSession, dir: String): DataFrame = {
    // round-robin repartition off the single-file scan: the 128-perm
    // minhash and the shingle explode below are the per-row hot loops of
    // this query, and a one-split parquet file would run them in ONE task
    // (measured 0.5 s single-task for the signatures alone at sf0.1);
    // the explicit width is never AQE-coalesced (guide §2.5 input skew)
    val docs = tbl(s, dir, "documents")
      .repartition(s.sessionState.conf.numShufflePartitions)
      .select(col("doc_id").cast("string").as("clip_id"), col("text").as("transcript"))
    val cfg = DedupConfig(tau = 0.5, bands = 25, rowsPerBand = 5)
    val sigs = docs.select(col("clip_id"),
      minhash_text(col("transcript"), cfg.shingleK, cfg.numPerms).as("minhash"))
    // candidate sid pairs straight from the band buckets: the public
    // textCandidates helper decodes sids to clip ids through two extra
    // joins + a second distinct, but the verification below recovers the
    // real ids for free from its own payload join — the same sid-keyed
    // shape Dedup.verify uses at scale (three fewer exchanges here).
    val cands = Dedup.pairsFromBuckets(Dedup.buckets(sigs, cfg, Seq("minhash")),
        cfg.hotBucketLimit, cfg.saltMaxBucket)
      .select(col("a"), col("b")).distinct()
    // exact verification in the precompute-and-join form: shingle arrays
    // computed ONCE PER DOC (sorted at source), intersection via the
    // codegen merge walk — never a per-pair re-shingling UDF (measured
    // 2.7 ms/pair; this form is ~150x cheaper and is what Dedup.verify
    // uses at scale)
    val sh = docs.select(Dedup.sidOf(col("clip_id")).as("sid"), col("clip_id").as("id"),
      shingle_hashes(col("transcript"), lit(cfg.shingleK)).as("sh"))
    val inter = sorted_intersect_count(col("sh_a"), col("sh_b")).cast("double")
    Dedup.bindPairs(cands, sh, "sid")
      .withColumn("j", round(inter / (size(col("sh_a")) + size(col("sh_b")) - inter), 6))
      .where(col("j") >= cfg.tau)
      // candidate order is sid hash order; re-canonicalize numerically
      .select(least(col("id_a").cast("long"), col("id_b").cast("long")).as("a"),
        greatest(col("id_a").cast("long"), col("id_b").cast("long")).as("b"), col("j"))
  }

  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q_keyed_distinct" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS DOUBLE) AS distinct_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_raw_merge" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS DOUBLE) AS distinct_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_theta_setops" ->
      """SELECT
        |  CAST((SELECT count(DISTINCT user_id) FROM events WHERE event_type IN ('click','purchase')) AS DOUBLE) AS u,
        |  CAST((SELECT count(*) FROM (SELECT DISTINCT user_id FROM events WHERE event_type='click' INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type='purchase')) AS DOUBLE) AS i,
        |  CAST((SELECT count(*) FROM (SELECT DISTINCT user_id FROM events WHERE event_type='click' EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type='purchase')) AS DOUBLE) AS d""".stripMargin,

    "q_hh_topk" ->
      """SELECT event_type AS item, count(*) AS est, count(*) AS lb, count(*) AS ub
        |FROM events GROUP BY 1 ORDER BY est DESC, item LIMIT 3""".stripMargin,

    "q_hot_shingles" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(u.i AS INT), 5) AS item
        |  FROM documents, unnest(range(1, greatest(length(text)-4, 1) + 1)) u(i)
        |)
        |SELECT item, count(*) AS df FROM sh GROUP BY 1 ORDER BY df DESC, item LIMIT 20""".stripMargin,

    "q_rolling_distinct" ->
      """SELECT d.day, CAST(count(DISTINCT e.user_id) AS DOUBLE) AS du
        |FROM (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events) d
        |JOIN events e ON CAST(e.ts AS DATE) BETWEEN d.day - 27 AND d.day
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_lines_scan" ->
      // read_text gives the raw bytes; the \n split + rtrim(chr(13))
      // replays exactly the line scan the Spark text source performs
      """WITH raw AS (SELECT content FROM read_text('{OUT}/lines_input.txt')),
        |l AS (
        |  SELECT rtrim(u.x, chr(13)) AS line
        |  FROM raw, unnest(string_split(content, chr(10))) u(x)
        |  WHERE u.x <> ''
        |)
        |SELECT split_part(line, ' ', 1) AS key,
        |  CAST(count(DISTINCT substring(line, length(split_part(line, ' ', 1)) + 2)) AS DOUBLE) AS dv,
        |  count(*) AS n
        |FROM l GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_csv_extract" ->
      """SELECT CAST(id AS BIGINT) AS id, cat, msg, length(msg) AS n_msg,
        |  CAST(val AS DOUBLE) AS val
        |FROM read_csv('{OUT}/csv_input.csv', header=true, all_varchar=true)
        |ORDER BY id""".stripMargin,

    "q_keyval_split" ->
      """WITH lines AS (
        |  SELECT event_type || ' ' || user_id || ':' || event_id AS line FROM events
        |)
        |SELECT split_part(line, ' ', 1) AS key,
        |  CAST(count(DISTINCT substring(line, length(split_part(line, ' ', 1)) + 2)) AS DOUBLE) AS dv
        |FROM lines GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dedup_exact" ->
      """SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS canon_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_word_jaccard_pairs" ->
      """WITH w AS (
        |  SELECT DISTINCT doc_id, u.w FROM documents, unnest(string_split(text, ' ')) u(w)
        |  WHERE u.w <> ''
        |), s AS (SELECT doc_id, count(*) AS n FROM w GROUP BY 1),
        |inter AS (
        |  SELECT wa.doc_id AS a, wb.doc_id AS b, count(*) AS i
        |  FROM w wa JOIN w wb ON wa.w = wb.w AND wa.doc_id < wb.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT inter.a, inter.b, round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS j
        |FROM inter JOIN s sa ON inter.a = sa.doc_id JOIN s sb ON inter.b = sb.doc_id
        |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5
        |ORDER BY 1, 2""".stripMargin,

    "q_token_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  len(list_filter(string_split(text, ' '), w -> w <> '')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_bpeish_tokens" ->
      """SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_quality" ->
      """SELECT doc_id, length(text) AS n_chars,
        |  round(length(regexp_replace(text, '[^a-z]', '', 'g')) / CAST(length(text) AS DOUBLE), 6) AS alpha_ratio,
        |  round(length(regexp_replace(text, '[^ ]', '', 'g')) / CAST(length(text) AS DOUBLE), 6) AS space_ratio
        |FROM documents WHERE length(text) > 0 ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp, length(text) AS n
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Rolling-fingerprint replay: h = sum_i byte_i * 257^(n-i) mod 2^61-1,
    // computed as ONE recursive power chain to max doc length (not a
    // per-doc per-char recursion) + a per-byte join/sum. Every
    // intermediate fits HUGEINT: byte*power < 2^69, the sum over a
    // 577-char doc < 2^80. ord(substr) == UTF-8 byte because the gate
    // corpora are pure ASCII (asserted: octet_length(encode(text)) ==
    // length(text) across all sf).
    "q_rolling_fp" ->
      """WITH RECURSIVE pw AS (
        |  SELECT 0 AS k, CAST(1 AS HUGEINT) AS v
        |  UNION ALL
        |  SELECT k+1, (v*257) % CAST(2305843009213693951 AS HUGEINT) FROM pw
        |  WHERE k < (SELECT coalesce(max(length(text)), 0) FROM documents)
        |), b AS (
        |  SELECT doc_id, u.i AS i, ord(substr(text, CAST(u.i AS INT), 1)) AS byt,
        |    length(text) AS n
        |  FROM documents, unnest(range(1, length(text)+1)) u(i)
        |), fp AS (
        |  SELECT b.doc_id,
        |    CAST(SUM(CAST(b.byt AS HUGEINT) * pw.v) % 2305843009213693951 AS BIGINT) AS content_fp
        |  FROM b JOIN pw ON pw.k = b.n - b.i
        |  GROUP BY b.doc_id
        |)
        |SELECT d.doc_id, coalesce(fp.content_fp, 0) AS content_fp
        |FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // SimHash replay: same bit-vote as SimHasher.simhash, md5-derived token
    // hashes (first 8 md5 bytes, big-endian). bit_or over HUGEINT (not SUM,
    // which promotes to DOUBLE and corrupts low bits; not UBIGINT <<, which
    // range-errors at bit 63). The final CASE reinterprets the u64 as the
    // two's-complement BIGINT Spark emits.
    "q_simhash_md5" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), tok AS (
        |  SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 16)) AS UBIGINT) AS h
        |  FROM words WHERE w <> ''
        |), bits AS (
        |  SELECT doc_id, bit,
        |    SUM(CASE WHEN (h >> CAST(bit AS UBIGINT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit) b
        |  GROUP BY doc_id, bit
        |), fp AS (
        |  SELECT doc_id,
        |    bit_or(CASE WHEN s > 0 THEN CAST(1 AS HUGEINT) << CAST(bit AS HUGEINT)
        |           ELSE CAST(0 AS HUGEINT) END) AS v
        |  FROM bits GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  coalesce(CASE WHEN v >= 9223372036854775808
        |    THEN CAST(CAST(v AS HUGEINT) - 18446744073709551616 AS BIGINT)
        |    ELSE CAST(v AS BIGINT) END, 0) AS simhash
        |FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // same simhash CTE as q_simhash_md5, then exact Hamming enumeration:
    // DuckDB does the all-pairs xor (500 docs -> 125k pairs at the gate
    // scale) that the Spark side must NOT do — agreement proves the
    // bucket join loses no qualifying pair
    "q_simhash_hamming_pairs" ->
      """WITH words AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        |), tok AS (
        |  SELECT doc_id, CAST(concat('0x', substr(md5(w), 1, 16)) AS UBIGINT) AS h
        |  FROM words WHERE w <> ''
        |), bits AS (
        |  SELECT doc_id, bit,
        |    SUM(CASE WHEN (h >> CAST(bit AS UBIGINT)) & 1 = 1 THEN 1 ELSE -1 END) AS s
        |  FROM tok CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS bit) b
        |  GROUP BY doc_id, bit
        |), fp AS (
        |  SELECT doc_id,
        |    bit_or(CASE WHEN s > 0 THEN CAST(1 AS HUGEINT) << CAST(bit AS HUGEINT)
        |           ELSE CAST(0 AS HUGEINT) END) AS v
        |  FROM bits GROUP BY doc_id
        |), sh AS (
        |  SELECT d.doc_id, CAST(coalesce(fp.v, 0) AS UBIGINT) AS u
        |  FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
        |)
        |SELECT a.doc_id AS a, b.doc_id AS b,
        |  CAST(bit_count(xor(a.u, b.u)) AS INT) AS hd
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.u, b.u)) <= 4
        |ORDER BY a, b""".stripMargin,

    "q_minhash_lsh_docs" ->
      """WITH sh AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(u.i AS INT), 5) AS s
        |  FROM documents, unnest(range(1, greatest(length(text)-4, 1) + 1)) u(i)
        |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT inter.a, inter.b, round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS j
        |FROM inter JOIN sz sa ON inter.a = sa.doc_id JOIN sz sb ON inter.b = sb.doc_id
        |WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.5
        |ORDER BY 1, 2""".stripMargin,

    "q_cc_clusters" ->
      """WITH RECURSIVE sh AS (
        |  SELECT DISTINCT doc_id, substr(text, CAST(u.i AS INT), 5) AS s
        |  FROM documents, unnest(range(1, greatest(length(text)-4, 1) + 1)) u(i)
        |), sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT inter.a, inter.b
        |  FROM inter JOIN sz sa ON inter.a = sa.doc_id JOIN sz sb ON inter.b = sb.doc_id
        |  WHERE round(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) >= 0.5
        |), e AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u WHERE e.v <> r.u
        |)
        |SELECT d.doc_id, least(d.doc_id, coalesce(min(r.v), d.doc_id)) AS cluster_id
        |FROM documents d LEFT JOIN reach r ON r.u = d.doc_id
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    "q_shared_spans" ->
      """WITH g AS (
        |  SELECT doc_id, substr(text, CAST(u.i AS INT), 47) AS g
        |  FROM documents, unnest(range(1, greatest(length(text)-46, 0) + 1)) u(i)
        |), p AS (
        |  SELECT DISTINCT a.doc_id AS a, b.doc_id AS b
        |  FROM g a JOIN g b ON a.g = b.g AND a.doc_id < b.doc_id
        |)
        |SELECT p.a, p.b,
        |  contains(tb.text, ta.text) AS a_in_b,
        |  contains(ta.text, tb.text) AS b_in_a
        |FROM p JOIN documents ta ON ta.doc_id = p.a
        |       JOIN documents tb ON tb.doc_id = p.b
        |ORDER BY p.a, p.b""".stripMargin,

    "q_ann_lsh" ->
      // LSH with Hamming-1 multiprobe at (planes=4, tables=16) returns the
      // exact brute-force top-10 on this data (recall 1.0, asserted by
      // QueriesSpec at >=0.9 and by the hash-match here): same oracle
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
        |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid
        |),
        |rk AS (SELECT qid, vec_id, cos,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk FROM scored)
        |SELECT qid, vec_id, cos, rk FROM rk WHERE rk <= 10 ORDER BY qid, rk""".stripMargin,

    "q_embed_neardup" ->
      """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT a.vec_id AS a, b.vec_id AS b,
        |  round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
        |FROM s a JOIN s b ON a.vec_id < b.vec_id
        |WHERE round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.45
        |ORDER BY a, b""".stripMargin,

    "q_lang_id" ->
      """WITH t AS (
        |  SELECT doc_id, list_filter(string_split(lower(text), ' '), w -> w <> '') AS ts
        |  FROM documents
        |), s AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(ts, w -> w IN ('the','and','of','to','is','that','for','with','was','it'))) AS DOUBLE)/greatest(len(ts),1) AS s_en,
        |    CAST(len(list_filter(ts, w -> w IN ('der','die','das','und','ist','nicht','ein','mit','für','auf'))) AS DOUBLE)/greatest(len(ts),1) AS s_de,
        |    CAST(len(list_filter(ts, w -> w IN ('le','la','les','et','est','une','des','que','pour','dans'))) AS DOUBLE)/greatest(len(ts),1) AS s_fr,
        |    CAST(len(list_filter(ts, w -> w IN ('el','la','los','las','es','una','que','por','para','con'))) AS DOUBLE)/greatest(len(ts),1) AS s_es
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'en'
        |    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
        |    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
        |    WHEN s_es >= s_fr THEN 'es' ELSE 'fr' END AS lang_pred
        |FROM s ORDER BY doc_id""".stripMargin,

    "q_pipeline_text_clusters" ->
      // replay of the Jaccard-only flagship: shingle sets -> all pairs
      // with J >= 0.8 (the exact verify predicate) -> transitive closure
      // -> min clip_id per component; singleton clips map to themselves.
      // SCOPE: the Spark side shingles UTF-8 BYTES (shingleHashesBytes)
      // while this SQL shingles CHARS — they coincide exactly because
      // ClipGen transcripts are pure ASCII ([a-z ] vocabulary) by
      // construction; a non-ASCII corpus would need byte-level substr
      // here. (64-bit shingle-hash collisions: expected ~1e-9 per doc
      // pair at these sizes — zero at the gate.)
      """WITH RECURSIVE c AS (
        |  SELECT clip_id, transcript FROM read_parquet('{OUT}/clips_input.parquet')
        |), sh AS (
        |  SELECT DISTINCT clip_id, substr(transcript, CAST(u.i AS INT), 5) AS s
        |  FROM c, unnest(range(1, greatest(length(transcript)-4, 1) + 1)) u(i)
        |), sz AS (SELECT clip_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.clip_id AS a, b.clip_id AS b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.s = b.s AND a.clip_id < b.clip_id
        |  GROUP BY 1, 2
        |), pairs AS (
        |  SELECT inter.a, inter.b
        |  FROM inter JOIN sz sa ON inter.a = sa.clip_id JOIN sz sb ON inter.b = sb.clip_id
        |  WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.8
        |), e AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u WHERE e.v <> r.u
        |)
        |SELECT c.clip_id, least(c.clip_id, coalesce(min(r.v), c.clip_id)) AS cluster_id
        |FROM c LEFT JOIN reach r ON r.u = c.clip_id
        |GROUP BY c.clip_id ORDER BY c.clip_id""".stripMargin,

    "q_pipeline_clusters" ->
      // FULL multimodal flagship replay. Candidates: the dumped bucket
      // memberships ({OUT}/clips_buckets, all four evidence sources) —
      // LSH banding is DETERMINISTIC given the signatures, and below
      // hotBucketLimit the pair pass emits all within-bucket pairs, so
      // the self-join on (source, bucket) IS the candidate set. For the
      // few over-limit buckets (winnow buckets reach ~96 members at
      // sf0.01) Spark emits chunk+chain pairs — a connectivity-preserving
      // SUBSET of this SQL's all-pairs — and the CLUSTER-level outputs
      // still agree because chain edges inside an over-limit bucket are
      // near-identical-doc pairs that pass verify (same argument, and
      // same empirical gate, as the text variant's hot buckets). Verify:
      // the exact predicate over the dumped per-clip hash sets
      // ({OUT}/clips_sigs: sh = shingle hashes, afp = audio frame
      // fingerprints — the same sorted distinct sets verify consumes;
      // their CONSTRUCTION is pinned separately by TextAudioSpec against
      // the in-repo reference decoder): shingle J >= 0.8 OR shingle
      // containment >= 0.9 (is_sub only fires when containment already
      // passed, so it never widens the predicate) OR audio frame-set
      // J >= 0.35 (empty-vs-empty scores 1.0, matching array_jaccard).
      // Clusters: transitive closure -> min clip_id; singletons self-map.
      """WITH RECURSIVE c AS (
        |  SELECT clip_id FROM read_parquet('{OUT}/clips_input.parquet')
        |), sg AS (
        |  SELECT clip_id, sh, afp FROM read_parquet('{OUT}/clips_sigs.parquet')
        |), cb AS (
        |  SELECT clip_id, source, bucket FROM read_parquet('{OUT}/clips_buckets.parquet')
        |), cand AS (
        |  SELECT DISTINCT a.clip_id AS a, b.clip_id AS b
        |  FROM cb a JOIN cb b ON a.source = b.source AND a.bucket = b.bucket AND a.clip_id < b.clip_id
        |), scored AS (
        |  SELECT cand.a, cand.b,
        |    len(list_intersect(sa.sh, sb.sh)) AS ish, len(sa.sh) AS nsa, len(sb.sh) AS nsb,
        |    len(list_intersect(sa.afp, sb.afp)) AS iaf, len(sa.afp) AS naa, len(sb.afp) AS nab
        |  FROM cand JOIN sg sa ON cand.a = sa.clip_id JOIN sg sb ON cand.b = sb.clip_id
        |), pairs AS (
        |  SELECT a, b FROM scored
        |  WHERE CAST(ish AS DOUBLE) / nullif(nsa + nsb - ish, 0) >= 0.8
        |     OR CAST(ish AS DOUBLE) / nullif(least(nsa, nsb), 0) >= 0.9
        |     OR (CASE WHEN naa + nab - iaf = 0 THEN 1.0
        |          ELSE CAST(iaf AS DOUBLE) / (naa + nab - iaf) END) >= 0.35
        |), e AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u WHERE e.v <> r.u
        |)
        |SELECT c.clip_id, least(c.clip_id, coalesce(min(r.v), c.clip_id)) AS cluster_id
        |FROM c LEFT JOIN reach r ON r.u = c.clip_id
        |GROUP BY c.clip_id ORDER BY c.clip_id""".stripMargin,

    "q_pipeline_substring_clusters" ->
      // span >= 47 <=> shares a 47-gram: rebuild the exact pair set from
      // a 47-gram self-join, then transitive closure -> min clip_id
      """WITH RECURSIVE c AS (
        |  SELECT clip_id, transcript FROM read_parquet('{OUT}/clips_input.parquet')
        |), g AS (
        |  SELECT clip_id, substr(transcript, CAST(u.i AS INT), 47) AS g
        |  FROM c, unnest(range(1, greatest(length(transcript)-46, 0) + 1)) u(i)
        |), pairs AS (
        |  SELECT DISTINCT a.clip_id AS a, b.clip_id AS b
        |  FROM g a JOIN g b ON a.g = b.g AND a.clip_id < b.clip_id
        |), e AS (SELECT a AS u, b AS v FROM pairs UNION SELECT b, a FROM pairs),
        |reach AS (
        |  SELECT u, v FROM e
        |  UNION
        |  SELECT r.u, e.v FROM reach r JOIN e ON r.v = e.u WHERE e.v <> r.u
        |)
        |SELECT c.clip_id, least(c.clip_id, coalesce(min(r.v), c.clip_id)) AS cluster_id
        |FROM c LEFT JOIN reach r ON r.u = c.clip_id
        |GROUP BY c.clip_id ORDER BY c.clip_id""".stripMargin,

    "q_ann_ivf" ->
      // nProbe = nCentroids -> exhaustive probe -> IVF output is exactly
      // the brute-force top-10 (same tie order: cos desc, vec_id)
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
        |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid
        |),
        |rk AS (SELECT qid, vec_id, cos,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk FROM scored)
        |SELECT qid, vec_id, cos, rk FROM rk WHERE rk <= 10 ORDER BY qid, rk""".stripMargin,

    "q_ann_ivf_sel" ->
      // recall-bound oracle: the constant the Spark side must reproduce;
      // a selective-probe recall collapse flips recall_ok and fails here
      """SELECT vec_id AS qid, true AS recall_ok FROM embeddings
        |WHERE vec_id < 3 ORDER BY qid""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT clip_id, codec, sr_hz, dur_ms,
        |  octet_length(bytes) AS n_bytes,
        |  octet_length(bytes) // 2 AS n_samples,
        |  round((octet_length(bytes) // 2) * 1000.0 / sr_hz, 0) AS dur_check_ms
        |FROM read_parquet('{OUT}/clips_input.parquet')
        |ORDER BY clip_id""".stripMargin,

    "q_hh_weighted" ->
      // CAST the sums back to BIGINT: DuckDB's sum(BIGINT) is HUGEINT,
      // which pandas renders as float — same values, mismatched dtype
      """SELECT event_type AS item, CAST(sum(w) AS BIGINT) AS est,
        |  CAST(sum(w) AS BIGINT) AS lb, CAST(sum(w) AS BIGINT) AS ub
        |FROM (SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS w FROM events)
        |GROUP BY 1 ORDER BY est DESC, item LIMIT 3""".stripMargin,

    "q_hh_nofp" ->
      """SELECT event_type AS item, count(*) AS est, count(*) AS lb, count(*) AS ub
        |FROM events GROUP BY 1 ORDER BY est DESC, item LIMIT 3""".stripMargin,

    "q_b64_roundtrip" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS DOUBLE) AS distinct_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 3),
        |scored AS (
        |  SELECT q.qid, e.vec_id,
        |    round(list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
        |      (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
        |  FROM embeddings e, q WHERE e.vec_id <> q.qid
        |),
        |rk AS (SELECT qid, vec_id, cos,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rk FROM scored)
        |SELECT qid, vec_id, cos, rk FROM rk WHERE rk <= 10 ORDER BY qid, rk""".stripMargin
  )
}
