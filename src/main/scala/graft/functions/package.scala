package graft

import graft.agg.SketchAggregators._
import graft.audio.Pcm
import graft.sketch.{DistinctSketch, MinHasher, SimHasher}
import graft.text.Text
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** Column-function facade over the sketch/text/audio primitives.
  *
  * Aggregates apply the definitions in `graft.agg.SketchAggregators`, which
  * Catalyst plans as partial + final HashAggregate; what crosses the
  * shuffle is one sketch buffer per group and partition (see there).
  * Scalar helpers are deterministic Scala UDFs — all pure per-row maps (no
  * shuffle), flagged `asNondeterministic` never.
  */
package object functions {

  // ---- distinct-count sketches (reference A1-A8) --------------------------
  def kmv_sketch(col: Column, nomK: Int = 4096): Column = kmvSketch(nomK).udf(col)

  def kmv_est(col: Column, nomK: Int = 4096): Column = kmvEst(nomK).udf(col)

  def kmv_est_long(col: Column, nomK: Int = 4096): Column = kmvEstLong(nomK).udf(col)

  def kmv_merge_est(sketchCol: Column): Column = kmvMergeEst.udf(sketchCol)

  def kmv_merge(sketchCol: Column): Column = kmvMerge.udf(sketchCol)

  // ---- theta set algebra on serialized sketches (reference A6-A8) ----------
  val theta_union_est = udf((a: Array[Byte], b: Array[Byte]) =>
    DistinctSketch.union(Seq(DistinctSketch.deserialize(a), DistinctSketch.deserialize(b))).estimate)

  val theta_intersect_est = udf((a: Array[Byte], b: Array[Byte]) =>
    DistinctSketch.intersect(DistinctSketch.deserialize(a), DistinctSketch.deserialize(b)).estimate)

  val theta_anotb_est = udf((a: Array[Byte], b: Array[Byte]) =>
    DistinctSketch.aNotB(DistinctSketch.deserialize(a), DistinctSketch.deserialize(b)).estimate)

  // ---- heavy hitters (reference A9-A11) ------------------------------------
  def freq_items(col: Column, k: Int): Column = freqItems(k).udf(col)

  /** freq_items with an explicit map size — oversize it past the distinct
    * count and the result is EXACT (offset stays 0), which turns the HH
    * sketch into an oracle-checkable exact top-k. Undersize it and the
    * query fails rather than return approximate rows. */
  def freq_items_lg(col: Column, k: Int, lgMaxK: Int): Column = freqItemsLg(k, lgMaxK).udf(col)

  /** Weighted heavy hitters: each row contributes `weight` occurrences
    * (reference HhSketch::update(bytes, weight), hh.rs:127-151). */
  def freq_items_weighted(col: Column, weight: Column, k: Int): Column =
    freqItemsWeighted(k).udf(col, weight)

  /** No-false-positives heavy hitters (lb-based view, hh.rs:153-165). */
  def freq_items_no_fp(col: Column, k: Int): Column = freqItemsNoFp(k).udf(col)

  // ---- text boundary for sketches (reference counters.rs:28-39 uses
  // base64 STANDARD_NO_PAD for sketch payloads on stdout/stdin) ----------
  val sketch_to_b64 = udf((b: Array[Byte]) =>
    if (b == null) null else java.util.Base64.getEncoder.withoutPadding.encodeToString(b))

  val sketch_from_b64 = udf((s: String) =>
    if (s == null) null else java.util.Base64.getDecoder.decode(s))

  // ---- minhash / simhash / shingling ---------------------------------------
  def minhash_sig_agg(shingleHashCol: Column, numPerms: Int): Column =
    minHashSig(numPerms).udf(shingleHashCol)

  val shingle_hashes = udf((text: String, k: Int) =>
    if (text == null) Array.emptyLongArray else Text.shingleHashes(text, k))

  /** Native codegen expression (no UDF boundary): text -> minhash
    * signature in one whole-stage-codegen pass. The lit()-style k/perms
    * arguments are compile-time ints baked into the generated code. */
  def minhash_text(c: Column, k: Int, numPerms: Int): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(graft.catalyst.MinHashTextExpr(bridge.expression(c), k, numPerms))
  }

  /** |A ∩ B| of two SORTED distinct array<long> columns (what
    * Text.shingleHashesBytes / Pcm.fingerprintHashes emit) — codegen
    * merge walk, no per-row hash set (verify's hot loop). */
  def sorted_intersect_count(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(graft.catalyst.SortedIntersectCountExpr(
      bridge.expression(a), bridge.expression(b)))
  }

  /** Exact cosine similarity of two array<float> columns — one codegen'd
    * double loop, bit-identical to the aggregate/zip_with SQL form it
    * replaces (see catalyst.CosineSimExpr; the ANN verify hot loop). */
  def cosine_sim(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graft.bridge
    bridge.column(graft.catalyst.CosineSimExpr(
      bridge.expression(a), bridge.expression(b)))
  }

  /** UDF form of minhash_text (for SQL registration / dynamic args). */
  val minhash_text_udf = udf((text: String, k: Int, numPerms: Int) =>
    if (text == null) Array.emptyLongArray
    else MinHasher.shared(numPerms).signature(Text.shingleHashes(text, k)))

  val minhash_of_hashes = udf((hashes: Seq[Long], numPerms: Int) =>
    MinHasher.shared(numPerms).signature(hashes.toArray))

  // null-tolerant: a null signature (null transcript upstream) yields no
  // bands rather than an NPE in the candidate stage
  val band_hashes = udf((sig: Seq[Long], bands: Int, rowsPerBand: Int) =>
    if (sig == null) Array.emptyLongArray else MinHasher.bandHashes(sig.toArray, bands, rowsPerBand))

  val simhash_text = udf((text: String) =>
    if (text == null) 0L else SimHasher.simhash(Text.wordNgramHashes(text, 2)))

  /** Oracle-replayable SimHash: the identical bit-vote combiner
    * (SimHasher.simhash) but with token hashes taken as the first 8 bytes
    * (big-endian) of MD5 over each whitespace-split word — a hash DuckDB
    * reproduces in SQL (md5 + hex→UBIGINT cast), so the driver gate covers
    * the SimHash machinery end to end. The pipeline's production variant
    * (simhash_text) stays Murmur-seeded and is pinned by SketchSpec. */
  val simhash_md5_words = udf((text: String) =>
    if (text == null) 0L
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hs = text.split(' ').iterator.filter(_.nonEmpty).map { w =>
        val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        java.nio.ByteBuffer.wrap(d, 0, 8).getLong // big-endian first 8 bytes
      }.toArray
      SimHasher.simhash(hs)
    })

  val simhash_combo_buckets = udf((sim: Long) => SimHasher.comboBucketKeys(sim))

  val hamming = udf((a: Long, b: Long) => SimHasher.hammingDistance(a, b))

  val exact_jaccard = udf((a: String, b: String, k: Int) => Text.exactJaccard(a, b, k))

  val exact_containment = udf((a: String, b: String, k: Int) => Text.exactContainment(a, b, k))

  val winnow_hashes = udf((text: String, k: Int, window: Int) =>
    if (text == null) Array.emptyLongArray else Text.winnowHashes(text, k, window))

  val is_substring = udf((a: String, b: String) =>
    a != null && b != null && Text.isSubstring(a, b))

  // ---- text analysis --------------------------------------------------------
  val lang_id = udf((text: String) => if (text == null) "en" else Text.langId(text)._1)

  val bpeish_token_count = udf((text: String) =>
    if (text == null) 0 else Text.bpeIshTokenCount(text))

  val rolling_fp = udf((text: String) => if (text == null) 0L else Text.rollingFingerprint(text))

  // ---- audio -----------------------------------------------------------------
  val audio_fp_hashes = udf((bytes: Array[Byte], codec: String, srHz: Int) =>
    if (bytes == null) Array.emptyLongArray
    else Pcm.fingerprintHashes(Pcm.decode(bytes, codec), srHz))

  val audio_n_samples = udf((bytes: Array[Byte], codec: String) =>
    if (bytes == null) 0 else Pcm.decode(bytes, codec).length)
}
