package graftbench

import graft.audio.Pcm
import graft.sketch.{DistinctSketch, FreqSketch, MinHasher, SimHasher}
import graft.text.{SuffixArray, Text}

/** Single-thread kernel rates over a sample of the workload's own inputs.
  * Each rate is the median of five timed passes after two warm-up passes;
  * a pass repeats the kernel over the whole sample until it has run for
  * at least `MinPassSec`. */
object Kernels {
  private val MinPassSec = 0.1
  @volatile private var sink = 0L

  /** items per second of `pass`, which processes `items` inputs. */
  def rate(items: Int)(pass: => Long): Double = {
    if (items == 0) return 0.0
    def once(): Double = {
      val t0 = System.nanoTime()
      var n = 0L
      while ((System.nanoTime() - t0) / 1e9 < MinPassSec) { sink += pass; n += items }
      n / ((System.nanoTime() - t0) / 1e9)
    }
    once(); once()
    val r = Array.fill(5)(once()).sorted
    r(2)
  }

  /** Rates keyed by metric name. `audio` holds (bytes, codec, sr_hz) of
    * the clips that carry audio (empty when the workload has none). */
  def measure(texts: Array[String], audio: Array[(Array[Byte], String, Int)]): Map[String, Double] = {
    val cfg = graft.pipeline.DedupConfig()
    val shingles = texts.map(Text.shingleHashes(_, cfg.shingleK))
    val hasher = new MinHasher(cfg.numPerms)
    // adjacent texts of the sample as gate pairs; minimum span of the
    // winnowing guarantee (winnowK + winnowWindow - 1)
    val pairs = texts.indices.drop(1).map(i => (texts(i - 1), texts(i))).toArray
    val minSpan = cfg.winnowK + cfg.winnowWindow - 1
    val words = texts.flatMap(_.split(' '))
    Map(
      "audio.fingerprint_clips_per_s" -> rate(audio.length) {
        audio.map { case (b, c, sr) => Pcm.fingerprintHashes(Pcm.decode(b, c), sr).length.toLong }.sum
      },
      "sketch.minhash_docs_per_s" -> rate(shingles.length) {
        shingles.map(s => hasher.signature(s)(0)).sum
      },
      "sketch.simhash_docs_per_s" -> rate(texts.length) {
        texts.map(t => SimHasher.simhash(Text.wordNgramHashes(t, 2))).sum
      },
      "text.shingle_docs_per_s" -> rate(texts.length) {
        texts.map(t => Text.shingleHashes(t, cfg.shingleK).length.toLong).sum
      },
      "text.winnow_docs_per_s" -> rate(texts.length) {
        texts.map(t => Text.winnowHashes(t, cfg.winnowK, cfg.winnowWindow).length.toLong).sum
      },
      "text.span_gate_pairs_per_s" -> rate(pairs.length) {
        pairs.count { case (a, b) => SuffixArray.sharedSpanAtLeast(a, b, minSpan) }.toLong
      },
      "sketch.kmv_updates_per_s" -> rate(1000000) {
        val sk = new DistinctSketch(4096)
        var i = 0L
        while (i < 1000000L) { sk.updateLong(i); i += 1 }
        sk.estimate.toLong
      },
      "sketch.freq_updates_per_s" -> rate(words.length) {
        val sk = FreqSketch.forTopK(20)
        words.foreach(w => sk.update(w))
        sk.streamWeight
      })
  }
}
