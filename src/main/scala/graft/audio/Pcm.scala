package graft.audio

import graft.sketch.Murmur3x64
import graft.text.Text

/** Audio handling for the clips table (`bytes BINARY` + typed metadata).
  *
  * v1 codec surface is `pcm_s16le` with a real decoder; any other codec
  * string is handled by a clearly-marked deterministic STUB decoder (the
  * container has no media libraries — SURVEY §7.6 risk 3). The Spark-side
  * plumbing (binary column in, fingerprint set out, one map pass, no
  * shuffle) is real and tested either way.
  */
object Pcm {
  final val CodecPcmS16le = "pcm_s16le"

  /** Decode little-endian signed 16-bit PCM to [-1, 1] doubles. */
  def decodePcmS16le(bytes: Array[Byte]): Array[Double] = {
    val n = bytes.length / 2
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val s = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort
      out(i) = s / 32768.0
      i += 1
    }
    out
  }

  def encodePcmS16le(samples: Array[Double]): Array[Byte] = {
    val out = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      // symmetric 32768 scale on both sides keeps round-trip error at
      // 0.5 LSB (clamped only at exactly +1.0 full scale)
      val v = math.max(-1.0, math.min(1.0, samples(i)))
      val s = math.min(32767L, math.round(v * 32768.0)).toShort
      out(2 * i) = (s & 0xff).toByte
      out(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** Codec dispatch. Non-PCM codecs -> STUB: a deterministic fake decode
    * (seeded from the payload hash) standing in for ffmpeg-style decoders
    * that are unavailable offline. Marked so callers/tests can tell. */
  def decode(bytes: Array[Byte], codec: String): Array[Double] = codec match {
    case CodecPcmS16le => decodePcmS16le(bytes)
    case _             => stubDecode(bytes)
  }

  /** STUB decoder: deterministic pseudo-audio from the payload bytes. */
  def stubDecode(bytes: Array[Byte]): Array[Double] = {
    val n = math.max(256, bytes.length / 2)
    val out = new Array[Double](n)
    var state = Murmur3x64.hash64(bytes, Murmur3x64.DefaultSeed)
    var i = 0
    while (i < n) {
      state = Murmur3x64.mix64(state)
      out(i) = (state >> 12).toDouble / (1L << 51).toDouble // [-1, 1)
      i += 1
    }
    out
  }

  /** SNR in dB of `test` against `ref` (the per-row invariant from
    * BASELINE.json input_hint: decoded-PCM allclose at SNR >= 30 dB). */
  def snrDb(ref: Array[Double], test: Array[Double]): Double = {
    val n = math.min(ref.length, test.length)
    if (n == 0) return Double.NegativeInfinity
    var sig = 0.0
    var err = 0.0
    var i = 0
    while (i < n) {
      sig += ref(i) * ref(i)
      val d = ref(i) - test(i)
      err += d * d
      i += 1
    }
    if (err == 0.0) Double.PositiveInfinity
    else if (sig == 0.0) Double.NegativeInfinity
    else 10.0 * math.log10(sig / err)
  }

  // --- Robust fingerprint ---------------------------------------------------
  // Spectral-shape hash: per frame, log-spaced band energies (Goertzel —
  // no FFT libs offline); bit b = band energy above the frame's median
  // band energy. Gain-invariant (median scales with the signal) and
  // robust to additive noise at SNR >= 30 dB: a bit only flips when a
  // band crosses the median, and noise 30 dB down moves energies ~0.1%.
  // (A Philips/Haitsma-Kalker delta-sign variant was tried first and
  // measured fragile on tonal content: noise-only bands make delta signs
  // coin flips; the above-median mask keeps them robustly 0.)
  final val FrameSize = 256
  final val HopSize = 128
  final val NBands = 25 // 24 fingerprint bits per frame

  /** Goertzel coefficient `2 cos(w)` of each of the NBands log-spaced
    * frequencies in [200 Hz, 0.45*sr]. */
  private[graft] def bandCoeffs(srHz: Int): Array[Double] = {
    val coeffs = new Array[Double](NBands)
    val fLo = 200.0
    val fHi = 0.45 * srHz
    var b = 0
    while (b < NBands) {
      val freq = fLo * math.pow(fHi / fLo, b.toDouble / (NBands - 1))
      val w = 2.0 * math.Pi * freq / srHz
      coeffs(b) = 2.0 * math.cos(w)
      b += 1
    }
    coeffs
  }

  /** Goertzel band energies of the frame at `off` into `energy`, with
    * `s1`/`s2` as per-band state scratch. Sample-outer, band-inner: the
    * NBands recurrences advance side by side as independent dependency
    * chains, instead of NBands serial passes of one chain each. Each band
    * takes four samples per visit with its state in registers, so the state
    * arrays are stored once per four steps (FrameSize is a multiple of 4).
    * Every step keeps the textbook per-band expression and operation order
    * (no fused multiply-add, no reassociation), so energies are
    * bit-identical to running one band at a time. */
  private[graft] def frameEnergies(samples: Array[Double], off: Int, coeffs: Array[Double],
      s1: Array[Double], s2: Array[Double], energy: Array[Double]): Unit = {
    java.util.Arrays.fill(s1, 0.0)
    java.util.Arrays.fill(s2, 0.0)
    var i = off
    while (i < off + FrameSize) {
      val x0 = samples(i); val x1 = samples(i + 1)
      val x2 = samples(i + 2); val x3 = samples(i + 3)
      var b = 0
      while (b < NBands) {
        val c = coeffs(b)
        val p2 = s2(b); val p1 = s1(b)
        val q0 = x0 + c * p1 - p2
        val q1 = x1 + c * q0 - p1
        val q2 = x2 + c * q1 - q0
        s1(b) = x3 + c * q2 - q1
        s2(b) = q2
        b += 1
      }
      i += 4
    }
    var b = 0
    while (b < NBands) {
      energy(b) = s1(b) * s1(b) + s2(b) * s2(b) - coeffs(b) * s1(b) * s2(b)
      b += 1
    }
  }

  /** Per-frame 24-bit fingerprints over the whole clip. */
  def fingerprintFrames(samples: Array[Double], srHz: Int): Array[Int] = {
    if (samples.length < FrameSize) return Array.empty
    val nFrames = (samples.length - FrameSize) / HopSize + 1
    val coeffs = bandCoeffs(srHz)
    val s1 = new Array[Double](NBands)
    val s2 = new Array[Double](NBands)
    val energy = new Array[Double](NBands)
    val sorted = new Array[Double](NBands)
    val out = new Array[Int](nFrames)
    var f = 0
    while (f < nFrames) {
      frameEnergies(samples, f * HopSize, coeffs, s1, s2, energy)
      System.arraycopy(energy, 0, sorted, 0, NBands)
      java.util.Arrays.sort(sorted)
      val median = sorted(NBands / 2)
      var bits = 0
      var b = 0
      while (b < NBands - 1) {
        if (energy(b) > median) bits |= (1 << b)
        b += 1
      }
      out(f) = bits
      f += 1
    }
    out
  }

  /** Positional frame-hash set for MinHash: hash(frameIndexBucket, bits).
    * Coarse position buckets keep alignment sensitivity low. */
  def fingerprintHashes(samples: Array[Double], srHz: Int): Array[Long] = {
    val frames = fingerprintFrames(samples, srHz)
    val hashes = new Array[Long](frames.length)
    var i = 0
    while (i < frames.length) {
      // 4-frame positional bucket: tolerates small offsets, keeps order info
      hashes(i) = Murmur3x64.mix64(((i / 4).toLong << 32) ^ (frames(i) & 0xffffffffL))
      i += 1
    }
    // sorted distinct: enables the merge-walk intersection in the verify
    // stage (SortedIntersectCountExpr) — sorted once per clip, reused per pair
    Text.sortedDistinct(hashes)
  }
}
