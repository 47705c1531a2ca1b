package graft

import graft.audio.Pcm
import graft.gen.ClipGen
import graft.sketch.Murmur3x64
import org.scalatest.funsuite.AnyFunSuite

/** Pins the audio fingerprint to the band-at-a-time Goertzel loop it was
  * defined by. The production kernel advances all bands side by side
  * (Pcm.frameEnergies); checkpointed `afp` / `audio_minhash` columns and
  * every downstream candidate and cluster depend on it reproducing the
  * reference arithmetic exactly. Energies are compared bit for bit, so a
  * reordered or fused band expression fails here even when no median
  * comparison flips a frame bit. */
class PcmBitExactSpec extends AnyFunSuite {

  /** Reference energies: one full 256-sample pass per band, the
    * expression order the fingerprint was defined with. */
  private def referenceEnergies(samples: Array[Double], srHz: Int): Array[Array[Double]] = {
    if (samples.length < Pcm.FrameSize) return Array.empty
    val nFrames = (samples.length - Pcm.FrameSize) / Pcm.HopSize + 1
    val energies = Array.ofDim[Double](nFrames, Pcm.NBands)
    val freqs = new Array[Double](Pcm.NBands)
    val fLo = 200.0
    val fHi = 0.45 * srHz
    var b = 0
    while (b < Pcm.NBands) {
      freqs(b) = fLo * math.pow(fHi / fLo, b.toDouble / (Pcm.NBands - 1))
      b += 1
    }
    var f = 0
    while (f < nFrames) {
      val off = f * Pcm.HopSize
      b = 0
      while (b < Pcm.NBands) {
        val w = 2.0 * math.Pi * freqs(b) / srHz
        val coeff = 2.0 * math.cos(w)
        var s0 = 0.0; var s1 = 0.0; var s2 = 0.0
        var i = 0
        while (i < Pcm.FrameSize) {
          s0 = samples(off + i) + coeff * s1 - s2
          s2 = s1; s1 = s0
          i += 1
        }
        energies(f)(b) = s1 * s1 + s2 * s2 - coeff * s1 * s2
        b += 1
      }
      f += 1
    }
    energies
  }

  private def referenceFrames(energies: Array[Array[Double]]): Array[Int] =
    energies.map { e =>
      val median = e.sorted.apply(Pcm.NBands / 2)
      (0 until Pcm.NBands - 1).foldLeft(0)((bits, b) => if (e(b) > median) bits | (1 << b) else bits)
    }

  private def referenceHashes(frames: Array[Int]): Array[Long] = {
    val set = new java.util.HashSet[java.lang.Long]()
    frames.indices.foreach { i =>
      set.add(Murmur3x64.mix64(((i / 4).toLong << 32) ^ (frames(i) & 0xffffffffL)))
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    java.util.Arrays.sort(out)
    out
  }

  private def assertBitExact(label: String, samples: Array[Double], srHz: Int): Unit = {
    val ref = referenceEnergies(samples, srHz)
    val coeffs = Pcm.bandCoeffs(srHz)
    val s1 = new Array[Double](Pcm.NBands)
    val s2 = new Array[Double](Pcm.NBands)
    val got = new Array[Double](Pcm.NBands)
    ref.indices.foreach { f =>
      Pcm.frameEnergies(samples, f * Pcm.HopSize, coeffs, s1, s2, got)
      (0 until Pcm.NBands).foreach { b =>
        assert(java.lang.Double.doubleToRawLongBits(got(b)) ==
          java.lang.Double.doubleToRawLongBits(ref(f)(b)),
          s"$label: frame $f band $b energy ${got(b)} != ${ref(f)(b)}")
      }
    }
    val frames = Pcm.fingerprintFrames(samples, srHz)
    assert(java.util.Arrays.equals(frames, referenceFrames(ref)), s"$label: frame bits differ")
    assert(java.util.Arrays.equals(Pcm.fingerprintHashes(samples, srHz), referenceHashes(frames)),
      s"$label: frame hashes differ")
  }

  test("ClipGen audio at 8 kHz and 16 kHz, incl. the gain-0.8 + 35 dB-noise member") {
    // group members: 0 = base, 3 = gain 0.8 + noise at SNR 35 dB
    val groups = (0L until 200L).iterator.map(g => ClipGen.group(11L, g))
      .filter(_.exists(_._1.clip_id.endsWith("_3")))
    val bySr = groups.toSeq.groupBy(_.head._1.sr_hz)
    Seq(8000, 16000).foreach { sr =>
      val picked = bySr.getOrElse(sr, Nil).take(3)
      assert(picked.size == 3, s"no ClipGen groups at $sr Hz")
      picked.flatten.foreach { case (clip, _) =>
        assertBitExact(clip.clip_id, Pcm.decode(clip.bytes, clip.codec), clip.sr_hz)
      }
    }
  }

  test("stub-decoded audio") {
    val payload = Array.tabulate[Byte](9000)(i => (i * 31 + 7).toByte)
    val samples = Pcm.stubDecode(payload)
    assert(samples.length == 4500)
    Seq(8000, 16000).foreach(sr => assertBitExact(s"stub@$sr", samples, sr))
  }

  test("frame-count edges: FrameSize - 1, FrameSize, FrameSize + HopSize - 1 samples") {
    val rng = new scala.util.Random(5)
    Seq(Pcm.FrameSize - 1, Pcm.FrameSize, Pcm.FrameSize + Pcm.HopSize - 1).foreach { n =>
      val samples = Array.fill(n)(rng.nextDouble() * 2 - 1)
      val expectFrames = if (n < Pcm.FrameSize) 0 else 1
      assert(Pcm.fingerprintFrames(samples, 8000).length == expectFrames, s"n=$n")
      Seq(8000, 16000).foreach(sr => assertBitExact(s"n=$n@$sr", samples, sr))
    }
  }
}
