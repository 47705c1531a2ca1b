package graft

import graft.audio.Pcm
import graft.sketch.Murmur3x64
import graft.text.Text
import org.scalatest.funsuite.AnyFunSuite

class TextAudioSpec extends AnyFunSuite {

  test("shingles: deterministic, distinct, short-text fallback") {
    val a = Text.shingleHashes("hello world", 5)
    assert(a.toSeq == Text.shingleHashes("hello world", 5).toSeq)
    assert(a.length == a.distinct.length)
    assert(Text.shingleHashes("hi", 5).length == 1) // whole-text shingle
    // repeated content collapses (distinct set semantics)
    assert(Text.shingleHashes("ababababab", 2).length <= 2)
  }

  test("exact jaccard/containment: identity, disjoint, prefix") {
    assert(Text.exactJaccard("same text here", "same text here", 5) == 1.0)
    assert(Text.exactJaccard("aaaaaaaaaa", "bbbbbbbbbb", 5) == 0.0)
    val long = "the quick brown fox jumps over the lazy dog and runs away fast"
    val prefix = long.take(40)
    assert(Text.exactContainment(long, prefix, 5) > 0.9) // prefix contained
    assert(Text.exactJaccard(long, prefix, 5) < 0.7)     // but jaccard diluted
  }

  test("langid: fixtures across scripts and languages") {
    assert(Text.langId("the cat sat on the mat and it was happy with that")._1 == "en")
    assert(Text.langId("der Hund ist nicht mit der Katze und das ist gut")._1 == "de")
    assert(Text.langId("le chat est dans la maison et les oiseaux sont pour dans le jardin")._1 == "fr")
    assert(Text.langId("el perro es una mascota que vive con los humanos para siempre")._1 == "es")
    assert(Text.langId("今天天气很好我们去公园散步吧")._1 == "zh")
    // script split: kana -> ja (kanji+kana mix like real Japanese prose),
    // Hangul -> ko; pure Han stays zh
    assert(Text.langId("今日はとても良い天気なので公園へ散歩に行きましょう")._1 == "ja")
    assert(Text.langId("오늘은 날씨가 좋아서 공원에 산책하러 갑니다")._1 == "ko")
    assert(Text.langId("")._1 == "en") // default
  }

  test("token counting: whitespace and bpe-ish") {
    assert(Text.tokens("a  b   c").toSeq == Seq("a", "b", "c"))
    assert(Text.bpeIshTokenCount("hello, world! x2") == 6) // hello , world ! x 2
    assert(Text.bpeIshTokenCount("") == 0)
  }

  test("rolling fingerprint: deterministic, order-sensitive, spread") {
    val a = Text.rollingFingerprint("abc def")
    assert(a == Text.rollingFingerprint("abc def"))
    assert(a != Text.rollingFingerprint("def abc"))
    assert(a >= 0 && a < (1L << 61) - 1)
  }

  test("winnowing: substring guarantee, determinism, density") {
    val rnd = new scala.util.Random(99)
    def randText(n: Int) = Seq.fill(n)(('a' + rnd.nextInt(26)).toChar).mkString
    for (_ <- 1 to 20) {
      val host = randText(300)
      val from = rnd.nextInt(150)
      val sub = host.substring(from, from + 47 + rnd.nextInt(100)) // >= w+k-1 = 47
      val other = randText(80) + sub + randText(90)
      val fa = Text.winnowHashes(sub, 16, 32).toSet
      val fb = Text.winnowHashes(other, 16, 32).toSet
      assert(fa.subsetOf(fb), "winnow guarantee violated: contained text's fingerprints must all appear")
    }
    val t = randText(500)
    val w = Text.winnowHashes(t, 16, 32)
    assert(w.toSeq == Text.winnowHashes(t, 16, 32).toSeq)
    // density ~ 2/(window+1) of positions
    assert(w.length > 500 / 40 && w.length < 500 / 8, s"density off: ${w.length}")
    assert(Text.isSubstring("bc", "abcd") && !Text.isSubstring("xy", "abcd"))
  }

  test("pcm s16le: encode/decode round trip within quantization error") {
    val samples = Array.tabulate(1000)(i => math.sin(i * 0.05) * 0.9)
    val decoded = Pcm.decodePcmS16le(Pcm.encodePcmS16le(samples))
    assert(decoded.length == 1000)
    val maxErr = samples.zip(decoded).map { case (a, b) => math.abs(a - b) }.max
    assert(maxErr < 1.0 / 32768, s"maxErr=$maxErr")
    assert(Pcm.snrDb(samples, decoded) > 80) // 16-bit quantization ~96dB
  }

  test("snr: exact, scaled, and noisy") {
    val s = Array.tabulate(500)(i => math.sin(i * 0.1))
    assert(Pcm.snrDb(s, s).isPosInfinity)
    val noisy = s.map(_ + 0.01)
    assert(Pcm.snrDb(s, noisy) > 30 && Pcm.snrDb(s, noisy) < 45)
  }

  test("audio fingerprint: gain-invariant, content-sensitive, stub decoder deterministic") {
    val sr = 8000
    val s = Array.tabulate(4000)(i => 0.5 * math.sin(2 * math.Pi * 440 * i / sr) +
      0.3 * math.sin(2 * math.Pi * 1200 * i / sr))
    val f1 = Pcm.fingerprintHashes(s, sr).toSet
    val f2 = Pcm.fingerprintHashes(s.map(_ * 0.5), sr).toSet
    assert(f1 == f2, "gain must not change the fingerprint")
    val other = Array.tabulate(4000)(i => 0.5 * math.sin(2 * math.Pi * 700 * i / sr))
    val f3 = Pcm.fingerprintHashes(other, sr).toSet
    assert(f1.intersect(f3).size.toDouble / f1.union(f3).size < 0.3)
    // stub path: deterministic and shape-correct for unknown codecs
    val stub1 = Pcm.decode(Array[Byte](1, 2, 3, 4), "opus")
    val stub2 = Pcm.decode(Array[Byte](1, 2, 3, 4), "opus")
    assert(stub1.toSeq == stub2.toSeq && stub1.forall(v => v >= -1.0 && v < 1.0))
  }

  test("hash-set emitters are sorted; merge-walk count == set intersection") {
    // the verify stage's merge-walk intersection (SortedIntersectCountExpr)
    // requires sorted distinct inputs — pin the contract at the emitters
    def strictlyIncreasing(a: Array[Long]) = a.indices.drop(1).forall(i => a(i - 1) < a(i))
    def hashSetSorted(hs: Iterable[Long]): Seq[Long] = {
      val set = new java.util.HashSet[java.lang.Long]()
      hs.foreach(h => set.add(h))
      set.toArray(new Array[java.lang.Long](0)).map(_.longValue).sorted.toSeq
    }
    val sh = Text.shingleHashes("the quick brown fox jumps over the lazy dog", 5)
    assert(strictlyIncreasing(sh), "shingleHashes must emit sorted distinct")
    val sr = 8000
    val s = Array.tabulate(4000)(i => 0.5 * math.sin(2 * math.Pi * 440 * i / sr))
    val fp = Pcm.fingerprintHashes(s, sr)
    assert(strictlyIncreasing(fp), "fingerprintHashes must emit sorted distinct")
    // both equal a HashSet-built reference on random inputs; small
    // alphabets and a steady tone make repeated hashes common
    val rnd = new scala.util.Random(17)
    (0 until 100).foreach { t =>
      val alphabet = 2 + rnd.nextInt(20)
      val text = Seq.fill(rnd.nextInt(300))(('a' + rnd.nextInt(alphabet)).toChar).mkString
      val k = 1 + rnd.nextInt(6)
      val bytes = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val ref =
        if (bytes.length <= k) Seq(Murmur3x64.hash64(bytes, Murmur3x64.DefaultSeed))
        else hashSetSorted((0 to bytes.length - k).map(i =>
          Murmur3x64.hash128(bytes, i, k, Murmur3x64.DefaultSeed)._1))
      val got = Text.shingleHashes(text, k)
      assert(strictlyIncreasing(got) && got.toSeq == ref, s"shingles differ at case $t")
      val audio =
        if (t % 2 == 0) Array.fill(rnd.nextInt(3000))(rnd.nextDouble() * 2 - 1)
        else Array.tabulate(rnd.nextInt(3000))(i => math.sin(2 * math.Pi * 500 * i / sr))
      val frames = Pcm.fingerprintFrames(audio, sr)
      val fpRef = hashSetSorted(frames.indices.map(i =>
        Murmur3x64.mix64(((i / 4).toLong << 32) ^ (frames(i) & 0xffffffffL))))
      val fpGot = Pcm.fingerprintHashes(audio, sr)
      assert(strictlyIncreasing(fpGot) && fpGot.toSeq == fpRef, s"frame hashes differ at case $t")
    }
    // merge-walk equals set-intersection size on random sorted distinct arrays
    val rng = new scala.util.Random(42)
    (0 until 50).foreach { _ =>
      val a = Array.fill(rng.nextInt(200))(rng.nextInt(100).toLong).distinct.sorted
      val b = Array.fill(rng.nextInt(200))(rng.nextInt(100).toLong).distinct.sorted
      val got = graft.catalyst.SortedIntersectCountExpr.compute(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(a),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(b))
      assert(got == a.toSet.intersect(b.toSet).size)
    }
  }
}
