package graft.sketch

/** MinHash signatures + LSH banding over 64-bit shingle hashes.
  *
  * Engine-new (the reference has no pairwise-similarity operator; SURVEY
  * §2.6): standard b-bands x r-rows MinHash LSH (Broder '97 / MMDS ch.3).
  * One Murmur3 pass per shingle, then a cheap per-permutation SplitMix64
  * re-mix — signatures are a pure per-row map (no shuffle), which is what
  * makes the signature stage embarrassingly parallel at 10^12 rows.
  *
  * All parameters live in the signature so band hashing is deterministic
  * and partition-invariant by construction (SURVEY §5 merge-equivalence).
  */
final class MinHasher(val numPerms: Int, val seed: Long = Murmur3x64.DefaultSeed)
    extends Serializable {
  require(numPerms > 0)

  // Fixed per-permutation odd multipliers + xor masks derived from the seed.
  private val permSeeds: Array[Long] = {
    val a = new Array[Long](numPerms)
    var s = Murmur3x64.mix64(seed)
    var i = 0
    while (i < numPerms) { s = Murmur3x64.mix64(s + i); a(i) = s; i += 1 }
    a
  }

  /** Signature over a set of shingle hashes. Empty set -> all Long.MaxValue. */
  def signature(shingleHashes: Array[Long]): Array[Long] = {
    val sig = Array.fill(numPerms)(Long.MaxValue)
    var j = 0
    while (j < shingleHashes.length) {
      val s = shingleHashes(j)
      var i = 0
      while (i < numPerms) {
        val v = Murmur3x64.mix64(s ^ permSeeds(i))
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    sig
  }

  /** In-place single-shingle update of a signature (aggregation hot path). */
  def updateSignature(sig: Array[Long], shingleHash: Long): Unit = {
    var i = 0
    while (i < numPerms) {
      val v = Murmur3x64.mix64(shingleHash ^ permSeeds(i))
      if (v < sig(i)) sig(i) = v
      i += 1
    }
  }

  /** Estimated Jaccard from two signatures: fraction of agreeing minima. */
  def estimateJaccard(a: Array[Long], b: Array[Long]): Double = {
    require(a.length == b.length)
    var agree = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) agree += 1; i += 1 }
    agree.toDouble / a.length
  }
}

object MinHasher {
  private val sharedByPerms = new java.util.concurrent.ConcurrentHashMap[Int, MinHasher]()

  /** The default-seed hasher for `numPerms`, built once per JVM and shared:
    * its permutation table is immutable, and per-row callers (UDFs, the
    * codegen expression) would otherwise rebuild it for every row. */
  def shared(numPerms: Int): MinHasher =
    sharedByPerms.computeIfAbsent(numPerms, n => new MinHasher(n))

  /** Band hashes: bands x rowsPerBand must tile the signature. Each band's
    * r minima hash to one 64-bit bucket key. Collision in ANY band makes a
    * candidate pair (classic LSH OR-construction). */
  def bandHashes(sig: Array[Long], bands: Int, rowsPerBand: Int): Array[Long] = {
    require(bands * rowsPerBand <= sig.length,
      s"bands($bands) x rows($rowsPerBand) exceeds signature length ${sig.length}")
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = Murmur3x64.mix64(0x9E3779B97F4A7C15L * (b + 1))
      var r = 0
      while (r < rowsPerBand) {
        h = Murmur3x64.mix64(h ^ sig(b * rowsPerBand + r))
        r += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  /** Probability a pair at Jaccard j collides in >=1 band: 1-(1-j^r)^b.
    * Used by tests to size configs so recall >= 0.99 at the planted
    * similarity (SURVEY §7.6 risk 2). */
  def collisionProbability(j: Double, bands: Int, rowsPerBand: Int): Double =
    1.0 - math.pow(1.0 - math.pow(j, rowsPerBand.toDouble), bands.toDouble)
}
