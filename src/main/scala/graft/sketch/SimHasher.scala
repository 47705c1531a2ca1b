package graft.sketch

/** 64-bit SimHash (Charikar '02) over token hashes, plus the Hamming-bucket
  * keys used for candidate generation (comboBucketKeys): near signatures
  * share a key by pigeonhole, so candidates come from a plain equi-join on
  * the key instead of a pairwise Hamming scan.
  */
object SimHasher {

  /** SimHash of a multiset of 64-bit token hashes (weight 1 each). */
  def simhash(tokenHashes: Array[Long]): Long = {
    val acc = new Array[Int](64)
    var i = 0
    while (i < tokenHashes.length) {
      val h = tokenHashes(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (acc(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def hammingDistance(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  private final val ComboBlocks = 6
  private final val ComboWidths = Array(11, 11, 11, 11, 10, 10) // = 64 bits

  /** Block-combination bucket keys (the multi-block scheme from the
    * published SimHash dedup literature, e.g. Manku et al. WWW'07): split
    * the 64 bits into 6 blocks and key on every PAIR of blocks — C(6,2) =
    * 15 keys of 21-22 bits each. Pigeonhole: d flipped bits dirty at most
    * d blocks, so any pair within Hamming distance 4 leaves >= 2 blocks
    * clean and shares >= 1 key. Against 4 single 16-bit blocks this
    * catches d <= 4 instead of d <= 3 and collides unrelated docs ~13x
    * less often (15*2^-21.3 vs 4*2^-16): junk candidates grow as
    * p*n^2/2, so p is what survives a 10^12-row run. */
  def comboBucketKeys(sim: Long): Array[Long] = {
    val blocks = new Array[Long](ComboBlocks)
    var off = 0
    var i = 0
    while (i < ComboBlocks) {
      val w = ComboWidths(i)
      blocks(i) = (sim >>> off) & ((1L << w) - 1L)
      off += w
      i += 1
    }
    val out = new Array[Long](ComboBlocks * (ComboBlocks - 1) / 2)
    var k = 0
    var a = 0
    while (a < ComboBlocks) {
      var b = a + 1
      while (b < ComboBlocks) {
        // combo id (4 bits) | blockA bits (11) | blockB bits (11)
        out(k) = (k.toLong << 56) | (blocks(a) << 22) | blocks(b)
        k += 1
        b += 1
      }
      a += 1
    }
    out
  }
}
