package graft.sketch

import com.esotericsoftware.kryo.{Kryo, KryoSerializable}
import com.esotericsoftware.kryo.io.{Input, Output}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.Arrays

/** Theta/KMV-style mergeable distinct-count sketch with set algebra.
  *
  * Capability match for the reference's CPC (count) and Theta
  * (union/intersect/A-not-B) sketches — see
  * /root/reference/src/wrapper/cpc.rs:25-72 and
  * /root/reference/src/wrapper/theta.rs:8-21,104-153 — re-expressed as a
  * bottom-k adaptive hash sample ("Theta is an adaptive sample of the
  * stream", theta.rs:8-11). Not bit-compatible with the C++ wire format
  * (this is not a port); it honors the same contracts:
  *
  *  - update-per-element, commutative-monoid merge, bounded O(k) state;
  *  - serialize/deserialize round-trip, versioned codec;
  *  - EXACT counts while fewer than k distinct values have been seen
  *    (theta == MAX) — which our oracle-checked queries exploit;
  *  - unbiased (k)/U(k+1) estimate with ~1/sqrt(k) relative error after
  *    saturation (matches Theta's O(1/sqrt k), theta.rs:13-16);
  *  - intersection of zero operands = "universe" (None) exactly like
  *    ThetaIntersection (theta.rs:129-153).
  *
  * Hash space: 63-bit positive longs (murmur h1 >>> 1), theta exclusive.
  */
object DistinctSketch {
  final val MaxTheta = Long.MaxValue
  final val DefaultLgK = 12 // reference theta default lg_k=12 (theta_update_sketch_base.hpp:100)

  def emptyCompact(nomK: Int): Compact = Compact(nomK, MaxTheta, Array.emptyLongArray)

  @inline def hashOf(bytes: Array[Byte]): Long =
    Murmur3x64.hash64(bytes, Murmur3x64.DefaultSeed) >>> 1

  @inline def hashOfString(s: String): Long =
    hashOf(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  @inline def hashOfLong(v: Long): Long = Murmur3x64.hash64Long(v) >>> 1

  /** Immutable compact form: sorted retained hashes, all < theta. */
  final case class Compact(nomK: Int, theta: Long, hashes: Array[Long]) {
    def estimate: Double =
      if (theta == MaxTheta) hashes.length.toDouble
      else hashes.length.toDouble * MaxTheta.toDouble / theta.toDouble

    def isExact: Boolean = theta == MaxTheta

    def serialize(): Array[Byte] = {
      val bb = ByteBuffer.allocate(1 + 4 + 8 + 4 + 8 * hashes.length)
        .order(ByteOrder.LITTLE_ENDIAN)
      bb.put(1.toByte).putInt(nomK).putLong(theta).putInt(hashes.length)
      var i = 0
      while (i < hashes.length) { bb.putLong(hashes(i)); i += 1 }
      bb.array()
    }
  }

  def deserialize(bytes: Array[Byte]): Compact = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val v = bb.get()
    require(v == 1, s"unsupported DistinctSketch codec version $v")
    val nomK = bb.getInt()
    val theta = bb.getLong()
    val n = bb.getInt()
    require(n >= 0 && bytes.length >= 17 + 8L * n, "corrupt DistinctSketch payload")
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = bb.getLong(); i += 1 }
    Compact(nomK, theta, hs)
  }

  /** Union of compacts at nominal k (min over inputs if they differ). */
  def union(sketches: Iterable[Compact]): Compact = {
    if (sketches.isEmpty) return emptyCompact(1 << DefaultLgK)
    val nomK = sketches.map(_.nomK).min
    var theta = sketches.map(_.theta).min
    val merged = new java.util.TreeSet[java.lang.Long]()
    sketches.foreach { s =>
      var i = 0
      val hs = s.hashes
      while (i < hs.length && hs(i) < theta) { merged.add(hs(i)); i += 1 }
    }
    var arr = merged.stream().mapToLong(_.longValue()).toArray
    if (arr.length > nomK) {
      theta = arr(nomK) // arr sorted; (k+1)-th smallest becomes exclusive bound
      arr = Arrays.copyOf(arr, nomK)
    }
    Compact(nomK, theta, arr)
  }

  /** |A ∩ B| sketch. Result retains hashes < min theta present in both. */
  def intersect(a: Compact, b: Compact): Compact = {
    val theta = math.min(a.theta, b.theta)
    val bs = new java.util.HashSet[java.lang.Long](b.hashes.length * 2)
    b.hashes.foreach(h => if (h < theta) bs.add(h))
    val out = a.hashes.filter(h => h < theta && bs.contains(h))
    Compact(math.min(a.nomK, b.nomK), theta, out)
  }

  /** |A \ B| sketch (the reference's A-not-B, theta.rs:73-77). */
  def aNotB(a: Compact, b: Compact): Compact = {
    val theta = math.min(a.theta, b.theta)
    val bs = new java.util.HashSet[java.lang.Long](b.hashes.length * 2)
    b.hashes.foreach(bs.add(_))
    val out = a.hashes.filter(h => h < theta && !bs.contains(h))
    Compact(math.min(a.nomK, b.nomK), theta, out)
  }

  /** Intersection combiner reproducing the reference's Option/universe
    * semantics: None until the first merge (theta.rs:129-153). */
  final class Intersection {
    private var state: Option[Compact] = None
    def merge(c: Compact): Unit =
      state = state match {
        case None    => Some(c)
        case Some(s) => Some(intersect(s, c))
      }
    def sketch: Option[Compact] = state
  }
}

/** Mutable update sketch. Not thread-safe (one per aggregation buffer).
  *
  * Its Kryo form is its canonical compact sketch (`compact().serialize()`),
  * so an aggregation buffer crosses the shuffle as 17 + 8·min(n, nomK)
  * bytes, whatever its table holds. */
final class DistinctSketch(k: Int) extends KryoSerializable {
  import DistinctSketch._

  require(k >= 16, "nomK too small")
  private var _nomK = k
  def nomK: Int = _nomK
  // open-addressing long set; 0 encodes empty (hash 0 tracked via flag).
  // It starts small and `grow`s: a keyed aggregate holds one sketch per
  // group, and most groups see far fewer than nomK values.
  private var capacity = 32
  private var table = new Array[Long](capacity)
  private var size = 0
  private var hasZero = false
  private var theta: Long = MaxTheta

  def this() = this(1 << DistinctSketch.DefaultLgK)

  @inline private def slot(h: Long): Int = {
    var i = (Murmur3x64.mix64(h) & (capacity - 1)).toInt
    while (table(i) != 0L && table(i) != h) i = (i + 1) & (capacity - 1)
    i
  }

  private def insert(h: Long): Unit = {
    if (h == 0L) { if (!hasZero) { hasZero = true; size += 1 }; return }
    val i = slot(h)
    if (table(i) == 0L) {
      table(i) = h
      size += 1
      if (size > nomK * 2) rebuildOrTrim()
      else if (size.toLong * 4 > capacity.toLong * 3) grow()
    }
  }

  private def grow(): Unit = {
    val old = table
    capacity <<= 1
    table = new Array[Long](capacity)
    var j = 0
    while (j < old.length) {
      val h = old(j)
      if (h != 0L) { val i = slot(h); table(i) = h }
      j += 1
    }
  }

  /** Trim retained set back to nomK smallest, advancing theta. */
  private def rebuildOrTrim(): Unit = {
    val vals = currentValues()
    Arrays.sort(vals)
    theta = vals(nomK)
    val keep = Arrays.copyOf(vals, nomK)
    capacity = Integer.highestOneBit(nomK * 2 - 1) << 1
    table = new Array[Long](capacity)
    size = 0
    hasZero = false
    keep.foreach { h =>
      if (h == 0L) { hasZero = true; size += 1 }
      else { val i = slot(h); table(i) = h; size += 1 }
    }
  }

  private def currentValues(): Array[Long] = {
    val out = new Array[Long](size)
    var n = 0
    if (hasZero) { out(n) = 0L; n += 1 }
    var j = 0
    while (j < table.length) {
      if (table(j) != 0L) { out(n) = table(j); n += 1 }
      j += 1
    }
    out
  }

  def update(bytes: Array[Byte]): Unit = updateHash(hashOf(bytes))
  def update(s: String): Unit = updateHash(hashOfString(s))
  def updateLong(v: Long): Unit = updateHash(hashOfLong(v))

  @inline def updateHash(h: Long): Unit = if (h < theta) insert(h)

  /** Union with `c` at the smaller of the two nominal k (as
    * `DistinctSketch.union`); a larger retained set is trimmed by the
    * next insert or by `compact`. */
  def mergeCompact(c: DistinctSketch.Compact): Unit = {
    if (c.nomK < _nomK) _nomK = c.nomK
    if (c.theta < theta) {
      theta = c.theta
      // drop retained values now >= theta
      val vals = currentValues().filter(_ < theta)
      capacity = Integer.highestOneBit(math.max(32, vals.length * 2) - 1) << 1
      table = new Array[Long](capacity)
      size = 0
      hasZero = false
      vals.foreach(insert)
    }
    var i = 0
    while (i < c.hashes.length) { updateHash(c.hashes(i)); i += 1 }
  }

  /** Canonical compact form: at most nomK retained values with theta =
    * (k+1)-th smallest. Because the k smallest hashes of a stream are the
    * same under any split, canonical compacts are BIT-IDENTICAL regardless
    * of partitioning — the analog of the reference's merge-equivalence
    * guarantee (/root/reference/src/main.rs:260-335). */
  def compact(): DistinctSketch.Compact = {
    val vals = currentValues()
    Arrays.sort(vals)
    if (vals.length > nomK)
      DistinctSketch.Compact(nomK, vals(nomK), Arrays.copyOf(vals, nomK))
    else
      DistinctSketch.Compact(nomK, theta, vals)
  }

  def estimate: Double = compact().estimate

  def write(kryo: Kryo, out: Output): Unit = {
    val bytes = compact().serialize()
    out.writeInt(bytes.length, true)
    out.writeBytes(bytes)
  }

  /** Fills a sketch that Kryo built empty with the no-arg constructor;
    * nomK comes from the bytes. */
  def read(kryo: Kryo, in: Input): Unit = {
    val c = deserialize(in.readBytes(in.readInt(true)))
    require(c.nomK >= 16, "nomK too small")
    _nomK = c.nomK
    mergeCompact(c)
  }
}
