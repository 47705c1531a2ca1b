package graft.agg

import graft.sketch.{DistinctSketch, FreqSketch, MinHasher}
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions.udaf
import scala.reflect.ClassTag

/** Spark aggregates for the sketch family, one definition per aggregate;
  * `graft.functions` and `GraftFunctions.registerAll` both build from them.
  *
  * This is the central mapping of the project (SURVEY §2.9): the
  * reference's LineReducer update / --raw partial emission / --merge final
  * combine (/root/reference/src/stream_reducer.rs:13-15,
  * src/main.rs:63-76,115-127) IS Spark's partial/final aggregation
  * contract. Catalyst plans every one of these as
  * HashAggregate(partial) -> Exchange -> HashAggregate(final): the
  * reference's Unix-pipe process boundary becomes the shuffle boundary.
  *
  * What crosses it is one Kryo-encoded buffer per group and partition,
  * never rows:
  *  - KMV (`DistinctSketch`): its canonical compact sketch, 17 + 8·min(n,
  *    nomK) bytes plus Kryo's class name, not its hash table;
  *  - KMV merge (`DistinctSketch.Compact`): the compact's fields;
  *  - heavy hitters (`FreqSketch`): its item -> count map, at most
  *    0.75·2^lgMaxK entries;
  *  - MinHash: the numPerms-long signature.
  */
object SketchAggregators {

  /** The one aggregate shape: zero / update / merge / finish over a
    * Kryo-encoded buffer, applied to columns read with `in`. */
  final class SketchAgg[I, B: ClassTag, O](
      in: Encoder[I], init: () => B, update: (B, I) => B, combine: (B, B) => B,
      done: B => O, out: Encoder[O]) extends Aggregator[I, B, O] {
    def zero: B = init()
    def reduce(b: B, a: I): B = update(b, a)
    def merge(x: B, y: B): B = combine(x, y)
    def finish(b: B): O = done(b)
    def bufferEncoder: Encoder[B] = Encoders.kryo[B]
    def outputEncoder: Encoder[O] = out
    def udf: UserDefinedFunction = udaf(this, in)
  }

  private def kmv[I, O](nomK: Int, in: Encoder[I], add: (DistinctSketch, I) => Unit,
      done: DistinctSketch => O, out: Encoder[O]) =
    new SketchAgg[I, DistinctSketch, O](in, () => new DistinctSketch(nomK),
      (b, a) => { if (a != null) add(b, a); b },
      (x, y) => { x.mergeCompact(y.compact()); x }, done, out)

  /** COUNT DISTINCT of strings -> serialized sketch bytes (the --raw
    * analog: a persistable, mergeable partial). */
  def kmvSketch(nomK: Int) =
    kmv[String, Array[Byte]](nomK, Encoders.STRING, _.update(_), _.compact().serialize(), Encoders.BINARY)

  /** COUNT DISTINCT estimate of strings (exact while < nomK distinct). */
  def kmvEst(nomK: Int) =
    kmv[String, Double](nomK, Encoders.STRING, _.update(_), _.estimate, Encoders.scalaDouble)

  /** COUNT DISTINCT estimate of longs (little-endian pinned, SURVEY P4).
    * Read boxed, so a null is skipped rather than counted as 0. */
  def kmvEstLong(nomK: Int) =
    kmv[java.lang.Long, Double](nomK, Encoders.LONG, _.updateLong(_), _.estimate, Encoders.scalaDouble)

  // Merges fold each partial into one mutable nomK-4096 sketch, which
  // takes the smallest nomK it meets: the merged nomK is min(4096,
  // inputs'), kmv_merge's bytes carry it, and the result is
  // DistinctSketch.union's, bit for bit.
  private def kmvUnion[O](done: DistinctSketch.Compact => O, out: Encoder[O]) =
    kmv[Array[Byte], O](1 << DistinctSketch.DefaultLgK, Encoders.BINARY,
      (b, a) => b.mergeCompact(DistinctSketch.deserialize(a)), b => done(b.compact()), out)

  /** Merge serialized sketches -> estimate (the --merge analog,
    * /root/reference/src/main.rs:103-127). */
  def kmvMergeEst = kmvUnion[Double](_.estimate, Encoders.scalaDouble)

  /** Merge serialized sketches -> serialized union sketch (combiner tree
    * inner node; reference cases 4-7, src/main.rs:30-45). */
  def kmvMerge = kmvUnion[Array[Byte]](_.serialize(), Encoders.BINARY)

  final case class FreqRow(item: String, est: Long, lb: Long, ub: Long)

  private def freq[I](lgMaxK: Int, in: Encoder[I], add: (FreqSketch, I) => Unit,
      rows: FreqSketch => Seq[(String, Long, Long, Long)]) =
    new SketchAgg[I, FreqSketch, Seq[FreqRow]](in, () => new FreqSketch(lgMaxK),
      (b, a) => { add(b, a); b }, (x, y) => { x.merge(y); x },
      b => rows(b).map { case (item, est, lb, ub) => FreqRow(item, est, lb, ub) },
      ExpressionEncoder[Seq[FreqRow]]())

  private val addItem: (FreqSketch, String) => Unit = (b, a) => if (a != null) b.update(a)

  /** Heavy hitters: top-k frequent items with [lb, ub] bounds
    * (reference --hh, SURVEY A9-A11). Exact while under capacity. */
  def freqItems(k: Int) = freq[String](FreqSketch.lgSizeForTopK(k), Encoders.STRING, addItem, _.topK(k))

  /** Weighted heavy hitters: update(item, weight) — the reference's
    * `HhSketch::update(bytes, weight)` surface
    * (/root/reference/src/wrapper/hh.rs:127-151). Non-positive weights
    * are ignored (the sketch contract requires weight >= 0). */
  def freqItemsWeighted(k: Int) =
    freq[(String, Long)](FreqSketch.lgSizeForTopK(k), Encoders.tuple(Encoders.STRING, Encoders.scalaLong),
      (b, a) => if (a._1 != null && a._2 > 0) b.update(a._1, a._2), _.topK(k))

  /** No-false-positives heavy hitters (reference `estimate_no_fp`,
    * hh.rs:153-165): reports only items whose lower bound clears the
    * sketch's maximum error. */
  def freqItemsNoFp(k: Int) = freq[String](FreqSketch.lgSizeForTopK(k), Encoders.STRING, addItem, _.topKNoFp(k))

  /** Exact top-k with a caller-pinned map size. Once the sketch has
    * purged (more than 0.75·2^lgMaxK distinct items in some partial or
    * merge) its counts are only bounds, so it fails instead of answering. */
  def freqItemsLg(k: Int, lgMaxK: Int) = freq[String](lgMaxK, Encoders.STRING, addItem, { b =>
    require(b.isExact, s"freq_items_lg(k = $k, lgMaxK = $lgMaxK) is exact only up to " +
      s"${b.maxMapSize} distinct items and its input has more; raise lgMaxK")
    b.topK(k)
  })

  /** MinHash signature over exploded shingle-hash rows; elementwise min is
    * the merge. Equals `minhash_of_hashes` over the same hashes. Read
    * boxed, so a null is skipped rather than hashed as 0. */
  def minHashSig(numPerms: Int) =
    new SketchAgg[java.lang.Long, Array[Long], Seq[Long]](Encoders.LONG, () => Array.fill(numPerms)(Long.MaxValue),
      (b, h) => { if (h != null) MinHasher.shared(numPerms).updateSignature(b, h); b },
      (x, y) => {
        var i = 0
        while (i < numPerms) { if (y(i) < x(i)) x(i) = y(i); i += 1 }
        x
      },
      _.toSeq, ExpressionEncoder[Seq[Long]]())
}
