package graft.agg

import graft.sketch.{DistinctSketch, FreqSketch, MinHasher}
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Spark `Aggregator`s for the sketch family.
  *
  * This is the central mapping of the project (SURVEY §2.9): the
  * reference's LineReducer update / --raw partial emission / --merge final
  * combine (/root/reference/src/stream_reducer.rs:13-15,
  * src/main.rs:63-76,115-127) IS Spark's partial/final aggregation
  * contract. Catalyst plans every one of these as
  * HashAggregate(partial) -> Exchange -> HashAggregate(final): the
  * reference's Unix-pipe process boundary becomes the shuffle boundary,
  * and only O(k) sketch bytes cross it — never rows.
  */
object SketchAggregators {

  private def kryo[T](implicit ct: scala.reflect.ClassTag[T]): Encoder[T] = Encoders.kryo[T]

  /** approx/exact COUNT DISTINCT of strings -> serialized sketch bytes
    * (the --raw analog: a persistable, mergeable partial). */
  final class DistinctSketchAgg(nomK: Int) extends Aggregator[String, DistinctSketch, Array[Byte]] {
    def zero: DistinctSketch = new DistinctSketch(nomK)
    def reduce(b: DistinctSketch, a: String): DistinctSketch = { if (a != null) b.update(a); b }
    def merge(x: DistinctSketch, y: DistinctSketch): DistinctSketch = { x.mergeCompact(y.compact()); x }
    def finish(b: DistinctSketch): Array[Byte] = b.compact().serialize()
    def bufferEncoder: Encoder[DistinctSketch] = kryo[DistinctSketch]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** COUNT DISTINCT estimate of strings (exact while < nomK distinct). */
  final class DistinctEstAgg(nomK: Int) extends Aggregator[String, DistinctSketch, Double] {
    def zero: DistinctSketch = new DistinctSketch(nomK)
    def reduce(b: DistinctSketch, a: String): DistinctSketch = { if (a != null) b.update(a); b }
    def merge(x: DistinctSketch, y: DistinctSketch): DistinctSketch = { x.mergeCompact(y.compact()); x }
    def finish(b: DistinctSketch): Double = b.estimate
    def bufferEncoder: Encoder[DistinctSketch] = kryo[DistinctSketch]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** COUNT DISTINCT estimate of longs (little-endian pinned, SURVEY P4). */
  final class DistinctEstLongAgg(nomK: Int) extends Aggregator[Long, DistinctSketch, Double] {
    def zero: DistinctSketch = new DistinctSketch(nomK)
    def reduce(b: DistinctSketch, a: Long): DistinctSketch = { b.updateLong(a); b }
    def merge(x: DistinctSketch, y: DistinctSketch): DistinctSketch = { x.mergeCompact(y.compact()); x }
    def finish(b: DistinctSketch): Double = b.estimate
    def bufferEncoder: Encoder[DistinctSketch] = kryo[DistinctSketch]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Merge serialized sketches -> estimate (the --merge analog,
    * /root/reference/src/main.rs:103-127). */
  final class MergeEstAgg extends Aggregator[Array[Byte], DistinctSketch.Compact, Double] {
    def zero: DistinctSketch.Compact = DistinctSketch.emptyCompact(1 << DistinctSketch.DefaultLgK)
    def reduce(b: DistinctSketch.Compact, a: Array[Byte]): DistinctSketch.Compact =
      if (a == null) b else DistinctSketch.union(Seq(b, DistinctSketch.deserialize(a)))
    def merge(x: DistinctSketch.Compact, y: DistinctSketch.Compact): DistinctSketch.Compact =
      DistinctSketch.union(Seq(x, y))
    def finish(b: DistinctSketch.Compact): Double = b.estimate
    def bufferEncoder: Encoder[DistinctSketch.Compact] = kryo[DistinctSketch.Compact]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Merge serialized sketches -> serialized union sketch (combiner tree
    * inner node; reference cases 4-7, src/main.rs:30-45). */
  final class MergeSketchAgg extends Aggregator[Array[Byte], DistinctSketch.Compact, Array[Byte]] {
    def zero: DistinctSketch.Compact = DistinctSketch.emptyCompact(1 << DistinctSketch.DefaultLgK)
    def reduce(b: DistinctSketch.Compact, a: Array[Byte]): DistinctSketch.Compact =
      if (a == null) b else DistinctSketch.union(Seq(b, DistinctSketch.deserialize(a)))
    def merge(x: DistinctSketch.Compact, y: DistinctSketch.Compact): DistinctSketch.Compact =
      DistinctSketch.union(Seq(x, y))
    def finish(b: DistinctSketch.Compact): Array[Byte] = b.serialize()
    def bufferEncoder: Encoder[DistinctSketch.Compact] = kryo[DistinctSketch.Compact]
    def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  final case class FreqRow(item: String, est: Long, lb: Long, ub: Long)

  /** Heavy hitters: top-k frequent items with [lb, ub] bounds
    * (reference --hh, SURVEY A9-A11). Exact while under capacity. */
  final class FreqItemsAgg(k: Int) extends Aggregator[String, FreqSketch, Seq[FreqRow]] {
    def zero: FreqSketch = FreqSketch.forTopK(k)
    def reduce(b: FreqSketch, a: String): FreqSketch = { if (a != null) b.update(a); b }
    def merge(x: FreqSketch, y: FreqSketch): FreqSketch = { x.merge(y); x }
    def finish(b: FreqSketch): Seq[FreqRow] =
      b.topK(k).map { case (item, est, lb, ub) => FreqRow(item, est, lb, ub) }
    def bufferEncoder: Encoder[FreqSketch] = kryo[FreqSketch]
    def outputEncoder: Encoder[Seq[FreqRow]] = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Weighted heavy hitters: update(item, weight) — the reference's
    * `HhSketch::update(bytes, weight)` surface
    * (/root/reference/src/wrapper/hh.rs:127-151). Non-positive weights
    * are ignored (the sketch contract requires weight >= 0). */
  final class FreqItemsWeightedAgg(k: Int) extends Aggregator[(String, Long), FreqSketch, Seq[FreqRow]] {
    def zero: FreqSketch = FreqSketch.forTopK(k)
    def reduce(b: FreqSketch, a: (String, Long)): FreqSketch = {
      if (a._1 != null && a._2 > 0) b.update(a._1, a._2); b
    }
    def merge(x: FreqSketch, y: FreqSketch): FreqSketch = { x.merge(y); x }
    def finish(b: FreqSketch): Seq[FreqRow] =
      b.topK(k).map { case (item, est, lb, ub) => FreqRow(item, est, lb, ub) }
    def bufferEncoder: Encoder[FreqSketch] = kryo[FreqSketch]
    def outputEncoder: Encoder[Seq[FreqRow]] = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** No-false-positives heavy hitters (reference `estimate_no_fp`,
    * hh.rs:153-165): reports only items whose lower bound clears the
    * sketch's maximum error. */
  final class FreqItemsNoFpAgg(k: Int) extends Aggregator[String, FreqSketch, Seq[FreqRow]] {
    def zero: FreqSketch = FreqSketch.forTopK(k)
    def reduce(b: FreqSketch, a: String): FreqSketch = { if (a != null) b.update(a); b }
    def merge(x: FreqSketch, y: FreqSketch): FreqSketch = { x.merge(y); x }
    def finish(b: FreqSketch): Seq[FreqRow] =
      b.topKNoFp(k).map { case (item, est, lb, ub) => FreqRow(item, est, lb, ub) }
    def bufferEncoder: Encoder[FreqSketch] = kryo[FreqSketch]
    def outputEncoder: Encoder[Seq[FreqRow]] = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** FreqItems with caller-pinned map size (exact when oversize). */
  final class FreqItemsLgAgg(k: Int, lgMaxK: Int) extends Aggregator[String, FreqSketch, Seq[FreqRow]] {
    def zero: FreqSketch = new FreqSketch(lgMaxK)
    def reduce(b: FreqSketch, a: String): FreqSketch = { if (a != null) b.update(a); b }
    def merge(x: FreqSketch, y: FreqSketch): FreqSketch = { x.merge(y); x }
    def finish(b: FreqSketch): Seq[FreqRow] =
      b.topK(k).map { case (item, est, lb, ub) => FreqRow(item, est, lb, ub) }
    def bufferEncoder: Encoder[FreqSketch] = kryo[FreqSketch]
    def outputEncoder: Encoder[Seq[FreqRow]] = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** MinHash signature over pre-exploded shingle-hash rows (used for the
    * audio frame-hash path); elementwise-min merge is the monoid. */
  final class MinHashSigAgg(numPerms: Int) extends Aggregator[Long, Array[Long], Seq[Long]] {
    @transient private lazy val hasher = MinHasher.shared(numPerms)
    def zero: Array[Long] = Array.fill(numPerms)(Long.MaxValue)
    def reduce(b: Array[Long], shingleHash: Long): Array[Long] = {
      hasher.updateSignature(b, shingleHash)
      b
    }
    def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < numPerms) { if (y(i) < x(i)) x(i) = y(i); i += 1 }
      x
    }
    def finish(b: Array[Long]): Seq[Long] = b.toSeq
    def bufferEncoder: Encoder[Array[Long]] = kryo[Array[Long]]
    def outputEncoder: Encoder[Seq[Long]] = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }
}
