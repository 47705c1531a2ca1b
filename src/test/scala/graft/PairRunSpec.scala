package graft

import graft.pipeline.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit contract of the single-pass pair stage (chunk + chain + star):
  * the exact pair multiset of its per-member rule, output volume bounds,
  * connectivity, and boundary run lengths. */
class PairRunSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def bucketsOf(n: Int, bucket: Long = 7L): org.apache.spark.sql.DataFrame =
    (0 until n).map(i => (i.toLong, bucket, 0.toByte)).toDF("sid", "bucket", "source")

  private def pairs(df: org.apache.spark.sql.DataFrame,
      hot: Int = 64, saltMax: Int = 1024): Seq[(Long, Long)] =
    Dedup.pairsFromBuckets(df, hot, saltMax).select($"a", $"b").as[(Long, Long)].collect().toSeq

  private def components(n: Int, ps: Seq[(Long, Long)]): Int = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = { var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r }
    ps.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    (0L until n.toLong).map(find).distinct.length
  }

  test("singleton and empty runs emit nothing") {
    assert(pairs(bucketsOf(1)).isEmpty)
    assert(pairs(bucketsOf(0)).isEmpty)
  }

  test("run at the chunk boundary emits the exact clique") {
    for (n <- Seq(2, 63, 64)) {
      val ps = pairs(bucketsOf(n))
      assert(ps.distinct.length == n * (n - 1) / 2, s"n=$n")
      assert(ps.forall { case (a, b) => a < b }, "pairs must be ordered")
      assert(components(n, ps) == 1)
    }
  }

  test("runs above the chunk size stay connected with bounded output") {
    for (n <- Seq(65, 128, 200, 1024)) {
      val ps = pairs(bucketsOf(n)).distinct
      // <= ceil(n/64) cliques of 64 + chain edges; never the full clique
      val chunks = math.ceil(n / 64.0).toLong
      val bound = chunks * (64L * 63 / 2) + chunks
      assert(ps.length <= bound, s"n=$n emitted ${ps.length} > $bound")
      if (n > 64) assert(ps.length < n.toLong * (n - 1) / 2, s"n=$n emitted the full clique")
      assert(components(n, ps) == 1, s"n=$n shattered")
    }
  }

  test("runs above saltMax flip to star mode: O(n) output, still one component") {
    val n = 3000
    val ps = pairs(bucketsOf(n)).distinct
    // 16 chunks of 64 before the flip + one star edge per remaining member
    val bound = 16L * (64 * 63 / 2) + 16 + (n - 1024)
    assert(ps.length <= bound, s"emitted ${ps.length} > $bound")
    assert(components(n, ps) == 1)
  }

  test("duplicate (sid, bucket) rows are ignored") {
    val dup = bucketsOf(10).union(bucketsOf(10))
    val ps = pairs(dup).distinct
    assert(ps.length == 45)
    assert(ps.forall { case (a, b) => a != b }, "self-pairs emitted for duplicate rows")
  }

  test("pairs equal the per-member rule: chunk clique, chain edge, star past saltMax") {
    // The rule, stated on the driver: each (source, bucket) run ordered
    // as the pass orders it (by xxhash64(source, bucket, sid), then sid),
    // repeated sids skipped; member i pairs with nothing (i = 0), the
    // hub (i >= saltMax), member i-1 (i % hot == 0) or the earlier
    // members of its chunk. A pair is packed as source<<48 | a<<24 | b.
    def pack(s: Long, x: Long, y: Long): Long = (s << 48) | (math.min(x, y) << 24) | math.max(x, y)
    def rule(df: org.apache.spark.sql.DataFrame, hot: Int, saltMax: Int): Array[Long] = {
      val rows = df.select($"source", $"bucket", $"sid", xxhash64($"source", $"bucket", $"sid"))
        .as[(Byte, Long, Long, Long)].collect()
      val out = Array.newBuilder[Long]
      for (run <- rows.groupBy(r => (r._1, r._2)).values) {
        val m = run.sortBy(r => (r._4, r._3)).map(_._3).distinct
        for (i <- m.indices) {
          val partners =
            if (i == 0) 0 until 0
            else if (i >= saltMax) 0 to 0
            else if (i % hot == 0) (i - 1) to (i - 1)
            else hot * (i / hot) until i
          partners.foreach(p => out += pack(run.head._1, m(p), m(i)))
        }
      }
      sortedArray(out.result())
    }
    def sortedArray(a: Array[Long]): Array[Long] = { java.util.Arrays.sort(a); a }
    for ((hot, saltMax) <- Seq((16, 1024), (64, 1024), (7, 100), (Int.MaxValue, Int.MaxValue))) {
      val lengths = Seq(0L, 1L, hot - 1L, hot.toLong, hot + 1L, 2L * hot,
        saltMax - 1L, saltMax.toLong, saltMax + 1L, 3000L).filter(_ <= 3000).distinct
      // two sources share bucket ids; every 5th member's row is repeated.
      // More runs than the session's 8 shuffle partitions, so some
      // partition holds several runs.
      val fanout = for {
        (source, ls) <- Seq(0 -> lengths, 3 -> lengths.filter(_ < 3000))
        (n, bucket) <- ls.zipWithIndex
        j <- 0L until n
        copies = if (j % 5 == 0) 2 else 1
        _ <- 0 until copies
      } yield (((bucket * 104729L) + j * 7919L) & 0xFFFFFFL, bucket.toLong, source.toByte)
      val df = fanout.toDF("sid", "bucket", "source")
      val got = sortedArray(Dedup.pairsFromBuckets(df, hot, saltMax)
        .select(shiftleft($"source".cast("long"), 48).bitwiseOR(shiftleft($"a", 24)).bitwiseOR($"b"))
        .as[Long].collect())
      val want = rule(df, hot, saltMax)
      assert(got.length == want.length, s"hot=$hot saltMax=$saltMax: ${got.length} pairs, rule ${want.length}")
      assert(java.util.Arrays.equals(got, want), s"hot=$hot saltMax=$saltMax: pair multisets differ")
    }
  }

  test("hotBucketLimit below 2 is rejected") {
    intercept[IllegalArgumentException](Dedup.pairsFromBuckets(bucketsOf(3), 1, 1024))
  }

  test("identical membership in many buckets is chunked differently per bucket") {
    // 200 ids in 5 buckets with hot=16: per-bucket salted order must
    // differ across buckets (same regression as the round-2 advice on
    // id-only salts) — with identical chunking the only cross-chunk
    // evidence would be the chains; different chunking also recovers
    // co-chunk pairs across buckets
    val ids = (0 until 200).map(_.toLong)
    val buckets = ids.flatMap(id => (0 until 5).map(b => (id, b.toLong, 0.toByte)))
      .toDF("sid", "bucket", "source")
    val byBucket = (0 until 5).map { b =>
      pairs(buckets.where($"bucket" === b.toLong), hot = 16).toSet
    }
    assert(byBucket.distinct.length > 1, "all buckets chunked identically")
    val all = pairs(buckets, hot = 16)
    assert(components(200, all) == 1)
  }
}
