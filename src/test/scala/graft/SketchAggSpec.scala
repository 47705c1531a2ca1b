package graft

import graft.agg.SketchAggregators
import graft.functions._
import graft.sketch.DistinctSketch
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The sketch aggregates through Spark: what their buffers put on the
  * wire, partition invariance of their bytes, and null/capacity edges. */
class SketchAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sketchOf(nomK: Int, items: Iterable[String]): DistinctSketch = {
    val sk = new DistinctSketch(nomK)
    items.foreach(sk.update)
    sk
  }

  test("kmv buffer crosses the shuffle as its compact sketch, nomK included") {
    spark // the Kryo encoder reads the session's SparkEnv
    // the same ExpressionEncoder Spark's ScalaAggregator builds from bufferEncoder
    val enc = encoderFor(SketchAggregators.kmvEst(65536).bufferEncoder)
    val toRow = enc.createSerializer()
    val fromRow = enc.resolveAndBind().createDeserializer()
    for (n <- Seq(5, 50000)) {
      val sk = sketchOf(65536, (1 to n).map(i => s"v$i"))
      val wire = toRow(sk).getBinary(0)
      // compact codec: 17 header bytes + 8 per retained hash, plus Kryo's class name
      assert(wire.length <= 17 + 8 * n + 100, s"n=$n: ${wire.length} bytes")
      if (n == 5) assert(wire.length <= 1024)
      val back = fromRow(toRow(sk))
      assert(back.nomK == 65536)
      assert(java.util.Arrays.equals(back.compact().serialize(), sk.compact().serialize()))
    }
  }

  test("saturated kmv_sketch bytes are partition-invariant and equal the driver-side sketch") {
    val n = 200000
    val rows = spark.range(n).select(($"id" % 5).as("k"), $"id".cast("string").as("u"))
    def bytesAt(parts: Int): Map[Long, Seq[Byte]] =
      rows.repartition(parts).groupBy($"k").agg(kmv_sketch($"u", 1024).as("sk"))
        .as[(Long, Array[Byte])].collect().map { case (k, b) => k -> b.toSeq }.toMap
    val one = bytesAt(1)
    assert(one == bytesAt(8))
    (0L until 5L).foreach { k =>
      val driver = sketchOf(1024, (k until n.toLong by 5L).map(_.toString)).compact()
      assert(!driver.isExact)
      assert(one(k) == driver.serialize().toSeq, s"key $k")
    }
  }

  test("kmv_merge and kmv_merge_est over saturated partials equal DistinctSketch.union") {
    // overlapping ranges at two nomKs, each far past saturation
    val partials = Seq((0, 1024, 0, 30000), (0, 2048, 20000, 60000), (1, 1024, 5000, 9000), (1, 1024, 0, 12000))
      .map { case (g, k, lo, hi) => (g, sketchOf(k, (lo until hi).map(i => s"u$i")).compact()) }
    val df = partials.map { case (g, c) => (g, c.serialize()) }.toDF("g", "sk").repartition(3)
    val got = df.groupBy($"g").agg(kmv_merge($"sk").as("m"), kmv_merge_est($"sk").as("e"))
      .as[(Int, Array[Byte], Double)].collect()
    assert(got.length == 2)
    got.foreach { case (g, m, e) =>
      val want = DistinctSketch.union(partials.filter(_._1 == g).map(_._2))
      assert(m.toSeq == want.serialize().toSeq, s"group $g")
      assert(e == want.estimate)
    }
    // the merge's zero is an empty nomK-4096 compact: larger inputs come out at 4096
    val big = Seq(sketchOf(8192, (0 until 20000).map(i => s"w$i")).compact(),
      sketchOf(8192, (10000 until 30000).map(i => s"w$i")).compact())
    val merged = big.map(_.serialize()).toDF("sk").agg(kmv_merge($"sk")).as[Array[Byte]].head()
    val want = DistinctSketch.union(DistinctSketch.emptyCompact(4096) +: big)
    assert(want.nomK == 4096 && DistinctSketch.deserialize(merged).nomK == 4096)
    assert(merged.toSeq == want.serialize().toSeq)
  }

  test("kmv_merge over 400 saturated nomK-4096 partials in one group equals DistinctSketch.union") {
    // overlapping ranges, each partial far past saturation: the combiner
    // tree's --merge side with many partials per key
    val partials = (0 until 400).map(i => sketchOf(4096, (i * 1000 until i * 1000 + 6000).map(j => s"p$j")).compact())
    val df = partials.map(_.serialize()).toDF("sk").repartition(4)
    val (m, e) = df.agg(kmv_merge($"sk"), kmv_merge_est($"sk")).as[(Array[Byte], Double)].head()
    val want = DistinctSketch.union(partials)
    assert(want.theta < DistinctSketch.MaxTheta && want.hashes.length == 4096)
    assert(m.toSeq == want.serialize().toSeq)
    assert(e == want.estimate)
  }

  test("kmv_est_long skips nulls like countDistinct") {
    val df = Seq[java.lang.Long](1L, 2L, null, null).toDF("v").repartition(2)
    val row = df.agg(kmv_est_long($"v"), countDistinct($"v")).head()
    assert(row.getDouble(0) == 2.0 && row.getLong(1) == 2L)
  }

  test("freq_items_lg fails instead of returning approximate rows past its capacity") {
    val items = (1 to 10).flatMap(i => Seq.fill(i)(s"i$i")).toDF("s")
    // lgMaxK = 2 holds 3 items: ten distinct ones force a purge
    val e = intercept[Exception](items.agg(freq_items_lg($"s", 3, 2)).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("raise lgMaxK")), e.toString)
    // within capacity it is exact
    val exact = items.agg(freq_items_lg($"s", 3, 5).as("hh")).select(explode($"hh").as("r"))
      .select($"r.item", $"r.est", $"r.lb", $"r.ub").as[(String, Long, Long, Long)].collect().toSeq
    assert(exact == Seq(("i10", 10L, 10L, 10L), ("i9", 9L, 9L, 9L), ("i8", 8L, 8L, 8L)))
  }

  test("minhash_sig_agg equals minhash_of_hashes over the same hashes, skipping nulls") {
    val rnd = new scala.util.Random(5)
    val hs = (1 to 2000).map(i => (rnd.nextInt(7), if (i % 100 == 0) null else java.lang.Long.valueOf(rnd.nextLong())))
      .toDF("g", "h").repartition(8)
    val agg = hs.groupBy($"g").agg(minhash_sig_agg($"h", 64).as("sig"))
      .as[(Int, Seq[Long])].collect().toMap
    val batch = hs.groupBy($"g").agg(collect_list($"h").as("hs"))
      .select($"g", minhash_of_hashes($"hs", lit(64)).as("sig"))
      .as[(Int, Seq[Long])].collect().toMap
    assert(agg.size == 7 && agg == batch)
  }
}
