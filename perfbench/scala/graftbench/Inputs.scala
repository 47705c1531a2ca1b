package graftbench

import graft.sketch.Murmur3x64
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded stream: everything derives from (seed, index) so generation is
  * identical at any parallelism. */
private final class Rng(var state: Long) extends Serializable {
  def nextLong(): Long = { state = Murmur3x64.mix64(state); state }
  def nextInt(bound: Int): Int = ((nextLong() >>> 1) % bound).toInt
  def nextDouble(): Double = (nextLong() >>> 11).toDouble / (1L << 53).toDouble
}

/** The four tables the headline queries read (lineitem, events,
  * documents, embeddings), in the column layout and value ranges of the
  * sf0.01 fixture tables, with half its documents. Generated from a fixed
  * seed, so the expected query digests are recorded once
  * (record_expected.py). */
object QueryTables extends Serializable {
  val Seed = 42L
  val Names = Seq("lineitem", "events", "documents", "embeddings")

  private val Words = Array("key", "agg", "row", "scan", "slow", "fast", "table", "value",
    "part", "hash", "a", "the", "merge", "batch", "spark", "line", "sort", "window",
    "order", "data", "column", "join", "small", "customer", "query", "big", "stream",
    "group", "filter", "vector", "index")

  private def rng(table: Int, i: Long) =
    new Rng(Murmur3x64.mix64(Seed ^ (table.toLong << 56) ^ (i * 0x9E3779B97F4A7C15L)))

  private def docText(i: Long): String = {
    val r = rng(1, i)
    Array.fill(10 + r.nextInt(90))(Words(r.nextInt(Words.length))).mkString(" ")
  }

  /** Every 10th doc is a one-word edit of its predecessor and every 25th
    * an exact copy of the doc three before it, so the near-dup and exact
    * dedup queries have work to find. */
  private def document(i: Long): String =
    if (i % 25 == 13) docText(i - 3)
    else if (i % 10 == 7) {
      val w = docText(i - 1).split(' ')
      val r = rng(2, i)
      w(r.nextInt(w.length)) = Words(r.nextInt(Words.length))
      w.mkString(" ")
    } else docText(i)

  def write(spark: SparkSession, dir: String, lineitems: Int = 60000, events: Int = 10000,
      documents: Int = 250, embeddings: Int = 500): Unit = {
    import spark.implicits._
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    def save(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")

    val dayUs = 86400L * 1000000L
    val y1992 = 694224000L * 1000000L
    save(spark.range(0, lineitems, 1, 4).map { i0 =>
      val i: Long = i0
      val r = rng(3, i)
      val q = (1 + r.nextInt(50)).toDouble
      val price = math.round(q * (900 + r.nextInt(1200)) * 100 + r.nextInt(100)) / 100.0
      (i / 4 + 1, 1L + r.nextInt(2000), 1L + r.nextInt(100), (i % 4 + 1).toInt, q, price,
        r.nextInt(11) / 100.0, r.nextInt(9) / 100.0, "ANR".charAt(r.nextInt(3)).toString,
        "FO".charAt(r.nextInt(2)).toString, y1992 + r.nextInt(3650) * dayUs)
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "us")
      .withColumn("l_shipdate", timestamp_micros(col("us"))).drop("us"), "lineitem")

    val y2024 = 1704067200L * 1000000L
    val types = Array("click", "view", "purchase", "signup", "error")
    save(spark.range(0, events, 1, 4).map { i0 =>
      val i: Long = i0
      val r = rng(4, i)
      (i, y2024 + i * (30L * dayUs / events) + r.nextInt(60000000), r.nextInt(150).toLong,
        types(r.nextInt(types.length)),
        math.round(-math.log(1 - r.nextDouble()) * 5000) / 100.0 + 0.01,
        s"""{"k": ${r.nextInt(100)}}""")
    }.toDF("event_id", "us", "user_id", "event_type", "value", "props")
      .withColumn("ts", timestamp_micros(col("us")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props"), "events")

    val langs = Array("en", "en", "en", "en", "de", "fr", "es", "zh")
    save(spark.range(0, documents, 1, 4).map { i0 =>
      val i: Long = i0
      val r = rng(5, i)
      val t = document(i)
      (i, t, langs(r.nextInt(langs.length)), s"src${r.nextInt(20)}", t.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    val dim = 64
    def centre(label: Int, j: Int): Float = {
      val r = rng(6, label.toLong * dim + j)
      ((r.nextDouble() * 2 - 1) * 0.05).toFloat
    }
    save(spark.range(0, embeddings, 1, 4).map { i0 =>
      val i: Long = i0
      val base = if (i % 20 == 19) i - 1 else i
      val label = (base % 10).toInt
      val r = rng(7, base)
      val v = Array.tabulate(dim)(j => centre(label, j) + ((r.nextDouble() * 2 - 1) * 0.12).toFloat)
      if (base != i) {
        val n = rng(8, i)
        var j = 0
        while (j < dim) { v(j) += ((n.nextDouble() * 2 - 1) * 0.005).toFloat; j += 1 }
      }
      (i, v, label)
    }.toDF("vec_id", "embedding", "label"), "embeddings")
  }
}
