package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Source/sink coverage (SURVEY §2.1) + the SQL registration surface. */
class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  test("S1 text-line source: spark.read.text strips newlines like the reference reader") {
    val dir = Files.createTempDirectory("graft-lines").toString
    Files.writeString(java.nio.file.Paths.get(dir, "in.txt"),
      "alpha\r\nbeta\nalpha\nbeta\n\n") // \r\n == \n (stream_reducer.rs:61-64)
    val lines = spark.read.textFile(s"$dir/in.txt")
    assert(lines.collect().toSeq == Seq("alpha", "beta", "alpha", "beta", ""))
    // distinct over lines == the dsrs count-distinct CLI on this stream
    val est = lines.toDF("line").agg(graft.functions.kmv_est($"line", 1024)).head.getDouble(0)
    assert(est == 3.0) // alpha, beta, ""
  }

  test("S5 csv source: csv round trip preserves the aggregate answer") {
    val dir = Files.createTempDirectory("graft-csv").toString
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select($"event_type", $"user_id")
    ev.write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.option("header", "true")
      .schema("event_type STRING, user_id BIGINT").csv(dir)
    val a = ev.groupBy($"event_type").agg(countDistinct($"user_id").as("du"))
      .as[(String, Long)].collect().toMap
    val b = back.groupBy($"event_type").agg(countDistinct($"user_id").as("du"))
      .as[(String, Long)].collect().toMap
    assert(a == b)
  }

  test("S3/S4 sketch sink + source: serialized sketches survive a parquet round trip") {
    val dir = Files.createTempDirectory("graft-sk").toString
    val ev = spark.read.parquet(s"$sf/events.parquet")
    // --raw: write per-shard partial sketches to a checkpoint table
    ev.groupBy($"event_type", pmod($"user_id", lit(4)).as("shard"))
      .agg(graft.functions.kmv_sketch($"user_id".cast("string"), 4096).as("sk"))
      .write.mode("overwrite").parquet(dir)
    // --merge: read them back and merge to finals
    val merged = spark.read.parquet(dir)
      .groupBy($"event_type")
      .agg(graft.functions.kmv_merge_est($"sk").as("du"))
      .as[(String, Double)].collect().toMap
    val exact = ev.groupBy($"event_type").agg(countDistinct($"user_id"))
      .as[(String, Long)].collect().toMap.view.mapValues(_.toDouble).toMap
    assert(merged == exact)
  }

  test("SQL surface: registered functions work from spark.sql") {
    GraftFunctions.registerAll(spark)
    spark.read.parquet(s"$sf/events.parquet").createOrReplaceTempView("ev")
    val viaSql = spark.sql(
      """SELECT event_type, kmv_est(CAST(user_id AS STRING)) AS du
        |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin)
      .as[(String, Double)].collect().toMap
    val exact = spark.sql(
      "SELECT event_type, CAST(COUNT(DISTINCT user_id) AS DOUBLE) FROM ev GROUP BY event_type")
      .as[(String, Double)].collect().toMap
    assert(viaSql == exact)
    val sim = spark.sql("SELECT simhash_text('hello world again') AS s").head.getLong(0)
    assert(sim != 0L)
    assert(spark.sql("SELECT is_substring('bc', 'abcd')").head.getBoolean(0))
  }

  test("SQL surface: every function registerAll registers runs from spark.sql") {
    def temporary(x: org.apache.spark.sql.SparkSession) =
      x.catalog.listFunctions().collect().filter(_.isTemporary).map(_.name).toSet
    val s = spark.newSession() // its own function registry
    GraftFunctions.registerAll(s)
    val strs = "VALUES ('a b c d e'), ('a b x'), (CAST(NULL AS STRING)) t(s)"
    val sks = s"(SELECT kmv_sketch(s) AS sk FROM $strs)"
    val calls = Map(
      "kmv_sketch" -> s"SELECT length(kmv_sketch(s)) FROM $strs",
      "kmv_est" -> s"SELECT kmv_est(s) FROM $strs",
      "kmv_est_long" -> "SELECT kmv_est_long(v) FROM VALUES (1L), (2L), (CAST(NULL AS BIGINT)) t(v)",
      "kmv_merge_est" -> s"SELECT kmv_merge_est(sk) FROM $sks",
      "kmv_merge" -> s"SELECT length(kmv_merge(sk)) FROM $sks",
      "freq_items3" -> s"SELECT size(freq_items3(s)) FROM $strs",
      "freq_items20_exact" -> s"SELECT size(freq_items20_exact(s)) FROM $strs",
      "minhash_sig_agg" -> "SELECT size(minhash_sig_agg(h)) FROM VALUES (1L), (7L) t(h)",
      "theta_union_est" -> s"SELECT theta_union_est(sk, sk) FROM $sks",
      "theta_intersect_est" -> s"SELECT theta_intersect_est(sk, sk) FROM $sks",
      "theta_anotb_est" -> s"SELECT theta_anotb_est(sk, sk) FROM $sks",
      "shingle_hashes" -> "SELECT size(shingle_hashes('hello world', 3))",
      "minhash_text" -> "SELECT size(minhash_text('hello world', 3, 16))",
      "band_hashes" -> "SELECT size(band_hashes(minhash_text('hello world', 3, 16), 4, 4))",
      "simhash_text" -> "SELECT simhash_text('hello world again')",
      "simhash_buckets" -> "SELECT size(simhash_buckets(12345L, 4))",
      "hamming" -> "SELECT hamming(7L, 0L)",
      "exact_jaccard" -> "SELECT exact_jaccard('hello world', 'hello word', 3)",
      "exact_containment" -> "SELECT exact_containment('hello', 'hello world', 3)",
      "winnow_hashes" -> "SELECT size(winnow_hashes('hello world again', 3, 4))",
      "is_substring" -> "SELECT is_substring('bc', 'abcd')",
      "lang_id" -> "SELECT lang_id('the cat sat on the mat')",
      "bpeish_token_count" -> "SELECT bpeish_token_count('hello world')",
      "rolling_fp" -> "SELECT rolling_fp('hello world')",
      "audio_fp_hashes" -> "SELECT size(audio_fp_hashes(X'0102030405060708', 'stub', 16000))",
      "audio_n_samples" -> "SELECT audio_n_samples(X'01020304', 'stub')")
    assert(temporary(s) -- temporary(spark.newSession()) == calls.keySet)
    calls.foreach { case (name, q) =>
      val rows = s.sql(q).collect()
      assert(rows.length == 1 && !rows.head.isNullAt(0), s"$name: ${rows.toSeq}")
    }
    assert(s.sql(calls("kmv_est_long")).head.getDouble(0) == 2.0)
    assert(s.sql(calls("kmv_est")).head.getDouble(0) == 2.0)
  }
}
