package graft

import graft.functions._
import graft.gen.ClipGen
import graft.pipeline.{Dedup, DedupConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The bucket-key table (`Dedup.bucketKeys` / `Dedup.buckets`) must stay
  * bit-identical to the per-source builders it replaced: candidates,
  * clusters, checkpoint snapshots and the query digests all hang off these
  * keys. The references below are the old posexplode/explode forms, kept
  * here only as an oracle; any change to a key formula (band index,
  * namespace literal, band geometry, source code) fails this spec. */
class BucketKeySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val cfg = DedupConfig()
  // ClipGen clips carry audio and planted duplicates, so every source
  // (including the audio bands and shared winnow fingerprints) is populated
  lazy val sigs: DataFrame = Dedup.signatures(
    ClipGen.generate(spark, nClips = 300, seed = 7L, numPartitions = 4)._1.toDF(), cfg).cache()

  private def sid: org.apache.spark.sql.Column = xxhash64(col("clip_id")).as("sid")
  private def code(src: String) =
    lit(Seq("minhash", "simhash", "audio", "substring", "containment").indexOf(src))
      .cast("tinyint").as("source")

  private def bands(sig: String, b: Int, r: Int, ns: Option[String], src: String): DataFrame =
    sigs.select(sid, posexplode(band_hashes(col(sig), lit(b), lit(r))).as(Seq("band_id", "band_hash")))
      .select(col("sid"),
        ns.fold(xxhash64(col("band_id"), col("band_hash")))(n =>
          xxhash64(lit(n), col("band_id"), col("band_hash"))).as("bucket"),
        code(src))

  private def exploded(arr: org.apache.spark.sql.Column, ns: String, src: String): DataFrame =
    sigs.select(sid, explode(arr).as("k"))
      .select(col("sid"), xxhash64(lit(ns), col("k")).as("bucket"), code(src))

  private lazy val reference: Map[String, DataFrame] = Map(
    "minhash" -> bands("minhash", cfg.bands, cfg.rowsPerBand, None, "minhash"),
    "simhash" -> exploded(simhash_combo_buckets(col("simhash")), "simhash", "simhash"),
    "audio" -> bands("audio_minhash", cfg.audioBands, cfg.audioRowsPerBand, Some("audio"), "audio"),
    "substring" -> exploded(col("winnow"), "winnow", "substring"),
    "containment" -> bands("minhash", 8, 2, Some("cont"), "containment"))

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    val n = want.count()
    assert(n > 0, "reference fan-out is empty")
    assert(got.count() == n)
    assert(got.exceptAll(want).isEmpty, "rows not in the reference fan-out")
    assert(want.exceptAll(got).isEmpty, "reference rows missing from the fan-out")
  }

  Seq("minhash", "simhash", "audio", "substring", "containment").foreach { src =>
    test(s"$src bucket keys equal the per-source reference builder") {
      assertSameRows(Dedup.buckets(sigs, cfg, Seq(src)), reference(src))
    }
  }

  test("one-pass fan-out of all five sources equals the union of the references") {
    val all = Seq("minhash", "simhash", "audio", "substring", "containment")
    assertSameRows(Dedup.buckets(sigs, cfg, all), all.map(reference).reduce(_ union _))
  }
}
