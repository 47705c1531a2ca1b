package graft

import graft.agg.SketchAggregators._
import org.apache.spark.sql.SparkSession

/** SQL-surface registration: exposes the sketch aggregates and scalar
  * helpers under stable names so `spark.sql("SELECT kmv_est(x) ...")`
  * works — the SQL-level equivalent of the reference's CLI modes
  * (/root/reference/src/main.rs:30-45). Call once per session. */
object GraftFunctions {

  def registerAll(spark: SparkSession): Unit = {
    val r = spark.udf
    // aggregates (partial/final = --raw/--merge)
    r.register("kmv_sketch", kmvSketch(65536).udf)
    r.register("kmv_est", kmvEst(65536).udf)
    r.register("kmv_est_long", kmvEstLong(65536).udf)
    r.register("kmv_merge_est", kmvMergeEst.udf)
    r.register("kmv_merge", kmvMerge.udf)
    r.register("freq_items3", freqItems(3).udf)
    r.register("freq_items20_exact", freqItemsLg(20, 18).udf)
    r.register("minhash_sig_agg", minHashSig(128).udf)
    // scalars
    r.register("theta_union_est", functions.theta_union_est)
    r.register("theta_intersect_est", functions.theta_intersect_est)
    r.register("theta_anotb_est", functions.theta_anotb_est)
    r.register("shingle_hashes", functions.shingle_hashes)
    r.register("minhash_text", functions.minhash_text_udf)
    r.register("band_hashes", functions.band_hashes)
    r.register("simhash_text", functions.simhash_text)
    r.register("hamming", functions.hamming)
    r.register("exact_jaccard", functions.exact_jaccard)
    r.register("exact_containment", functions.exact_containment)
    r.register("winnow_hashes", functions.winnow_hashes)
    r.register("is_substring", functions.is_substring)
    r.register("lang_id", functions.lang_id)
    r.register("bpeish_token_count", functions.bpeish_token_count)
    r.register("rolling_fp", functions.rolling_fp)
    r.register("audio_fp_hashes", functions.audio_fp_hashes)
    r.register("audio_n_samples", functions.audio_n_samples)
  }
}
