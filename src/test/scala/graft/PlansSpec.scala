package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the queries must not merely be correct,
  * they must produce the plans we would want at 100TB — filters reaching
  * the parquet scan, columns pruned, sketch aggregations planned as
  * partial+final with only sketch state crossing the shuffle, small join
  * sides broadcast, hot paths inside whole-stage codegen. A regression in
  * any of these is a silent order-of-magnitude cost at scale long before
  * it shows up in a sandbox benchmark. */
class PlansSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // finalize the adaptive plan (codegen/broadcast decided here)
    df.queryExecution.executedPlan.toString
  }

  test("q1_agg: codegen hash aggregation over a pruned parquet scan") {
    val p = plan("q1_agg")
    // codegen'd operators print with a *(stageId) prefix in the final plan
    assert(p.contains("*(1) HashAggregate") || p.contains("*(2) HashAggregate"),
      s"agg not inside whole-stage codegen:\n$p")
    assert(p.contains("partial_sum"), "no partial (map-side) aggregation")
    // column pruning: the scan must not read l_comment (widest column)
    val scanLine = p.linesIterator.find(_.contains("FileScan parquet")).getOrElse("")
    assert(!scanLine.contains("l_comment"), s"scan reads unneeded columns: $scanLine")
  }

  test("filter pushdown reaches the parquet scan") {
    import org.apache.spark.sql.functions._
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .where(col("l_quantity") > 40).select(col("l_orderkey"))
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,"),
      s"filter not pushed: ${p.linesIterator.find(_.contains("PushedFilters")).getOrElse("?")}")
  }

  test("sketch aggregations plan as partial+final with one exchange (the --raw/--merge seam)") {
    val p = plan("q_keyed_distinct")
    // ObjectHashAggregate partial -> Exchange hashpartitioning -> final
    assert(p.contains("ObjectHashAggregate"), "sketch agg not object-hash planned")
    assert(p.contains("Exchange hashpartitioning(event_type"), "no key-partitioned exchange")
    val aggCount = p.linesIterator.count(_.trim.startsWith("+- ObjectHashAggregate")) +
      p.linesIterator.count(_.trim.startsWith("ObjectHashAggregate"))
    assert(aggCount >= 2, s"expected partial+final agg pair, plan:\n$p")
  }

  test("ann brute force broadcasts the tiny query side") {
    val p = plan("q_ann_bruteforce")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "query side not broadcast")
  }

  test("simhash hamming pairs: keyed bucket join, never an all-pairs scan") {
    val p = plan("q_simhash_hamming_pairs")
    assert(!p.contains("CartesianProduct"), s"all-pairs join found:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"unkeyed join found:\n$p")
    assert(p.contains("bucket#"), "join not keyed by the combo bucket")
  }

  test("dedup signature stage is map-only (no exchange before signatures)") {
    val cfg = graft.pipeline.DedupConfig()
    val clips = graft.gen.ClipGen.generate(spark, 100, seed = 3L)._1.toDF()
    val p = graft.pipeline.Dedup.signatures(clips, cfg).queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"signatures must not shuffle:\n$p")
  }

  test("pair generation keys the shuffle on (source, bucket) — never an all-pairs join") {
    val cfg = graft.pipeline.DedupConfig()
    val clips = graft.gen.ClipGen.generate(spark, 100, seed = 3L)._1.toDF()
    val sigs = graft.pipeline.Dedup.signatures(clips, cfg)
    // the pair pass over the minhash fan-out alone: a lazy plan with no
    // barrier, so the whole lineage down to the scan is visible
    val raw = graft.pipeline.Dedup.pairsFromBuckets(
      graft.pipeline.Dedup.buckets(sigs, cfg, Seq("minhash")), cfg.hotBucketLimit, cfg.saltMaxBucket)
    val p = raw.queryExecution.executedPlan.toString
    // the pair-generation fan-out is explicitly pinned (REPARTITION_BY_NUM)
    // so AQE cannot coalesce the quadratic-output aggregation to one task
    assert(p.contains("REPARTITION_BY_NUM"), s"pair-gen repartition not pinned:\n$p")
    assert(p.contains("bucket#"), "shuffle not keyed by bucket")
    assert(!p.contains("CartesianProduct"), "all-pairs join found in candidate plan")
    assert(!p.contains("BroadcastNestedLoopJoin"), "unkeyed join found in candidate plan")
  }

  // Every caller of Dedup.bindPairs binds its pair payload with no persist:
  // both id joins read one payload exchange, the second as a reuse.
  private val pairBinders: Seq[(String, () => String)] = Seq(
    "verify" -> (() => {
      val cfg = graft.pipeline.DedupConfig()
      val clips = graft.gen.ClipGen.generate(spark, 100, seed = 3L)._1.toDF()
      val sigs = graft.pipeline.Dedup.materialize(graft.pipeline.Dedup.signatures(clips, cfg))
      try {
        val v = graft.pipeline.Dedup.verify(sigs, graft.pipeline.Dedup.candidates(sigs, cfg), cfg)
        v.collect() // final adaptive plan: query stages and their reuse are decided here
        v.queryExecution.executedPlan.toString
      } finally graft.pipeline.Dedup.release(sigs)
    }),
    "q_word_jaccard_pairs" -> (() => plan("q_word_jaccard_pairs")),
    "q_minhash_lsh_docs" -> (() => plan("q_minhash_lsh_docs")),
    "q_shared_spans" -> (() => plan("q_shared_spans")))

  pairBinders.foreach { case (caller, finalPlan) =>
    test(s"$caller shuffles the payload once for both id joins, with no persist") {
      val p = finalPlan()
      assert(p.contains("ReusedExchange"), s"payload exchange not reused by the second join:\n$p")
      assert(!p.contains("InMemoryTableScan"), s"$caller reads a persisted frame:\n$p")
    }
  }
}
