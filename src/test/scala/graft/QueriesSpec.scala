package graft

import graft.functions._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-query invariants against exact Spark-computed oracles on the
  * driver-provided tables (the DuckDB gate is the driver's; these keep it
  * honest locally). */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  val sf = "/root/testdata/sf0.001"

  private def q(name: String) = SparkEntry.queries(name)(spark, sf)

  test("every registered query runs and returns rows at sf0.001") {
    SparkEntry.queries.keys.foreach { name =>
      val n = q(name).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("pair-binding leaves leave nothing persisted but clipsInput's cache, call after call") {
    // the session is shared with other tests: compare against its
    // persisted set as this test finds it
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet
    val before = persisted
    SparkEntry.clipsInput(spark, sf).count() // the one intended per-dir cache
    val clipsCache = persisted -- before
    val leaves = Seq("q_word_jaccard_pairs", "q_minhash_lsh_docs", "q_cc_clusters",
      "q_shared_spans", "q_embed_neardup", "q_pipeline_text_clusters",
      "q_pipeline_substring_clusters", "q_pipeline_clusters")
    for (_ <- 1 to 2; leaf <- leaves) q(leaf).collect()
    val leaked = persisted -- before -- clipsCache
    assert(leaked.isEmpty, s"persisted RDDs left behind: " +
      leaked.toSeq.sorted.map(id => s"$id ${sc.getPersistentRDDs(id).name.take(300)}").mkString("\n"))
  }

  test("every oracleSql key has a matching query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracleSql without query: $missing")
  }

  test("sorted_intersect_count rejects string and mixed array inputs at analysis") {
    // the merge walk compares longs only; anything else must fail
    // analysis, not silently miscompare
    val strings = Seq((Seq("a", "b"), Seq("b"))).toDF("xs", "ys")
    val mixed = Seq((Seq(1L), Seq("a"))).toDF("xs", "ys")
    for (df <- Seq(strings, mixed))
      intercept[org.apache.spark.sql.AnalysisException] {
        df.select(sorted_intersect_count($"xs", $"ys")).collect()
      }
  }

  test("kmv keyed distinct equals exact countDistinct (sketch in exact regime)") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val got = q("q_keyed_distinct").as[(String, Double)].collect().toMap
    val want = ev.groupBy($"event_type").agg(countDistinct($"user_id"))
      .as[(String, Long)].collect().toMap
    assert(got == want.view.mapValues(_.toDouble).toMap)
    // and the two-level raw/merge protocol agrees bit-for-bit
    val merged = q("q_raw_merge").as[(String, Double)].collect().toMap
    assert(merged == got)
  }

  test("theta set ops equal exact set cardinalities in exact regime") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val click = ev.where($"event_type" === "click").select($"user_id").distinct().as[Long].collect().toSet
    val purch = ev.where($"event_type" === "purchase").select($"user_id").distinct().as[Long].collect().toSet
    val row = q("q_theta_setops").head()
    assert(row.getDouble(0) == (click ++ purch).size.toDouble)
    assert(row.getDouble(1) == click.intersect(purch).size.toDouble)
    assert(row.getDouble(2) == (click -- purch).size.toDouble)
  }

  test("hh topk equals exact group counts with deterministic ties") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val want = ev.groupBy($"event_type").count()
      .orderBy(desc("count"), $"event_type").limit(3)
      .as[(String, Long)].collect().toSeq
    val got = q("q_hh_topk").select($"item", $"est").as[(String, Long)].collect().toSeq
    assert(got == want)
  }

  test("word-jaccard prefix filter shrinks candidates and stays exact") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val words = docs
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("w"))
      .where($"w" =!= "")
    // the bare inverted-index join (the pre-round-4 shape): every pair
    // sharing ANY word is a candidate — hot-word quadratic
    val bare = words.select($"w", $"doc_id".as("a"))
      .join(words.select($"w", $"doc_id".as("b")), "w")
      .where($"a" < $"b").select($"a", $"b").distinct().count()
    val prefiltered = SparkEntry.wordPrefixCandidates(words, tau = 0.5).count()
    assert(prefiltered < bare,
      s"prefix filter did not shrink the join: $prefiltered vs $bare")
    // exactness: the filtered path finds the identical J>=0.5 pair set
    // as a direct computation over the bare candidates
    val sets = words.groupBy($"doc_id").agg(sort_array(collect_set($"w")).as("ws"))
    val bareCands = words.select($"w", $"doc_id".as("a"))
      .join(words.select($"w", $"doc_id".as("b")), "w")
      .where($"a" < $"b").select($"a", $"b").distinct()
    val wa = sets.select($"doc_id".as("a"), $"ws".as("wa"))
    val wb = sets.select($"doc_id".as("b"), $"ws".as("wb"))
    val inter = size(array_intersect($"wa", $"wb")).cast("double")
    val want = bareCands.join(wa, "a").join(wb, "b")
      .withColumn("j", inter / (size($"wa") + size($"wb") - inter))
      .where($"j" >= 0.5).select($"a", $"b")
      .as[(Long, Long)].collect().toSet
    val got = SparkEntry.wordJaccardPairs(docs, tau = 0.5)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    assert(got == want)
  }

  test("minhash-lsh doc candidates recall exact J>=0.5 pairs") {
    // exact word.. char-5-gram Jaccard oracle via inverted index
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sh = docs.select($"doc_id", explode(shingle_hashes($"text", lit(5))).as("h"))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n"))
    val inter = sh.select($"h", $"doc_id".as("a"))
      .join(sh.select($"h", $"doc_id".as("b")), "h")
      .where($"a" < $"b").groupBy($"a", $"b").agg(count(lit(1)).as("i"))
    val oracle = inter
      .join(sizes.select($"doc_id".as("a"), $"n".as("na")), "a")
      .join(sizes.select($"doc_id".as("b"), $"n".as("nb")), "b")
      .where($"i" / ($"na" + $"nb" - $"i") >= 0.5)
      .select($"a", $"b").as[(Long, Long)].collect().toSet
    val got = q("q_minhash_lsh_docs").select($"a", $"b").as[(Long, Long)].collect().toSet
    if (oracle.nonEmpty) {
      val recall = oracle.intersect(got).size.toDouble / oracle.size
      info(s"lsh doc recall=$recall over ${oracle.size} oracle pairs")
      assert(recall >= 0.95, s"recall=$recall")
    }
    // precision is exact by construction (verified with exact_jaccard)
    assert(got.subsetOf(oracle) || oracle.isEmpty)
  }

  test("simhash hamming pairs: combo-bucket join equals all-pairs enumeration") {
    // pigeonhole exactness of the 2-of-6 block-combo candidate join:
    // every pair within Hamming distance 4 shares >= 1 of the 15 keys,
    // so the bucket-join path must equal brute-force xor enumeration
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val fp = docs.select($"doc_id", simhash_md5_words($"text").as("sh"))
      .as[(Long, Long)].collect()
    val want = (for {
      (ida, sa) <- fp; (idb, sb) <- fp if ida < idb
      hd = java.lang.Long.bitCount(sa ^ sb) if hd <= 4
    } yield (ida, idb, hd)).toSet
    val got = q("q_simhash_hamming_pairs").as[(Long, Long, Int)].collect().toSet
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty)
  }

  test("ann lsh recall vs brute force") {
    val brute = q("q_ann_bruteforce").select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val approx = q("q_ann_lsh").select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(approx).size.toDouble / brute.size
    info(s"ann recall=$recall (${approx.size} approx rows)")
    assert(recall >= 0.9, s"ann lsh recall too low: $recall")
  }

  test("ann ivf recall vs brute force (sf0.01: k << n, IVF's regime)") {
    // at sf0.001 the corpus is 50 vectors and top-10 spans most inverted
    // lists — no IVF parameterization is meaningful there. This test pins
    // the SELECTIVE regime (nProbe < nCentroids: the scan-fraction
    // trade-off); q_ann_ivf itself runs the exhaustive nProbe=nCentroids
    // parameterization, whose exactness the DuckDB oracle checks.
    val dir = "/root/testdata/sf0.01"
    val brute = SparkEntry.queries("q_ann_bruteforce")(spark, dir)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val ivf = graft.sim.Ann.ivfTopK(spark,
        spark.read.parquet(s"$dir/embeddings.parquet"), kNeighbors = 10,
        nCentroids = 8, nProbe = 6)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(ivf).size.toDouble / brute.size
    info(s"ivf recall=$recall (${ivf.size} rows)")
    assert(recall >= 0.9, s"ann ivf recall too low: $recall")
  }

  test("ann ivf on a 4-partition input: one training pass, recall, repeatable rows") {
    // a multi-partition table trains like a one-file table: one sample
    // collect and a driver Lloyd loop, not a distributed aggregation job
    // per iteration
    val dir = "/root/testdata/sf0.01"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet").repartition(4)
    val sc = spark.sparkContext
    val group = s"queries-spec-ivf-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet(): Unit
    }
    def ivfCall(): (Set[(Long, Long, Double, Int)], Int) = {
      jobs.set(0)
      val rows = graft.sim.Ann.ivfTopK(spark, emb, kNeighbors = 10, nCentroids = 8, nProbe = 6)
        .as[(Long, Long, Double, Int)].collect().toSet
      org.apache.spark.graft.ListenerBusBridge.drain(sc)
      (rows, jobs.get())
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "QueriesSpec ivf")
    val ((first, jobs1), (second, jobs2)) =
      try (ivfCall(), ivfCall())
      finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    info(s"ivf jobs per call: $jobs1, $jobs2")
    assert(jobs1 <= 12 && jobs2 <= 12, s"ivfTopK started $jobs1 / $jobs2 jobs")
    assert(first == second, s"calls differ: ${(first -- second).take(3)} / ${(second -- first).take(3)}")
    val brute = SparkEntry.queries("q_ann_bruteforce")(spark, dir)
      .select($"qid", $"vec_id").as[(Long, Long)].collect().toSet
    val recall = brute.intersect(first.map(r => (r._1, r._2))).size.toDouble / brute.size
    info(s"ivf recall at 4 partitions=$recall")
    assert(recall >= 0.9, s"ann ivf recall too low at 4 partitions: $recall")
  }

  test("ann ivf rejects empty input and mixed dimensions with a clear error") {
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException](graft.sim.Ann.ivfTopK(spark, empty, kNeighbors = 3))
    assert(e1.getMessage.contains("empty"), e1.getMessage)
    val mixed = Seq((0L, Seq(1f, 0f, 0f)), (1L, Seq(0f, 1f, 0f, 0f)), (2L, Seq(0f, 0f, 1f)))
      .toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException](graft.sim.Ann.ivfTopK(spark, mixed, kNeighbors = 3))
    assert(e2.getMessage.contains("[3, 4]"), e2.getMessage)
  }

  test("ann lsh paths return no rows on empty input") {
    // the sign matrix follows each vector's length, so an empty table
    // needs no dimension to plan its buckets
    val empty = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(graft.sim.Ann.lshTopK(spark, empty, kNeighbors = 3, planes = 4, tables = 16).count() == 0)
    assert(graft.sim.Ann.cosineNearDupCandidates(empty, planes = 4, tables = 16).count() == 0)
  }

  test("ann ivf exhaustive probe (nProbe = nCentroids) equals brute force exactly") {
    val dir = "/root/testdata/sf0.01"
    val brute = SparkEntry.queries("q_ann_bruteforce")(spark, dir)
      .select($"qid", $"vec_id", $"cos", $"rk").as[(Long, Long, Double, Int)].collect().toSet
    val ivf = SparkEntry.queries("q_ann_ivf")(spark, dir)
      .select($"qid", $"vec_id", $"cos", $"rk").as[(Long, Long, Double, Int)].collect().toSet
    assert(ivf == brute, s"missing=${(brute -- ivf).take(3)} extra=${(ivf -- brute).take(3)}")
  }

  test("q_embed_neardup equals brute-force cosine pairs") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val a = emb.select($"vec_id".as("a"), $"embedding".as("ea"))
    val b = emb.select($"vec_id".as("b"), $"embedding".as("eb"))
    val dot = expr("aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    val na = expr("sqrt(aggregate(ea, CAST(0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    val nb = expr("sqrt(aggregate(eb, CAST(0 AS DOUBLE), (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE)))")
    val want = a.crossJoin(b).where($"a" < $"b")
      .withColumn("cos", round(dot / (na * nb), 6)).where($"cos" >= 0.45)
      .select($"a", $"b", $"cos").as[(Long, Long, Double)].collect().toSet
    val got = q("q_embed_neardup").as[(Long, Long, Double)].collect().toSet
    assert(got == want, s"missing=${(want -- got).take(5)} extra=${(got -- want).take(5)}")
    assert(want.nonEmpty)
  }

  test("q_shared_spans equals brute-force all-pairs suffix-array scan") {
    import graft.text.SuffixArray
    def cpLen(s: String): Int = s.codePointCount(0, s.length)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val want = (for {
      (ida, ta) <- docs; (idb, tb) <- docs if ida < idb
      span = SuffixArray.longestSharedSpan(ta, tb) if span >= 47
    } yield (ida, idb, span == cpLen(ta), span == cpLen(tb))).toSet
    val got = q("q_shared_spans").as[(Long, Long, Boolean, Boolean)].collect().toSet
    assert(got == want, s"got ${got.size} pairs, want ${want.size}")
    assert(want.nonEmpty) // the fixture plants qualifying spans
  }

  test("sharedSpanFlagPairs equals sharedSpanPairs minus span_len") {
    // the flags-only fast path (rolling-gram gate + contains flags, no
    // per-pair SA) must emit exactly the SA operator's rows
    import graft.pipeline.{Dedup, DedupConfig}
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(lpad($"doc_id".cast("string"), 12, "0").as("id"), $"text")
    val viaSa = Dedup.sharedSpanPairs(docs, "id", "text", DedupConfig(), minSpan = 47)
      .select($"a", $"b", $"a_in_b", $"b_in_a")
      .as[(String, String, Boolean, Boolean)].collect().toSet
    val viaFlags = Dedup.sharedSpanFlagPairs(docs, "id", "text", DedupConfig(), minSpan = 47)
      .as[(String, String, Boolean, Boolean)].collect().toSet
    assert(viaFlags == viaSa)
    assert(viaSa.nonEmpty)
  }

  test("sharedSpanFlagPairs equals sharedSpanPairs on astral text at the 47-code-point boundary") {
    // containment flags and the >= minSpan gate count code points, not
    // UTF-16 units: 47 astral code points are 94 chars, 46 are 92
    import graft.pipeline.{Dedup, DedupConfig}
    def astral(from: Int, n: Int): String =
      (from until from + n).map(i => new String(Character.toChars(0x1F300 + i))).mkString
    val s47 = astral(0, 47)
    val docs = Seq(
      "d1" -> s47,                                     // exactly 47 code points
      "d2" -> ("x" + astral(0, 48) + "y"),             // contains d1
      "d3" -> (astral(0, 46) + "é" + astral(100, 40)), // shares only 46 with d1, d2
      "d4" -> ("ab" + astral(1, 47) + "c"),            // shares 46 with d1, 47 with d2
      "d5" -> s47,                                     // equal to d1: both flags
      "d6" -> ("q" + astral(200, 60)))                 // shares nothing
      .toDF("id", "text")
    val viaSa = Dedup.sharedSpanPairs(docs, "id", "text", DedupConfig(), minSpan = 47)
      .select($"a", $"b", $"a_in_b", $"b_in_a")
      .as[(String, String, Boolean, Boolean)].collect().toSet
    val viaFlags = Dedup.sharedSpanFlagPairs(docs, "id", "text", DedupConfig(), minSpan = 47)
      .as[(String, String, Boolean, Boolean)].collect().toSet
    assert(viaFlags == viaSa)
    assert(viaSa == Set(
      ("d1", "d2", true, false), ("d1", "d5", true, true), ("d2", "d5", false, true),
      ("d2", "d4", false, false)))
  }

  test("q_cc_clusters equals driver-side union-find over the verified pairs") {
    val pairs = q("q_minhash_lsh_docs").select($"a", $"b").as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val docs = spark.read.parquet(s"$sf/documents.parquet").select($"doc_id").as[Long].collect()
    val want = docs.map(d => d -> find(d)).toMap
    val got = q("q_cc_clusters").as[(Long, Long)].collect().toMap
    assert(got == want)
    assert(pairs.nonEmpty && want.values.toSet.size < docs.length) // non-trivial clusters
  }

  test("entry flagship returns clustered clips") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq("clip_id", "cluster_id"))
    assert(df.count() > 100)
    // at least one non-singleton cluster (planted dups exist)
    assert(df.groupBy($"cluster_id").count().where($"count" > 1).count() > 0)
  }
}
