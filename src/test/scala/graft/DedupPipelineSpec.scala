package graft

import graft.audio.Pcm
import graft.functions._
import graft.gen.ClipGen
import graft.pipeline.{Dedup, DedupConfig}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** E2E pipeline vs exact oracle (SURVEY §5 E2E level + §7.4 minimum slice):
  * recall >= 0.99 against exact-Jaccard/containment/audio-overlap truth,
  * precision = 1 by construction (verify IS exact), partition-invariance,
  * and the SNR >= 30 dB per-row invariant. */
class DedupPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val cfg = DedupConfig()
  lazy val (clipsDs, truth) = ClipGen.generate(spark, nClips = 1200, seed = 42L, numPartitions = 8)
  lazy val clips = clipsDs.toDF().cache()

  /** Exact pairwise stats via inverted index (never all-pairs): intersection
    * counts from a self-join on shingle hash, sizes from per-doc counts. */
  private def exactPairs(exploded: DataFrame, minJ: Double, minCont: Double): DataFrame = {
    val sizes = exploded.groupBy($"clip_id").agg(count(lit(1)).as("n"))
    val l = exploded.select($"h", $"clip_id".as("a"))
    val r = exploded.select($"h", $"clip_id".as("b"))
    val inter = l.join(r, "h").where($"a" < $"b").groupBy($"a", $"b").agg(count(lit(1)).as("i"))
    inter
      .join(sizes.select($"clip_id".as("a"), $"n".as("na")), "a")
      .join(sizes.select($"clip_id".as("b"), $"n".as("nb")), "b")
      .withColumn("j", $"i" / ($"na" + $"nb" - $"i"))
      .withColumn("cont", $"i" / least($"na", $"nb"))
      .where($"j" >= minJ || $"cont" >= minCont)
      .select($"a", $"b")
  }

  lazy val oracleText = exactPairs(
    clips.select($"clip_id", explode(shingle_hashes($"transcript", lit(cfg.shingleK))).as("h")),
    cfg.tau, cfg.containmentTau).cache()

  lazy val oracleAudio = exactPairs(
    clips.select($"clip_id", explode(audio_fp_hashes($"bytes", $"codec", $"sr_hz")).as("h")),
    cfg.audioTau, 2.0 /* containment off */).cache()

  /** Exact substring containment over ALL pairs (the suffix-array truth):
    * affordable at test scale via a length-bucketless crossJoin. */
  lazy val oracleSubstring = {
    val t = clips.select($"clip_id", $"transcript")
    t.select($"clip_id".as("a"), $"transcript".as("ta"))
      .crossJoin(t.select($"clip_id".as("b"), $"transcript".as("tb")))
      .where($"a" < $"b")
      .where(graft.functions.is_substring($"ta", $"tb"))
      .select($"a", $"b")
  }

  lazy val oracleEdges = oracleText.union(oracleAudio).union(oracleSubstring).distinct().cache()

  lazy val predicted = Dedup.run(spark, clips, cfg).cache()

  test("planted duplicate structure is present and audio fingerprints are robust") {
    val n = clips.count()
    assert(n > 1100, s"n=$n")
    assert(oracleText.count() > 100)
    // planted audio-only dups (member _3 vs _0): >=80% must clear the
    // audio-overlap oracle threshold -> fingerprint robust to gain+noise
    val planted3 = truth.select($"clip_id", $"group_id").as[(String, Long)].collect()
      .groupBy(_._2).values
      .filter(_.exists(_._1.endsWith("_3")))
      .map { g =>
        val orig = g.find(_._1.endsWith("_0")).get._1
        val m3 = g.find(_._1.endsWith("_3")).get._1
        (math.min(orig.length, m3.length), if (orig < m3) (orig, m3) else (m3, orig))
      }.map(_._2).toSeq
    assert(planted3.nonEmpty)
    val oracleAudioSet = oracleAudio.as[(String, String)].collect().toSet
    val hit = planted3.count(p => oracleAudioSet.contains(p))
    assert(hit.toDouble / planted3.size >= 0.8,
      s"audio fingerprint too fragile: $hit/${planted3.size}")
  }

  test("per-row invariant: planted audio perturbation stays above SNR 30 dB") {
    val byId = clipsDs.collect().map(c => c.clip_id -> c).toMap
    val pairs = byId.keys.filter(_.endsWith("_3")).take(20).map(id => (id.dropRight(1) + "0", id))
    var checked = 0
    pairs.foreach { case (a, b) =>
      (byId.get(a), byId.get(b)) match {
        case (Some(ca), Some(cb)) =>
          val ra = Pcm.decodePcmS16le(ca.bytes)
          val rb = Pcm.decodePcmS16le(cb.bytes)
          // member 3 is gain 0.8x + noise: compare against gain-adjusted ref
          val snr = Pcm.snrDb(ra.map(_ * 0.8), rb)
          assert(snr >= 30.0, s"SNR($a,$b)=$snr")
          checked += 1
        case _ =>
      }
    }
    assert(checked > 5)
  }

  test("dup-pair recall >= 0.99 and cluster precision = 1 vs exact oracle") {
    val withCa = oracleEdges
      .join(predicted.select($"clip_id".as("a"), $"cluster_id".as("ca")), "a")
      .join(predicted.select($"clip_id".as("b"), $"cluster_id".as("cb")), "b")
    val total = withCa.count()
    val recalled = withCa.where($"ca" === $"cb").count()
    val recall = recalled.toDouble / total
    info(s"oracle pairs=$total recalled=$recalled recall=$recall")
    assert(recall >= 0.99, s"recall=$recall ($recalled/$total)")

    // precision: predicted co-clustered pairs must be reachable through
    // oracle edges (verify is exact => predicted edges subset of oracle)
    val oracleCc = {
      val parent = scala.collection.mutable.Map.empty[String, String]
      def find(x: String): String = {
        var r = x; while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x; while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      oracleEdges.as[(String, String)].collect().foreach { case (a, b) =>
        parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
      }
      parent.keys.map(k => k -> find(k)).toMap
    }
    val predPairs = predicted.as[(String, String)].collect()
      .groupBy(_._2).values.filter(_.length > 1)
    predPairs.foreach { members =>
      val roots = members.map(m => oracleCc.getOrElse(m._1, m._1)).distinct
      assert(roots.length == 1, s"predicted cluster mixes oracle components: ${members.take(5).toSeq}")
    }
  }

  test("mid-size hot buckets: per-(source,bucket) salts keep an exact-dup mass connected") {
    // 200 ids appearing with IDENTICAL membership in 5 buckets — exactly
    // how an exact-dup mass lands in every minhash band. With
    // hotBucketLimit=16 each bucket is salted into ~13 sub-buckets; the
    // salt must differ per (source,bucket) or every bucket splits the
    // mass the same way and cross-salt pairs are never emitted anywhere
    // (round-2 advice: the mass would shatter into ~13 components).
    val ids = (0 until 200).map(_.toLong)
    val buckets = ids.flatMap(id => (0 until 5).map(b => (id, b.toLong, 0.toByte)))
      .toDF("sid", "bucket", "source")
    val pairs = Dedup.pairsFromBuckets(buckets, hotBucketLimit = 16)
      .select($"a", $"b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ra) = rb
    }
    val comps = ids.map(find).distinct
    assert(comps.length == 1, s"dup mass shattered into ${comps.length} components")
  }

  test("text-only Jaccard pipeline equals exact shingle-Jaccard clustering end to end") {
    // the q_pipeline_text_clusters contract: with minhash-only evidence
    // and Jaccard-only verification, the full pipeline (signatures ->
    // buckets -> salted pairs -> verify -> CC) must equal the EXACT
    // all-pairs J >= tau clustering (LSH miss p ~ 5e-8 at b=32/r=4)
    val cfgT = DedupConfig(sources = Set("minhash"), verifyContainment = false)
    val got = Dedup.run(spark, clips, cfgT).as[(String, String)].collect().toMap
    val exact = exactPairs(
      clips.select($"clip_id", explode(shingle_hashes($"transcript", lit(cfgT.shingleK))).as("h")),
      cfgT.tau, 2.0 /* containment off */).as[(String, String)].collect()
    val parent = scala.collection.mutable.Map.empty[String, String]
    def find(x: String): String = {
      var r = x; while (parent.getOrElse(r, r) != r) r = parent(r); r
    }
    exact.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(if (ra < rb) rb else ra) = if (ra < rb) ra else rb
    }
    // canonical id = min member; singletons map to themselves
    val members = parent.keys.toSeq.groupBy(find)
    val want = clips.select($"clip_id").as[String].collect().map { id =>
      id -> id
    }.toMap ++ members.flatMap { case (_, ms) =>
      val m = ms.min; ms.map(_ -> m)
    }
    assert(got == want,
      s"diff=${(got.toSet -- want.toSet).take(5)} / ${(want.toSet -- got.toSet).take(5)}")
  }

  /** `body` over 300 cached clips and their count, with the session's
    * checkpoint dir set to `ckpt`; both are restored afterwards. */
  private def withSmallClips[A](ckpt: Option[String])(body: (DataFrame, Long) => A): A = {
    val sc = spark.sparkContext
    val bridge = org.apache.spark.graft.CheckpointDirBridge
    val saved = bridge.get(sc)
    bridge.set(sc, ckpt)
    val small = ClipGen.generate(spark, nClips = 300, seed = 7L, numPartitions = 4)._1.toDF().cache()
    try body(small, small.count())
    finally {
      small.unpersist()
      bridge.set(sc, saved)
    }
  }

  private def withTempDir[A](prefix: String)(body: java.nio.file.Path => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir)
    finally java.nio.file.Files.walk(dir).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => java.nio.file.Files.delete(f))
  }

  /** Two `Dedup.run(...).count()` calls over the small clips; after each,
    * `leftover` (given what `snapshot` saw before the first run) must be
    * empty. */
  private def runsLeaveNothing[S](ckpt: Option[String])(snapshot: => S)(
      leftover: S => Iterable[String]): Unit = withSmallClips(ckpt) { (small, n) =>
    val before = snapshot
    for (i <- 1 to 2) {
      assert(Dedup.run(spark, small, cfg).count() == n)
      val left = leftover(before)
      assert(left.isEmpty, s"left behind by run $i")
    }
  }

  test("Dedup.run releases the blocks it persists (no checkpoint dir)") {
    // local checkpoints persist their RDD directly, out of reach of
    // Dataset.unpersist, so the run must release its signature barrier
    // itself. Compared by RDD id, since the context tracks persisted RDDs
    // through weak references.
    val sc = spark.sparkContext
    runsLeaveNothing(None)(sc.getPersistentRDDs.keySet)(before =>
      sc.getPersistentRDDs.collect { case (id, rdd) if !before(id) => rdd.toString })
  }

  test("Dedup.run deletes its reliable checkpoint files (checkpoint dir set)") {
    // Spark leaves reliable checkpoint files on disk unless told to clean
    // them, so the run must delete its signature barrier (and CC's
    // superseded rounds) itself
    withTempDir("graft-run-ckpt") { dir =>
      def files = java.nio.file.Files.walk(dir).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_)).map(_.toString).toList
      runsLeaveNothing(Some(dir.toString))(())(_ => files)
    }
  }

  /** Ids of the RDDs that get blocks stored during one
    * `Dedup.run(...).count()` over the small clips. */
  private def rddsStoredByOneRun(ckpt: Option[String]): Set[Int] = withSmallClips(ckpt) { (small, n) =>
    import org.apache.spark.graft.ListenerBusBridge
    import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated}
    val sc = spark.sparkContext
    val stored = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        e.blockUpdatedInfo.blockId match {
          case org.apache.spark.storage.RDDBlockId(id, _)
              if e.blockUpdatedInfo.storageLevel.isValid => stored.add(id): Unit
          case _ =>
        }
    }
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(listener)
    try {
      assert(Dedup.run(spark, small, cfg).count() == n)
      ListenerBusBridge.drain(sc)
    } finally sc.removeSparkListener(listener)
    stored.asScala.toSet
  }

  test("Dedup.run holds the verified edges once: at most 2 RDDs store blocks") {
    // the signature barrier and CC's persist of the edges; a second edge
    // barrier in front of CC would be a third
    val stored = withTempDir("graft-run-blocks") { dir =>
      Seq(None, Some(dir.toString)).map(ckpt => ckpt.isDefined -> rddsStoredByOneRun(ckpt))
    }
    stored.foreach { case (withDir, ids) =>
      info(s"checkpoint dir $withDir: blocks stored for RDDs ${ids.toSeq.sorted}")
    }
    assert(stored.forall(_._2.size <= 2), s"RDDs that stored blocks: $stored")
  }

  test("clusters are partition-invariant (1 vs 7 partitions)") {
    val c1 = Dedup.run(spark, clips.repartition(1), cfg)
      .as[(String, String)].collect().toMap
    val c7 = Dedup.run(spark, clips.repartition(7), cfg)
      .as[(String, String)].collect().toMap
    val base = predicted.as[(String, String)].collect().toMap
    assert(c1 == base && c7 == base)
  }
}
