package graft

import graft.gen.ClipGen
import graft.io.TableIO
import graft.pipeline.{Dedup, DedupConfig}
import org.apache.spark.graft.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Checkpoint/resume behavior (SURVEY §5 partition-invariance analog +
  * FIXTURES §4): kill-and-resume at each stage boundary must reproduce the
  * uninterrupted run byte-for-byte, reusing published snapshots. */
class ResumeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val cfg = DedupConfig()

  private def freshRoot(tag: String): String = {
    val p = Files.createTempDirectory(s"graft-ckpt-$tag")
    p.toString
  }

  /** Runs `body` in its own job group and returns its result with the
    * stage names (call sites, e.g. "parquet at TableIO.scala:54") of
    * every Spark job it started that `keep` accepts. */
  private def jobsOf[T](body: => T,
      keep: SparkListenerJobStart => Boolean = _ => true): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"resume-spec-${java.util.UUID.randomUUID()}"
    val stages = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group && keep(e))
          stages.add(e.stageInfos.map(_.name).mkString(" | "))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "ResumeSpec")
    try {
      val out = body
      ListenerBusBridge.drain(sc)
      (out, stages.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def deleteTree(p: java.nio.file.Path): Unit =
    Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  test("checkpointed run equals in-memory run; snapshots published per stage") {
    val clips = ClipGen.generate(spark, nClips = 300, seed = 7L)._1.toDF().cache()
    val root = freshRoot("full")
    val ck = Dedup.runCheckpointed(spark, clips, cfg, root)
      .as[(String, String)].collect().toMap
    val mem = Dedup.run(spark, clips, cfg).as[(String, String)].collect().toMap
    assert(ck == mem)
    val snaps = Files.list(Paths.get(root, "_snapshots")).iterator().asScala.map(_.getFileName.toString).toSet
    Seq("signatures", "candidates", "edges", "clusters").foreach { st =>
      assert(snaps.exists(_.startsWith(st)), s"missing snapshot for $st in $snaps")
    }
    // lineage rows present with per-partition counters
    val lin = new TableIO(spark, root).lineage()
    assert(lin.count() > 0)
    assert(lin.columns.toSet == Set("partition_id", "rows_out", "stage", "config_hash", "snapshot", "wall_ms"))
  }

  test("resume mid-pipeline: later stages recompute, published ones are reused") {
    val clips = ClipGen.generate(spark, nClips = 300, seed = 7L)._1.toDF().cache()
    val root = freshRoot("resume")
    val h = TableIO.snapshotKey(cfg, clips)
    val io = new TableIO(spark, root)
    // simulate a run killed after signatures+candidates
    io.commit("signatures", h, Dedup.signatures(clips, cfg))
    io.commit("candidates", h, Dedup.candidates(io.read("signatures", h), cfg))
    val sigSnapshotBefore = Files.readString(Paths.get(root, "_snapshots", s"signatures-$h.json"))
    // resume: must reuse the two snapshots and produce identical clusters
    val resumed = Dedup.runCheckpointed(spark, clips, cfg, root)
      .as[(String, String)].collect().toMap
    val fresh = Dedup.run(spark, clips, cfg).as[(String, String)].collect().toMap
    assert(resumed == fresh)
    val sigSnapshotAfter = Files.readString(Paths.get(root, "_snapshots", s"signatures-$h.json"))
    assert(sigSnapshotBefore == sigSnapshotAfter, "resume must not rewrite published snapshots")
    // reuse, not a recompute under another key: one snapshot file and
    // one lineage commit per reused stage
    val snaps = Files.list(Paths.get(root, "_snapshots")).iterator().asScala
      .map(_.getFileName.toString).toSeq
    Seq("signatures", "candidates").foreach { st =>
      assert(snaps.count(_.startsWith(s"$st-")) == 1, s"$st recomputed on resume: $snaps")
    }
    val sigCommits = new TableIO(spark, root).lineage()
      .where($"stage" === "signatures").select("snapshot").distinct().count()
    assert(sigCommits == 1, s"signatures committed $sigCommits times")
  }

  test("config change invalidates snapshots (different hash, no stale reuse)") {
    val cfg2 = cfg.copy(tau = 0.7)
    assert(TableIO.configHash(cfg) != TableIO.configHash(cfg2))
  }

  test("input change invalidates snapshots (fingerprint in the key, no stale reuse)") {
    import org.apache.spark.sql.functions._
    val a = ClipGen.generate(spark, nClips = 100, seed = 7L)._1.toDF()
    val b = ClipGen.generate(spark, nClips = 100, seed = 8L)._1.toDF()
    assert(TableIO.inputFingerprint(a) != TableIO.inputFingerprint(b))
    // order/partitioning-independent: same rows, different layout -> same fp
    assert(TableIO.inputFingerprint(a.repartition(7).orderBy(desc("clip_id"))) ==
      TableIO.inputFingerprint(a))
    // end to end: a root populated from input A is NOT reused for input B
    val root = freshRoot("inputfp")
    Dedup.runCheckpointed(spark, a, cfg, root).count()
    val outB = Dedup.runCheckpointed(spark, b, cfg, root)
      .as[(String, String)].collect().toMap
    val freshB = Dedup.run(spark, b, cfg).as[(String, String)].collect().toMap
    assert(outB == freshB, "resume served results from the wrong input")
  }

  test("a full restart reads only the clusters snapshot and starts no TableIO parquet job") {
    val clips = ClipGen.generate(spark, nClips = 200, seed = 11L)._1.toDF().cache()
    val root = freshRoot("newest")
    val first = Dedup.runCheckpointed(spark, clips, cfg, root).as[(String, String)].collect().toMap
    val (again, jobs) = jobsOf(Dedup.runCheckpointed(spark, clips, cfg, root)
      .as[(String, String)].collect().toMap)
    assert(again == first)
    assert(jobs.nonEmpty, "the listener saw no job at all")
    assert(!jobs.exists(_.contains("parquet at TableIO")), s"restart inferred a snapshot schema: $jobs")
    // the earlier stages' data is never opened: deleting it changes nothing
    Seq("signatures", "candidates", "edges").foreach(st => deleteTree(Paths.get(root, st)))
    val without = Dedup.runCheckpointed(spark, clips, cfg, root).as[(String, String)].collect().toMap
    assert(without == first)
  }

  test("a restart missing only clusters reads edges, not signatures or candidates") {
    val clips = ClipGen.generate(spark, nClips = 200, seed = 11L)._1.toDF().cache()
    val root = freshRoot("edges")
    val first = Dedup.runCheckpointed(spark, clips, cfg, root).as[(String, String)].collect().toMap
    val h = TableIO.snapshotKey(cfg, clips)
    Files.delete(Paths.get(root, "_snapshots", s"clusters-$h.json"))
    Seq("signatures", "candidates").foreach(st => deleteTree(Paths.get(root, st)))
    val resumed = Dedup.runCheckpointed(spark, clips, cfg, root).as[(String, String)].collect().toMap
    assert(resumed == first)
    assert(Files.exists(Paths.get(root, "_snapshots", s"clusters-$h.json")), "clusters not republished")
  }

  test("a snapshot carries its schema: read starts no Spark job, even under a quoted root") {
    val root = freshRoot("quote\"d")
    val io = new TableIO(spark, root)
    val df = Seq((1L, "a", Seq(1.5, 2.5)), (2L, null, Seq.empty[Double])).toDF("id", "s", "xs")
    val written = io.commit("stage", "k1", df)
    val (read, jobs) = jobsOf {
      val r = io.read("stage", "k1")
      r.schema
      r
    }
    assert(jobs.isEmpty, s"read started jobs: $jobs")
    assert(read.schema == written.schema)
    assert(read.as[(Long, String, Seq[Double])].collect().toSet == df.as[(Long, String, Seq[Double])].collect().toSet)
    val snap = new String(Files.readAllBytes(Paths.get(root, "_snapshots", "stage-k1.json")), "UTF-8")
    Seq("\"stage\"", "\"config_hash\"", "\"location\"", "\"rows\":2", "\"wall_ms\"", "\"schema\"")
      .foreach(f => assert(snap.contains(f), s"snapshot lacks $f: $snap"))
  }

  test("a commit reads its data back with the written schema: no inference job, same schema") {
    val clips = ClipGen.generate(spark, nClips = 200, seed = 13L)._1.toDF().cache()
    val root = freshRoot("readback")
    // parquet schema inference is a bare RDD job started while a read is
    // planned, outside any SQL execution; every other TableIO job (the
    // writes, the per-partition counts) runs inside one
    val (_, inferred) = jobsOf(Dedup.runCheckpointed(spark, clips, cfg, root).count(),
      keep = e => e.properties.getProperty("spark.sql.execution.id") == null)
    assert(!inferred.exists(_.contains("TableIO")), s"a commit inferred a schema: $inferred")
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val snaps = Files.list(Paths.get(root, "_snapshots")).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".json")) // not the checksum files
    assert(snaps.size == 4, s"expected one snapshot per stage: $snaps")
    snaps.foreach { f =>
      val snap = json.readTree(f.toFile)
      val schema = org.apache.spark.sql.types.DataType.fromJson(snap.get("schema").toString)
      assert(schema == spark.read.parquet(snap.get("location").asText()).schema,
        s"${f.getFileName}: snapshot schema differs from the inferred one")
    }
  }

  test("a snapshot written without a schema field (older roots) still reads") {
    val root = freshRoot("legacy")
    val loc = s"$root/stage/data-legacy"
    val df = Seq((1L, "a"), (2L, "b"), (3L, null)).toDF("id", "s")
    df.write.parquet(loc)
    Files.createDirectories(Paths.get(root, "_snapshots"))
    Files.write(Paths.get(root, "_snapshots", "stage-k0.json"),
      s"""{"stage":"stage","config_hash":"k0","location":"$loc","rows":3,"wall_ms":1}""".getBytes("UTF-8"))
    val got = new TableIO(spark, root).read("stage", "k0")
    assert(got.columns.toSeq == Seq("id", "s"))
    assert(got.as[(Long, String)].collect().toSet == df.as[(Long, String)].collect().toSet)
  }

  test("golden snapshot-key inputs: fingerprint and config hash keep their values") {
    // a change to either orphans (or aliases) every existing checkpoint
    // root; it must be deliberate, with LayoutVersion bumped or noted
    val df = Seq(
      ("c1", Array[Byte](1, 2, 3), 8000, "hello world"),
      ("c2", Array.emptyByteArray, 16000, null),
      ("c3", null, 8000, "ünïcödé 😀"))
      .toDF("clip_id", "bytes", "sr_hz", "transcript")
    assert(TableIO.inputFingerprint(df) == "38931098d0de34973")
    assert(TableIO.configHash(DedupConfig()) == "85142a38dd0cca0f")
  }
}
