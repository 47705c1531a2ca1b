package graft

import graft.gen.ClipGen
import graft.io.TableIO
import graft.pipeline.{Dedup, DedupConfig}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
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
}
