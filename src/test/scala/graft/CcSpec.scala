package graft

import graft.pipeline.ConnectedComponents
import org.scalatest.funsuite.AnyFunSuite

class CcSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Driver-side exact union-find oracle; a component's label is its
    * least id under `ord`. */
  private def exactCc[T](edges: Seq[(T, T)])(implicit ord: Ordering[T]): Map[T, T] = {
    val parent = scala.collection.mutable.Map.empty[T, T]
    def find(x: T): T = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** The distributed rounds against the exact oracle, on the long ids
    * and on the same graph with string ids ("v" + decimal, unpadded, so
    * string order is not numeric order; ASCII, so String's order is
    * Spark's). */
  private def check(edges: Seq[(Long, Long)], partitions: Int = 0): Unit = {
    def part(df: org.apache.spark.sql.DataFrame) =
      if (partitions > 0) df.repartition(partitions) else df
    val got = ConnectedComponents.run(spark, part(edges.toDF("u", "v")))
      .as[(Long, Long)].collect().toMap
    val want = exactCc(edges)
    assert(got == want,
      s"long ids, partitions=$partitions got=${got.toSeq.sorted.take(20)} want=${want.toSeq.sorted.take(20)}")
    val strEdges = edges.map { case (a, b) => (s"v$a", s"v$b") }
    val gotS = ConnectedComponents.run(spark, part(strEdges.toDF("u", "v")))
      .as[(String, String)].collect().toMap
    val wantS = exactCc(strEdges)
    assert(gotS == wantS,
      s"string ids, partitions=$partitions got=${gotS.toSeq.sorted.take(20)} want=${wantS.toSeq.sorted.take(20)}")
  }

  test("cc: chains, cliques, singleton-free, star, disjoint") {
    check(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    check(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L)))
    check((1L to 100L).map(i => (i, i + 1))) // long chain: stresses iteration count
    check(Seq((5L, 1L), (5L, 2L), (5L, 3L)))
    check(Seq.tabulate(50)(i => (i * 2L, i * 2L + 1L))) // 50 disjoint pairs
  }

  test("cc: random graph matches exact union-find at multiple partition counts") {
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(2000)((rnd.nextInt(500).toLong, rnd.nextInt(500).toLong))
      .filter { case (a, b) => a != b }
    for (p <- Seq(1, 8)) check(edges, p)
  }

  test("cc: already-star-shaped input converges in one round pair") {
    // the upfront input signature lets a converged frame (e.g. checkpoint
    // resume re-running CC over its own output edges) stop after a single
    // materialized round pair instead of two
    val stars = Seq((1L, 2L), (1L, 3L), (1L, 4L), (10L, 11L), (10L, 12L))
    // the [cc] loop logs go through System.err (not scala.Console), so
    // capture by swapping the JVM stream
    val buf = new java.io.ByteArrayOutputStream()
    val prev = System.err
    val got =
      try {
        System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
        ConnectedComponents.run(spark, stars.toDF("u", "v"))
          .as[(Long, Long)].collect().toMap
      } finally System.setErr(prev)
    assert(got == exactCc(stars))
    val log = buf.toString("UTF-8")
    assert(log.contains("converged after 1 round-pairs"),
      s"expected single-round-pair convergence, log:\n$log")
  }

  test("cc rounds release each superseded round's blocks") {
    // a chain needs several round-pairs; only the last round's frame,
    // which the returned plan reads, may stay persisted (compared by RDD
    // id: the context tracks persisted RDDs through weak references)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val chain = (1L to 40L).map(i => (i, i + 1))
    val got = ConnectedComponents.run(spark, chain.toDF("u", "v"))
    val left = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
    assert(left.size == 1, s"left persisted: ${left.values.mkString("; ")}")
    assert(got.as[(Long, Long)].collect().toMap == exactCc(chain))
  }

  test("cc intermediates are RELIABLY checkpointed when a checkpoint dir is set") {
    // the round-2 scale-killer: CC used executor-local checkpoints even
    // when the session had a reliable checkpoint dir — one lost executor
    // mid-CC would kill a 100TB run. Every round must now go through the
    // dir-aware materialize: with a dir configured, checkpoint files land
    // under it DURING the run.
    val sc = spark.sparkContext
    val bridge = org.apache.spark.graft.CheckpointDirBridge
    val before = bridge.get(sc)
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt").toFile
    sc.setCheckpointDir(dir.toString)
    try {
      val edges = ((1L to 40L).map(i => (i, i + 1)) ++ Seq((100L, 101L))).toDF("u", "v")
      val got = ConnectedComponents.run(spark, edges)
        .as[(Long, Long)].collect().toMap
      val want = exactCc((1L to 40L).map(i => (i, i + 1)) ++ Seq((100L, 101L)))
      assert(got == want)
      def countFiles(f: java.io.File): Int =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(countFiles).sum
        else 1
      assert(countFiles(dir) > 0, "no reliable checkpoint files written during CC")
    } finally {
      bridge.set(sc, before)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        f.delete(): Unit
      }
      rm(dir)
    }
  }

  test("cc on string ids: canonical cluster id is min original id") {
    // U+FFFF vs U+1F600 (a surrogate pair in UTF-16): String's UTF-16
    // order puts the emoji first, Spark's UTF-8 byte order puts U+FFFF
    // first — the cluster id is Spark's min on both paths
    val edges = Seq(("x9", "x2"), ("x2", "x5"), ("a1", "a2"),
      ("\uD83D\uDE00", "\uFFFF")).toDF("a", "b")
    val want = Map("x9" -> "x2", "x2" -> "x2", "x5" -> "x2", "a1" -> "a1", "a2" -> "a1",
      "\uD83D\uDE00" -> "\uFFFF", "\uFFFF" -> "\uFFFF")
    // default threshold: driver union-find; 0: distributed rounds
    for (thr <- Seq(ConnectedComponents.DefaultLocalEdgeThreshold, 0L)) {
      val got = ConnectedComponents.runOnStrings(spark, edges, "a", "b",
          localEdgeThreshold = thr)
        .as[(String, String)].collect().toMap
      assert(got == want, s"thr=$thr")
    }
  }
}
