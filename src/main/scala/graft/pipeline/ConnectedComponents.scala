package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

/** Distributed connected components via alternating large-star/small-star
  * (Kiveris et al., "Connected Components in MapReduce and Beyond",
  * SoCC'14) — converges in O(log^2 n) rounds, each round two
  * shuffle-friendly groupBy+join passes. Engine-new (SURVEY §2.6): the
  * north rule's union-find as an iterative DataFrame self-join.
  *
  * Scale notes (the part that must survive 10^12 edges):
  *  - each iteration is groupBy(min) + join — both hash-partitioned on the
  *    node id, so AQE can coalesce/skew-split; no driver-side state;
  *  - every round goes through `Dedup.materialize`: lineage is truncated
  *    (without that the plan doubles per iteration and Catalyst analysis
  *    time explodes, SURVEY §4 custom-work item 3), and with a checkpoint
  *    directory configured the round state is a RELIABLE checkpoint on
  *    the shared filesystem — a lost executor mid-CC cannot kill a 100TB
  *    run (the reference's whole merge protocol exists to make every
  *    stage restartable, /root/reference/src/main.rs:63-76); without a
  *    dir it falls back to executor-local blocks (test/sandbox mode);
  *  - convergence test is a cheap aggregate (sum of hashes), not collect;
  *  - ONE size decision, in `runOnStrings`: an edge frame of at most
  *    `DefaultLocalEdgeThreshold` edges is closed by one collect + driver
  *    union-find, a larger one by `run`'s distributed rounds.
  */
object ConnectedComponents {

  /** Up to this many edges the closure is latency-bound, not
    * throughput-bound: each distributed round-pair costs a fixed several
    * seconds of driver-serial scheduling (checkpoint barrier + AQE replans
    * per exchange) regardless of row count, while a driver union-find over
    * 2M string-id edges is one collect and milliseconds of compute.
    * Verified-duplicate edge frames are SPARSE — only actual duplicates
    * produce edges — so even very large corpora finish here (1.45M edges
    * at 900k clips). */
  val DefaultLocalEdgeThreshold = 2000000L

  private val MaxIter = 50

  /** edges: two columns (src, dst) of any orderable type — long in tests,
    * the clip_id strings in the pipeline — undirected, self-loops ignored.
    * Returns (node, component) where component = min node id reachable —
    * canonical cluster id (SURVEY §5) — by large-star/small-star rounds. */
  def run(spark: SparkSession, edges: DataFrame): DataFrame = {
    import spark.implicits._

    // canonical undirected edge list, deduped, self-loops dropped
    var e = Dedup.materialize(edges.toDF("u", "v")
      .where($"u" =!= $"v")
      .select(least($"u", $"v").as("u"), greatest($"u", $"v").as("v"))
      .distinct(), StorageLevel.MEMORY_AND_DISK_SER)

    // one large-star + small-star round as a pure plan transform.
    // Each round is latency-bound at sandbox scale (every exchange is an
    // AQE query stage with a driver replan), so both stars emit their
    // pairs PRE-ORDERED instead of canonicalizing, and only small-star
    // ends with a distinct: large-star's output is at most one row per
    // input edge (duplicates only when two neighbors of v share a min),
    // so an intermediate distinct bought nothing but two stages per round.
    def round(in: DataFrame): DataFrame = {
      // large-star: for each node u, link every LARGER neighbor v to
      // m = min(N(u) ∪ {u}). m <= u < v, so (m, v) is already ordered
      // and can never be a self-loop. Keeps the graph connected,
      // strictly reduces large-id edges.
      val nbrs = in.select($"u", $"v").union(in.select($"v".as("u"), $"u".as("v")))
      val mins = nbrs.groupBy($"u").agg(least(min($"v"), first($"u")).as("m"))
      val large = nbrs.join(mins, "u")
        .where($"v" > $"u")
        .select($"m".as("u"), $"v")

      // small-star: orient to (larger, smaller) — large-star emitted
      // (m, v) with m < v, so the orientation is a column swap — and
      // link all smaller neighbors and self to the neighborhood min m2.
      // m2 <= v < u makes (m2, u) ordered; (m2, v) needs the v != m2
      // guard only.
      val oriented = large.select($"v".as("u"), $"u".as("v"))
      val mins2 = oriented.groupBy($"u").agg(min($"v").as("m"))
      oriented.join(mins2, "u")
        .select(explode(array($"u", $"v")).as("n"), $"m")
        .where($"n" =!= $"m")
        .select($"m".as("u"), $"n".as("v"))
        .distinct()
    }

    var converged = false
    var iter = 0
    val tLoop = System.nanoTime()
    // TWO rounds per materialization + probe: the driver-serial loop's
    // fixed latency (checkpoint barrier + probe job per pass) halves,
    // at worst one extra (cheap, already-converged) round pair. The
    // checkpoint still truncates lineage every pass, so the plan stays
    // bounded (CcPlanSpec). Signing the INITIAL frame (one cheap agg over
    // the just-materialized edges) lets the loop converge one full
    // materialized iteration earlier than a prev-vs-prev comparison —
    // measured 3 -> 2 round-pairs on the sf0.1 cluster graphs, and an
    // already-star-shaped input (checkpoint resume) converges in ONE.
    // (Tried and rejected: disabling AQE inside the loop — without
    // runtime stats the payload-less frames plan as sort-merge joins and
    // a 244-row confirmation pass got SLOWER, 4.1 s vs 1.6 s; AQE's
    // runtime broadcast conversion is worth its replan latency here.)
    var prevSig = signature(e)
    while (!converged && iter < MaxIter) {
      val tIter = System.nanoTime()
      val next = Dedup.materialize(round(round(e)), StorageLevel.MEMORY_AND_DISK_SER)
      val tMat = System.nanoTime()
      val sig = signature(next)
      converged = sig == prevSig
      prevSig = sig
      System.err.println(f"[cc] iter $iter: materialize ${(tMat - tIter) / 1e9}%.1f s, probe ${(System.nanoTime() - tMat) / 1e9}%.1f s, rows ${sig.n}")
      Dedup.release(e)
      e = next
      iter += 1
    }
    require(converged, s"connected components did not converge in $MaxIter iterations")
    // driver-serial loop latency is the scaling-efficiency suspect #1:
    // always log how much wall time the iterations cost
    System.err.println(
      f"[cc] converged after $iter round-pairs in ${(System.nanoTime() - tLoop) / 1e9}%.1f s")

    // after convergence every edge is (root, member); emit members + roots
    val out = e.select($"v".as("node"), $"u".as("component"))
      .union(e.select($"u".as("node"), $"u".as("component")))
      .groupBy($"node").agg(min($"component").as("component"))
    out
  }

  /** (node, min node in its component) for every distinct endpoint —
    * path-halving union-find with union-by-min-index, O(E α(V)). "Min" is
    * Spark's string order, UTF-8 bytes, the order `run`'s `min` uses;
    * String's own UTF-16 order differs once ids mix code points above
    * U+FFFF with ones in U+E000..U+FFFF. */
  private def unionFind(edges: Array[(String, String)]): Array[(String, String)] = {
    val idx = new java.util.HashMap[String, Integer](edges.length * 2)
    val keys = new scala.collection.mutable.ArrayBuffer[String]
    def id(k: String): Int = {
      val got = idx.get(k)
      if (got != null) got.intValue
      else { val i = keys.length; idx.put(k, i); keys += k; i }
    }
    val ids = edges.map { case (a, b) => (id(a), id(b)) }
    val parent = Array.tabulate(keys.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    ids.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val minOf = new java.util.HashMap[Integer, UTF8String]
    var i = 0
    while (i < keys.length) {
      val r = find(i)
      val k = UTF8String.fromString(keys(i))
      val cur = minOf.get(r)
      if (cur == null || k.binaryCompare(cur) < 0) minOf.put(r, k)
      i += 1
    }
    Array.tabulate(keys.length) { k => (keys(k), minOf.get(find(k)).toString) }
  }

  private case class Row2(n: Long, h: Long)

  private def signature(e: DataFrame): Row2 = {
    // bit_xor: order-independent and overflow-free under ANSI mode; the
    // edge list is distinct so xor cancellation cannot hide a change
    val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
    Row2(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Clusters of a string-id edge frame: (clip_id, cluster_id = min
    * clip_id in its component) for every endpoint of a non-self-loop edge.
    * The one size decision: the edges are persisted and counted once; at
    * most `localEdgeThreshold` of them are collected and closed by a
    * driver union-find, more run `run`'s distributed rounds directly on
    * the string ids. Both give the same labels (CcSpec runs both). The
    * persist + count is the only barrier `Dedup.run` puts on its verified
    * edges, so a lazy `edges` plan (verification included) runs once,
    * here. The threshold is a parameter only so tests can force the
    * distributed branch with 0. */
  def runOnStrings(spark: SparkSession, edges: DataFrame, aCol: String, bCol: String,
      localEdgeThreshold: Long = DefaultLocalEdgeThreshold): DataFrame = {
    import spark.implicits._
    val cached = edges.select(col(aCol), col(bCol))
      .persist(StorageLevel.MEMORY_AND_DISK_SER)
    val nEdges = cached.count()
    if (nEdges <= localEdgeThreshold) {
      val pairs = cached.collect()
        .map(r => (r.getString(0), r.getString(1)))
        .filter { case (a, b) => a != b } // self-loops: same drop as run()
      cached.unpersist(blocking = false)
      System.err.println(s"[cc] local finish (string ids): $nEdges edges <= $localEdgeThreshold")
      unionFind(pairs).toSeq.toDF("clip_id", "cluster_id")
    } else {
      val cc = run(spark, cached)
      // run() eagerly materialized its canonical edge frame, so the cache
      // is out of the returned lineage
      cached.unpersist(blocking = false)
      cc.select($"node".as("clip_id"), $"component".as("cluster_id"))
    }
  }
}
