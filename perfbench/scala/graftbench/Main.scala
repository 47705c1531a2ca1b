package graftbench

import java.io.File
import scala.collection.mutable

import graft.pipeline.{ConnectedComponents, Dedup, DedupConfig}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Benchmark child process: one workload in one JVM, one closed-loop
  * client. Prints one line `GRAFTBENCH <json>` with every metric; run.py
  * turns it into the benchmark's result line.
  *
  * Modes:
  *  - run: set up, warm up, measure `seconds`, check outputs;
  *  - scaling-leg: the staged multimodal pipeline at local[1] over an
  *    input written by a traced run (the single-core baseline);
  *  - query-tables: write the sketch_queries tables to a directory
  *    (used by record_expected.py). */
object Main {

  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def workload: String = apply("workload")
    def seed: Long = apply("seed").toLong
    def seconds: Double = apply("seconds").toDouble
    def trace: Boolean = kv.get("trace").contains("1")
    def scratch: String = apply("scratch")
    def cpus: Int = apply("cpus").toInt
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    a("mode") match {
      case "run" => Runner(a).run()
      case "scaling-leg" => scalingLeg(a)
      case "query-tables" =>
        val spark = session(a.cpus, a.scratch)
        QueryTables.write(spark, a("out"))
        spark.stop()
      case m => sys.error(s"unknown mode $m")
    }
  }

  /** The session graft.Bench makes, with every directory under the
    * benchmark's scratch. */
  def session(cpus: Int, scratch: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$scratch/local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s.sparkContext.setCheckpointDir(s"$scratch/checkpoint")
    s
  }

  def emit(fields: Map[String, Any]): Unit = {
    println("GRAFTBENCH " + Json(fields))
    System.out.flush()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(du).sum
    else if (f.isFile) f.length() else 0L

  /** The four pipeline stages, each forced on its own: signatures behind
    * the same persist + reliable checkpoint barrier Dedup.run uses,
    * candidates and verified edges persisted and counted, clusters
    * written. Returns per-stage (wall seconds, rows out) and the edges
    * and candidates frames, still persisted, for the per-source counts. */
  def stagedPipeline(spark: SparkSession, tr: Tracer, clips: DataFrame, cfg: DedupConfig,
      out: String): (Seq[(String, Double, Long)], DataFrame, DataFrame) = {
    val ((sigs, nSig), tSig) = tr.span("pipeline.signatures") {
      val cached = Dedup.signatures(clips, cfg).persist(StorageLevel.MEMORY_AND_DISK_SER)
      val s = cached.checkpoint(eager = true)
      cached.unpersist(blocking = false)
      (s, s.count())
    }
    val ((cands, nCand), tCand) = tr.span("pipeline.candidates") {
      val c = Dedup.candidates(sigs, cfg).persist(StorageLevel.DISK_ONLY)
      (c, c.count())
    }
    val ((edges, nEdge), tVer) = tr.span("pipeline.verify") {
      val e = Dedup.verify(sigs, cands, cfg).persist(StorageLevel.MEMORY_AND_DISK_SER)
      (e, e.count())
    }
    val (_, tCc) = tr.span("pipeline.cc") {
      Dedup.clusters(spark, clips, edges).write.mode("overwrite").parquet(out)
    }
    val nOut = spark.read.parquet(out).count()
    (Seq(("signatures", tSig, nSig), ("candidates", tCand, nCand), ("verify", tVer, nEdge),
      ("cc", tCc, nOut)), cands, edges)
  }

  /** Single-core leg of dedup_multimodal (traced runs only). */
  def scalingLeg(a: Args): Unit = {
    val spark = session(1, a.scratch)
    val tr = new Tracer(spark, on = false)
    val warm = graft.gen.ClipGen.generate(spark, 300, seed = 7L)._1.toDF()
    Dedup.run(spark, warm, DedupConfig()).count()
    val clips = spark.read.parquet(a("input"))
    val t0 = System.nanoTime()
    val (stages, cands, edges) = stagedPipeline(spark, tr, clips, DedupConfig(), s"${a.scratch}/leg_out")
    val total = (System.nanoTime() - t0) / 1e9
    cands.unpersist(); edges.unpersist()
    emit(Map("total_s" -> total) ++ stages.map { case (n, t, _) => s"$n.wall_s" -> t })
    spark.stop()
  }
}

/** One measured run of one workload. */
final case class Runner(a: Main.Args) {
  import Main._

  /** ScalingBench.hostProbe on its own thread: the single-thread probe
    * overlaps session start-up (before) and shutdown (after). */
  private def probe(): java.util.concurrent.FutureTask[Double] = {
    val f = new java.util.concurrent.FutureTask[Double](() => graft.ScalingBench.hostProbe())
    new Thread(f, "host-probe").start()
    f
  }

  private val probeBefore = probe()
  private val scratch = new File(a.scratch).getAbsolutePath
  private val spark = session(a.cpus, scratch)
  private val tr = new Tracer(spark, a.trace)
  private val m = mutable.LinkedHashMap.empty[String, Any]
  private var attempted = 0
  private var failed = 0
  private val failures = mutable.ArrayBuffer.empty[String]
  private val rand = new scala.util.Random(a.seed)
  private val input = s"$scratch/input"
  private val out = s"$scratch/out"
  private val Stages = Seq("signatures", "candidates", "verify", "cc")

  private val born = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[graftbench] ${(System.nanoTime() - born) / 1e9}%6.1f s  $what")

  private def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; failures += what; System.err.println(s"[graftbench] FAILED: $what") }
  }

  private def scratchBytes: Long =
    Seq("local", "checkpoint", "tables").map(d => du(new File(s"$scratch/$d"))).sum
  private def ckptBytes: Long = du(new File(s"$scratch/checkpoint"))
  private def persistedBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

  /** Free-space gate: a shortfall fails loudly and counts as a failed
    * operation; the workload then stops. */
  private def diskGate(needBytes: Long): Boolean = {
    val free = new File(scratch).getUsableSpace
    check(free >= needBytes,
      f"disk gate: ${free / 1e9}%.1f GB free under scratch, ${needBytes / 1e9}%.1f GB needed")
    free >= needBytes
  }

  /** Runs `f` on every item, eight at a time. */
  private def inParallel[T](items: Seq[T])(f: T => Any): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(items)(i => Future(f(i))), scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Repetitions of the timed operation, with the gauges every workload
    * reports: bytes written (shuffle + spill + checkpoint files), heap
    * live after it, GC time, and what is still persisted or on scratch
    * disk once the repetition is over. */
  private final class Reps {
    val wall, written, heap, gc, persisted, scratchAfter = mutable.ArrayBuffer.empty[Double]
    var lastGroups: Map[String, GroupStats] = Map.empty

    def apply[T](body: => T): T = {
      Jvm.collect()
      tr.listener.drain(spark)
      val ck0 = ckptBytes
      val gc0 = Jvm.gcMs
      val (r, t) = timed(body)
      wall += t
      gc += (Jvm.gcMs - gc0) / 1e3
      lastGroups = tr.listener.drain(spark)
      val st = GroupStats.sum(lastGroups.values)
      written += (st.shuffleWrite + st.spill + ckptBytes - ck0).toDouble
      heap += Jvm.collect() / 1048576.0
      persisted += persistedBytes / 1048576.0
      scratchAfter += scratchBytes / 1048576.0
      r
    }

    /** Repeats `rep` for `seconds`: at least once, and never starting a
      * repetition that would end past the window at the last one's pace. */
    def until(seconds: Double)(rep: => Unit): Unit = {
      val t0 = System.nanoTime()
      var last = 0.0
      while (wall.isEmpty || (System.nanoTime() - t0) / 1e9 + last <= seconds)
        last = timed(rep)._2
    }

    def report(inputBytes: Long): Unit = {
      m("disk_write_amp") = median(written.toSeq) / inputBytes
      m("heap_peak_mb") = median(heap.toSeq)
      m("rep_wall_s") = wall.toSeq
      m("rep_written_mb") = written.toSeq.map(_ / 1048576.0)
      m("jvm.gc_s") = median(gc.toSeq)
      m("spark.persisted_mb_after") = persisted.last
      m("spark.scratch_mb_after") = scratchAfter.last
      m("reps") = wall.size
    }
  }

  /** Uncompressed size of a table: string and binary lengths, 8 bytes
    * per array element or other value. Parquet sizes were no use as the
    * denominator of disk_write_amp: snappy folds the duplicate clips of a
    * group into each other, so the file size swung ±10% with the seed. */
  private def logicalBytes(df: DataFrame): Long = {
    import org.apache.spark.sql.types._
    val sizes = df.schema.fields.toSeq.map { f =>
      val c = col(f.name)
      coalesce(f.dataType match {
        case StringType => octet_length(c)
        case BinaryType => length(c)
        case ArrayType(_, _) => size(c) * 8
        case _ => lit(8)
      }, lit(0)).cast("long")
    }
    df.select(sizes.reduce(_ + _).as("b")).agg(sum("b")).head().getLong(0)
  }

  private def setup(body: => Unit): Unit =
    m("setup_s") = median((1 to 3).map(_ => timed(body)._2))

  /** Dup-pair recall and precision of (clip_id, cluster_id) rows against
    * the planted groups, counted as pairs. */
  private def pairQuality(clusters: Array[Row], truth: Map[String, Long]): Unit = {
    def pairs(keys: Iterable[Any]): Double =
      keys.groupBy(identity).values.map(v => v.size.toDouble * (v.size - 1) / 2).sum
    val rows = clusters.map(r => (r.getString(1), truth(r.getString(0))))
    val tp = pairs(rows)
    val predicted = pairs(rows.map(_._1))
    val actual = pairs(rows.map(_._2))
    val recall = if (actual == 0) 1.0 else tp / actual
    val precision = if (predicted == 0) 1.0 else tp / predicted
    check(recall >= 0.98 && precision >= 0.99, f"dup-pair recall $recall%.4f / precision $precision%.4f")
    m("dup_pair_recall") = recall
    m("dup_pair_precision") = precision
  }

  private def truthOf(df: DataFrame): Map[String, Long] =
    df.select(col("clip_id"), col("group_id").cast("long")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  private def clusterRows(df: DataFrame): Array[Row] = df.select("clip_id", "cluster_id").collect()

  /** Per-stage metrics of the traced staged pipeline, per repetition. */
  private def stageMetrics(runs: Seq[Seq[(String, Double, Long)]], stats: Map[String, GroupStats]): Unit = {
    val n = runs.size
    Stages.foreach { st =>
      val g = stats.getOrElse(st, new GroupStats)
      m(s"pipeline.$st.wall_s") = median(runs.map(_.find(_._1 == st).get._2))
      m(s"pipeline.$st.rows_out") = runs.head.find(_._1 == st).get._3.toDouble
      m(s"pipeline.$st.task_s") = g.taskMs / 1e3 / n
      m(s"pipeline.$st.shuffle_write_mb") = g.shuffleWrite / 1048576.0 / n
      m(s"pipeline.$st.shuffle_read_mb") = g.shuffleRead / 1048576.0 / n
      m(s"pipeline.$st.spill_mb") = g.spill / 1048576.0 / n
      m(s"pipeline.$st.task_skew") = g.skew
    }
    m("pipeline.cc.jobs") = stats.get("cc").map(_.jobs.toDouble / n).getOrElse(0.0)
  }

  /** Candidates and verify pass rate per evidence source, and the CC
    * input size and path. */
  private def sourceMetrics(cands: DataFrame, edges: DataFrame): Unit = {
    def bySource(df: DataFrame): Map[String, Long] =
      df.select(explode(col("sources")).as("s")).groupBy("s").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val c = bySource(cands)
    val e = bySource(edges)
    Seq("minhash", "simhash", "audio", "substring").foreach { s =>
      m(s"pipeline.candidates.$s") = c.getOrElse(s, 0L).toDouble
      m(s"pipeline.verify.pass_rate.$s") =
        if (c.getOrElse(s, 0L) == 0) 0.0 else e.getOrElse(s, 0L).toDouble / c(s)
    }
    val nEdges = edges.count()
    m("pipeline.cc.edges") = nEdges.toDouble
    m("pipeline.cc.local_finish") = if (nEdges <= ConnectedComponents.DefaultLocalEdgeThreshold) 1.0 else 0.0
  }

  /** io.* metrics of one runCheckpointed on a fresh root, after warm-up;
    * its clusters must have the digest `expect`. */
  private def ioMetrics(clips: DataFrame, cfg: DedupConfig, expect: String): Unit = {
    val root = s"$scratch/tables/io"
    check(Digest.of(checkpointed(clips, cfg, root)) == expect,
      "clusters checkpointed on a fresh root differ from the first run")
    m("io.fingerprint_s") = tr.span("io.fingerprint")(graft.io.TableIO.inputFingerprint(clips))._2
    val commitMs = new graft.io.TableIO(spark, root).lineage()
      .groupBy("stage", "snapshot").agg(max("wall_ms").as("ms"))
      .agg(sum("ms")).head().getLong(0)
    m("io.commit_s") = commitMs / 1e3
    m("io.commit_mb") = Seq("signatures", "candidates", "edges", "clusters")
      .map(s => du(new File(s"$root/$s"))).sum / 1048576.0
  }

  /** Single-thread kernel rates over the first 500 clips of `clips`
    * (audio: the first 100 that carry any). */
  private def kernelRates(clips: DataFrame): Unit = {
    val sample = clips.select("transcript", "bytes", "codec", "sr_hz").limit(500).collect()
    m ++= Kernels.measure(sample.map(r => Option(r.getString(0)).getOrElse("")),
      sample.filter(r => Option(r.getAs[Array[Byte]](1)).exists(_.nonEmpty)).take(100)
        .map(r => (r.getAs[Array[Byte]](1), r.getString(2), r.getInt(3))))
  }

  private def checkpointed(clips: DataFrame, cfg: DedupConfig, root: String): Array[Row] =
    clusterRows(Dedup.runCheckpointed(spark, clips, cfg, root))

  /** dedup_multimodal. Each repetition runs Dedup.run, parquet in ->
    * clusters parquet out; after them, Dedup.runCheckpointed restarts on a
    * root written during warm-up. Traced runs instead call the four
    * stages separately (stagedPipeline), alternating with the same staged
    * pipeline untraced, so the tracing overhead compares equal work. */
  private def dedupMultimodal(): Unit = {
    val cfg = DedupConfig()
    setup {
      val (clips, truth) = graft.gen.ClipGen.generate(spark, 2000, seed = a.seed, numPartitions = 16)
      clips.toDF().write.mode("overwrite").parquet(input)
      truth.write.mode("overwrite").parquet(s"$input-truth")
    }
    phase("set-up done")
    def clips() = spark.read.parquet(input)
    val inputBytes = logicalBytes(clips())
    if (!diskGate(inputBytes * 40 + (1L << 30))) return
    val rows = clips().count()
    val truth = truthOf(spark.read.parquet(s"$input-truth"))
    val root = s"$scratch/tables/shared"
    def op(): Unit = Dedup.run(spark, clips(), cfg).write.mode("overwrite").parquet(out)
    // warm-up at full size (codegen, JIT, page cache), traced runs too; it
    // also writes the root the restarts read
    val first = checkpointed(clips(), cfg, root)
    check(Digest.of(first) == Digest.of(checkpointed(clips(), cfg, root)),
      "resumed clusters differ from the first checkpointed run")
    val reference = Digest.of(first)
    // the first repetitions after one pipeline run were still ~40% slower
    // (JIT); two more untimed operations come close to the steady state
    (1 to 2).foreach(_ => op())
    phase("warm-up done")
    val reps = new Reps
    val digests = mutable.ArrayBuffer.empty[String]
    var last: Array[Row] = first
    if (a.trace) {
      val plain = new Reps
      val runs = mutable.ArrayBuffer.empty[Seq[(String, Double, Long)]]
      val stats = mutable.Map.empty[String, GroupStats]
      var held: Seq[DataFrame] = Nil
      def traced(): Unit = {
        held.foreach(_.unpersist())
        val (stages, c, e) = reps(stagedPipeline(spark, tr, clips(), cfg, out))
        Stages.foreach(st => stats.getOrElseUpdate(st, new GroupStats)
          .add(reps.lastGroups.getOrElse(s"pipeline.$st", new GroupStats)))
        runs += stages
        held = Seq(c, e)
        last = clusterRows(spark.read.parquet(out))
        digests += Digest.of(last)
      }
      def untraced(into: Option[Reps]): Unit = {
        tr.on = false
        def run() = stagedPipeline(spark, tr, clips(), cfg, s"$out-plain")
        val (_, c, e) = into.fold(run())(r => r(run()))
        tr.on = true
        c.unpersist(); e.unpersist()
      }
      // the staged pipeline's persist and checkpoint plans are not among
      // the warm-up's: one more untimed run
      untraced(None)
      // ABBA order: neither side always runs first
      reps.until(a.seconds) { traced(); untraced(Some(plain)); untraced(Some(plain)); traced() }
      stageMetrics(runs.toSeq, stats.toMap)
      sourceMetrics(held(0), held(1))
      m("pipeline.cc.components") = last.groupBy(_.getString(1)).count(_._2.length > 1).toDouble
      held.foreach(_.unpersist())
      m("trace.overhead_frac") = median(reps.wall.toSeq) / median(plain.wall.toSeq) - 1
      m("rep_untraced_wall_s") = plain.wall.toSeq
      ioMetrics(clips(), cfg, reference)
      kernelRates(clips())
    } else {
      reps.until(a.seconds) {
        reps(op())
        last = clusterRows(spark.read.parquet(out))
        digests += Digest.of(last)
      }
      val resume = restarts(clips(), root, reference)
      val wall = median(reps.wall.toSeq)
      val res = median(resume)
      m("clips_per_s") = rows / wall
      m("resume_s") = res
      m("resume_samples_s") = resume
      // the workload's operation list is [dedup, restart]: suite_s and
      // query_geomean_s follow from the two medians above
      m("suite_s") = wall + res
      m("query_geomean_s") = math.sqrt(wall * res)
    }
    phase("measured")
    digests.zipWithIndex.foreach { case (d, i) =>
      check(d == reference, s"clusters of repetition $i differ from the checkpointed run's")
    }
    pairQuality(last, truth)
    reps.report(inputBytes)
    m("rows") = rows
  }

  /** sketch_queries: the 34 headline leaves of graft.Bench, one at a
    * time in a seeded order; every result digest is checked against the
    * digest recorded from the DuckDB replay of SparkEntry.oracleSql. */
  private def sketchQueries(): Unit = {
    val expected = Expected.load(a("expected"))
    val dir = s"$scratch/tables/sf"
    setup(QueryTables.write(spark, dir))
    if (!diskGate(1L << 30)) return
    phase("set-up done")
    val inputBytes = QueryTables.Names.map(t => logicalBytes(spark.read.parquet(s"$dir/$t.parquet"))).sum
    val leaves = graft.Bench.headline
    val order = rand.shuffle(leaves)
    // the pipeline leaves' clips table, which SparkEntry caches per session
    val clipsInput = graft.SparkEntry.clipsInput(spark, dir)
    val nClips = clipsInput.count()
    // SparkEntry.clipsInput generates twice the documents count
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count().toInt
    // warm-up, not timed, eight tasks at a time (cold, one leaf at a time
    // took 41 s and four at a time 24 s): every leaf once (codegen and
    // JIT per plan shape, page cache), the checkpointed run whose root the
    // restarts read plus one restart, and the planted truth of the
    // pipeline leaves' input
    val qRoot = s"$scratch/tables/q"
    var checkpointedDigest = ""
    var truth = Map.empty[String, Long]
    inParallel(leaves.map(q => () => graft.SparkEntry.queries(q)(spark, dir).collect()) ++ Seq(
      () => {
        checkpointedDigest = Digest.of(checkpointed(clipsInput, DedupConfig(), qRoot))
        checkpointed(clipsInput, DedupConfig(), qRoot) // warms the restart path
      },
      () => { truth = truthOf(graft.gen.ClipGen.generate(spark, nDocs * 2, seed = 42L)._2) }))(_())
    phase("warm-up done")
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    var pipelineRows: Array[Row] = Array.empty
    def leaf(q: String): Double = {
      val (rows, t) = tr.span(s"query.$q")(graft.SparkEntry.queries(q)(spark, dir).collect())
      if (q == "q_pipeline_clusters") pipelineRows = rows
      val d = Digest.of(rows)
      check(expected.get(q).contains(d), s"$q digest ${d.take(12)} != expected ${expected.getOrElse(q, "none").take(12)}")
      t
    }
    def record(q: String, t: Double): Unit = lat.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += t
    val reps = new Reps
    var untracedS = 0.0
    if (!a.trace) reps.until(a.seconds)(reps(order.foreach(q => record(q, leaf(q)))))
    // traced runs run each leaf traced and untraced back to back, which one
    // first alternating from leaf to leaf, so both sides of the tracing
    // overhead see the same JIT state (a second pass ran ~15% faster)
    else reps.until(a.seconds)(reps(order.zipWithIndex.foreach { case (q, i) =>
      def untraced(): Unit = { tr.on = false; untracedS += leaf(q); tr.on = true }
      if (i % 2 == 0) { record(q, leaf(q)); untraced() } else { untraced(); record(q, leaf(q)) }
    }))
    phase("measured")
    reps.report(inputBytes)
    pairQuality(pipelineRows, truth)
    check(checkpointedDigest == Digest.of(pipelineRows), "checkpointed clusters differ from q_pipeline_clusters")
    val res = restarts(clipsInput, qRoot, checkpointedDigest)
    val medians = leaves.map(q => median(lat(q).toSeq))
    val pipelineLeaves = leaves.filter(_.startsWith("q_pipeline_"))
    m("clips_per_s") = nClips * pipelineLeaves.size / pipelineLeaves.map(q => median(lat(q).toSeq)).sum
    m("resume_s") = median(res)
    m("resume_samples_s") = res
    m("suite_s") = median(reps.wall.toSeq)
    m("query_geomean_s") = math.exp(medians.map(math.log).sum / medians.size)
    if (a.trace) {
      leaves.zip(medians).foreach { case (q, t) => m(s"query.${q}_s") = t }
      // jobs of the traced leaves; the untraced ones ran outside any group
      m("query.jobs") = reps.lastGroups.collect { case (g, st) if g.startsWith("query.") => st.jobs }.sum
      m("trace.overhead_frac") = lat.values.map(_.sum).sum / untracedS - 1
      ioMetrics(clipsInput, DedupConfig(), checkpointedDigest)
      kernelRates(clipsInput)
    }
    m("rows") = nClips
  }

  /** Three restarts of a checkpointed run on `root`; each must return
    * clusters whose digest is `expect`. Returns their walls. */
  private def restarts(clips: DataFrame, root: String, expect: String): Seq[Double] =
    (1 to 3).map { i =>
      val (d, t) = tr.span("dedup.resume")(Digest.of(checkpointed(clips, DedupConfig(), root)))
      check(d == expect, s"resumed clusters (restart $i) differ from the first run")
      t
    }

  def run(): Unit = {
    m("host.probe_before_mops") = probeBefore.get()
    phase("host probe done")
    a.workload match {
      case "dedup_multimodal" => dedupMultimodal()
      case "sketch_queries" => sketchQueries()
      case w => sys.error(s"unknown workload $w")
    }
    phase("workload done")
    val probeAfter = probe()
    spark.stop()
    m("host.probe_after_mops") = probeAfter.get()
    emit(Map(
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "metrics" -> m.toMap,
      "spans" -> tr.spanList.groupBy(_.name).map { case (k, v) =>
        k -> Map("n" -> v.size, "total_s" -> v.map(s => (s.endNs - s.startNs) / 1e9).sum)
      }))
  }
}

/** Expected digests, one `name digest` pair per line. */
object Expected {
  def load(path: String): Map[String, String] =
    scala.io.Source.fromFile(path).getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+"); k -> v }.toMap
}
