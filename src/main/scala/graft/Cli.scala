package graft

import graft.functions._
import graft.pipeline.{Dedup, DedupConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit entrypoint: run the dedup pipeline over any parquet table
  * with the north-star input schema (clip_id, bytes, sr_hz, dur_ms, codec,
  * transcript) — or the reference's line-stream sketch modes — without
  * writing Scala.
  *
  * Usage (spark-submit --class graft.Cli <jar|classes> ...):
  *   ingest --out DIR [--n N] [--seed S]      write a synthetic clips table
  *   dedup  --input DIR --output DIR          cluster; add --checkpoint DIR
  *          [--checkpoint DIR] [--tau T]      for a resumable run
  *          [--bands B] [--rows R] [--shingle-k K]
  *   resume --input DIR --output DIR --checkpoint DIR
  *                                            alias of dedup (resume is
  *                                            automatic: published stage
  *                                            snapshots keyed by config +
  *                                            input fingerprint are reused)
  *   sketch --input FILE [--key true] [--raw true] [--merge true] [--hh K]
  *                                            the reference CLI's modes
  *                                            (dsrs [--key] [--raw]
  *                                            [--merge] [--hh k],
  *                                            /root/reference/src/main.rs:30-45)
  *                                            over a text file: distinct
  *                                            count / keyed distinct /
  *                                            serialized-partial emit /
  *                                            partial merge / top-k heavy
  *                                            hitters, printed to stdout
  *
  * Under spark-submit the cluster manager supplies the master; running
  * from sbt falls back to local[*].
  */
object Cli {

  /** The reference CLI's sketch modes over a one-string-column frame of
    * lines (already newline-stripped, spark.read.text semantics). Returns
    * the stdout lines in order. Mirrors /root/reference/src/main.rs:
    *  - plain:            rounded distinct-count estimate
    *  - --key:            `key est` per key; line = key ' ' value, split
    *                      at the FIRST space (counters.rs:60-66); a line
    *                      with no space is an error, like the reference
    *  - --raw:            base64(no-pad) serialized sketch instead of the
    *                      estimate (`key b64` per key when keyed) — the
    *                      partial-aggregate checkpoint (main.rs:115-120)
    *  - --merge:          input lines ARE serialized partials (keyed:
    *                      `key b64`); merge them (main.rs:103-116);
    *                      combine with --raw to re-emit the merged partial
    *  - --hh k:           top-k most frequent lines, `item est lb ub`,
    *                      estimate-descending (counters.rs:188-195)
    * Estimates are exact below the sketch's nominal k (65536), matching
    * the reference's CLI behavior at small inputs within rounding. */
  def sketchRun(lines: DataFrame, keyed: Boolean, raw: Boolean,
      merge: Boolean, hh: Option[Int]): Seq[String] = {
    val v = col("value")
    val out: DataFrame = hh match {
      case Some(k) =>
        lines.agg(freq_items(v, k).as("hh"))
          .select(explode(col("hh")).as("r"))
          .select(concat_ws(" ", col("r.item"), col("r.est"), col("r.lb"), col("r.ub")).as("out"))
      case None =>
        if (!keyed) {
          lazy val in = lines.select(sketch_from_b64(v).as("sk"))
          (merge, raw) match {
            case (false, false) => lines.agg(kmv_est(v, 65536).cast("long").cast("string").as("out"))
            case (false, true) => lines.agg(sketch_to_b64(kmv_sketch(v, 65536)).as("out"))
            case (true, false) => in.agg(kmv_merge_est(col("sk")).cast("long").cast("string").as("out"))
            case (true, true) => in.agg(sketch_to_b64(kmv_merge(col("sk"))).as("out"))
          }
        } else {
          // first-space split; the space is REQUIRED, as in the reference
          val nBad = lines.where(!v.contains(" ")).count()
          require(nBad == 0, s"--key: $nBad line(s) without a ' ' separator")
          val kv = lines.select(
            substring_index(v, " ", 1).as("k"),
            expr("substring(value, length(substring_index(value, ' ', 1)) + 2)").as("v"))
          val agg = (merge, raw) match {
            case (false, false) => kv.groupBy(col("k")).agg(kmv_est(col("v"), 65536).cast("long").as("e"))
            case (false, true) => kv.groupBy(col("k")).agg(sketch_to_b64(kmv_sketch(col("v"), 65536)).as("e"))
            case (true, false) => kv.groupBy(col("k")).agg(kmv_merge_est(sketch_from_b64(col("v"))).cast("long").as("e"))
            case (true, true) => kv.groupBy(col("k")).agg(sketch_to_b64(kmv_merge(sketch_from_b64(col("v")))).as("e"))
          }
          agg.orderBy(col("k")).select(concat_ws(" ", col("k"), col("e")).as("out"))
        }
    }
    out.collect().map(_.getString(0)).toSeq
  }

  private val dedupFlags = Set("input", "output", "checkpoint", "tau", "bands", "rows", "shingle-k")

  /** Each command's flag names; every flag takes a value. */
  private[graft] val commandFlags: Map[String, Set[String]] = Map(
    "ingest" -> Set("out", "n", "seed"),
    "dedup" -> dedupFlags,
    "resume" -> dedupFlags,
    "sketch" -> Set("input", "key", "raw", "merge", "hh"))

  /** `--name value` pairs of `known` names. An unknown name, a flag with
    * no value or a bare switch fails instead of being dropped: a mistyped
    * `--band 16` must not run with the default band count. */
  private[graft] def parseFlags(args: Seq[String], known: Set[String]): Map[String, String] =
    args.grouped(2).map { kv =>
      val name = kv.head.stripPrefix("--")
      require(kv.head.startsWith("--") && known(name), s"unknown flag ${kv.head}; " +
        s"expected one of ${known.toSeq.sorted.map("--" + _).mkString(" ")}")
      require(kv.length == 2 && !kv(1).startsWith("--"), s"flag ${kv.head} needs a value")
      name -> kv(1)
    }.toMap

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val cmd = args.head
    val flags = commandFlags.get(cmd) match {
      case None => System.err.println(s"unknown command: $cmd"); usage(); sys.exit(2)
      case Some(known) =>
        try parseFlags(args.toSeq.tail, known)
        catch { case e: IllegalArgumentException => System.err.println(e.getMessage); usage(); sys.exit(2) }
    }
    val spark = SparkSession.builder()
      .appName(s"graft-$cmd")
      .config("spark.sql.session.timeZone", "UTC")
      .master(sys.props.getOrElse("spark.master",
        sys.env.getOrElse("MASTER", "local[*]")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try cmd match {
      case "ingest" =>
        val out = flags.getOrElse("out", sys.error("ingest needs --out DIR"))
        val n = flags.getOrElse("n", "10000").toInt
        val seed = flags.getOrElse("seed", "42").toLong
        val (clips, truth) = graft.gen.ClipGen.generate(spark, n, seed)
        clips.toDF().write.mode("overwrite").parquet(s"$out/clips")
        truth.write.mode("overwrite").parquet(s"$out/truth")
        System.err.println(s"[cli] wrote ${spark.read.parquet(s"$out/clips").count()} clips to $out/clips")

      case "dedup" | "resume" =>
        val in = flags.getOrElse("input", sys.error(s"$cmd needs --input DIR"))
        val out = flags.getOrElse("output", sys.error(s"$cmd needs --output DIR"))
        val cfg = DedupConfig(
          shingleK = flags.getOrElse("shingle-k", "5").toInt,
          bands = flags.getOrElse("bands", "32").toInt,
          rowsPerBand = flags.getOrElse("rows", "4").toInt,
          tau = flags.getOrElse("tau", "0.8").toDouble)
        val clips = spark.read.parquet(in)
        val required = Seq("clip_id", "bytes", "sr_hz", "dur_ms", "codec", "transcript")
        val missing = required.filterNot(clips.columns.contains)
        require(missing.isEmpty, s"input table missing columns: ${missing.mkString(", ")}")
        val clusters = flags.get("checkpoint") match {
          case Some(ckpt) => Dedup.runCheckpointed(spark, clips, cfg, ckpt)
          case None =>
            if (cmd == "resume") sys.error("resume needs --checkpoint DIR")
            Dedup.run(spark, clips, cfg)
        }
        clusters.write.mode("overwrite").parquet(out)
        val n = spark.read.parquet(out).count()
        System.err.println(s"[cli] wrote $n cluster rows to $out")

      case "sketch" =>
        val in = flags.getOrElse("input", sys.error("sketch needs --input FILE"))
        sketchRun(spark.read.text(in),
          keyed = flags.get("key").exists(_.toBoolean),
          raw = flags.get("raw").exists(_.toBoolean),
          merge = flags.get("merge").exists(_.toBoolean),
          hh = flags.get("hh").map(_.toInt))
          .foreach(println)
    } finally spark.stop()
  }

  private def usage(): Unit = System.err.println(
    """usage: graft.Cli <ingest|dedup|resume|sketch> [flags]
      |  ingest --out DIR [--n N] [--seed S]
      |  dedup  --input DIR --output DIR [--checkpoint DIR] [--tau T] [--bands B] [--rows R] [--shingle-k K]
      |  resume --input DIR --output DIR --checkpoint DIR
      |  sketch --input FILE [--key true] [--raw true] [--merge true] [--hh K]""".stripMargin)
}
