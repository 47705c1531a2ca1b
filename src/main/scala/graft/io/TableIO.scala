package graft.io

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Iceberg-style checkpoint tables: atomic snapshot commit, per-stage
  * lineage rows, resume.
  *
  * No Iceberg runtime jar ships in this container (SURVEY §7.1), so the
  * table layer provides the three Iceberg properties the north rule uses,
  * behind an interface a real catalog could replace:
  *
  *  - ATOMIC COMMIT: data lands in `<root>/<stage>/data-<token>/`, then a
  *    single snapshot file rename under `_snapshots/` publishes it —
  *    readers either see the whole snapshot or none of it. All metadata
  *    goes through the Hadoop FileSystem API, so the checkpoint layer
  *    works on any Spark-supported filesystem (hdfs://, s3a://, local),
  *    not just the driver's local disk;
  *  - LINEAGE: every commit appends per-partition rows (stage,
  *    partition_id, rows_out, wall_ms, config_hash) to `<root>/_lineage/`;
  *  - RESUME: `readOrCompute` keys snapshots by (stage, key) where the
  *    key covers BOTH the config hash and an input fingerprint — a
  *    restarted run reuses any published snapshot with matching config
  *    AND input, and recomputes only what is missing. Same-config runs
  *    against different data can never silently reuse stale snapshots.
  *    This is the table-checkpoint promotion of the reference's
  *    --raw/--merge restartability (/root/reference/src/main.rs:63-76,
  *    SURVEY §1.2).
  *
  * A snapshot file `_snapshots/<stage>-<key>.json` is one JSON object:
  * `stage`, `config_hash` (the snapshot key), `location` (the data
  * directory), `rows`, `wall_ms` and `schema` (the data's Spark schema as
  * read back after the write, in `StructType.json` form). Like Iceberg's
  * table metadata, the schema lets `read` plan the data without opening
  * a data file: reading a snapshot starts no Spark job. Snapshots written
  * before the schema field existed still read, with parquet schema
  * inference (one footer-reading job).
  */
final class TableIO(spark: SparkSession, root: String) {

  private val hconf = spark.sparkContext.hadoopConfiguration
  private def fsFor(p: HPath): FileSystem = p.getFileSystem(hconf)

  private def snapDir = new HPath(s"$root/_snapshots")
  private def lineageDir = s"$root/_lineage"

  private def snapPath(stage: String, key: String) =
    new HPath(snapDir, s"$stage-$key.json")

  def snapshotExists(stage: String, key: String): Boolean = {
    val p = snapPath(stage, key)
    fsFor(p).exists(p)
  }

  def read(stage: String, key: String): DataFrame = {
    val p = snapPath(stage, key)
    val in = fsFor(p).open(p)
    val snap = try TableIO.Json.readTree(in) finally in.close()
    val loc = Option(snap.get("location")).filter(_.isTextual)
      .getOrElse(sys.error(s"corrupt snapshot for $stage")).asText()
    Option(snap.get("schema")) match {
      case Some(schema) =>
        spark.read.schema(DataType.fromJson(schema.toString).asInstanceOf[StructType]).parquet(loc)
      case None => spark.read.parquet(loc) // written before the schema field
    }
  }

  /** Write df as a new snapshot of `stage` and publish it atomically. */
  def commit(stage: String, key: String, df: DataFrame): DataFrame = {
    val t0 = System.nanoTime()
    val token = java.util.UUID.randomUUID().toString.take(8)
    val loc = s"$root/$stage/data-$token"
    df.write.mode("overwrite").parquet(loc)
    val wallMs = (System.nanoTime() - t0) / 1000000
    // per-partition counters in ONE count-only pass over the written
    // parquet (row-group metadata scan, no columns); total rows comes from
    // summing these — never a second full count() pass over the data.
    // The read-back takes the schema just written instead of inferring it
    // (a footer-reading job per commit); a file source makes every field
    // nullable either way, so `out.schema` equals the inferred one.
    val out = spark.read.schema(df.schema).parquet(loc)
    val partRows = out.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("rows_out"))
      .collect()
    val totalRows = partRows.map(_.getLong(1)).sum
    import spark.implicits._
    val lineage = partRows.map(r => (r.getInt(0), r.getLong(1), stage, key, token, wallMs))
      .toSeq.toDF("partition_id", "rows_out", "stage", "config_hash", "snapshot", "wall_ms")
    lineage.write.mode("append").parquet(lineageDir)
    // atomic publish via FileSystem.rename (atomic on HDFS and local FS)
    val dir = snapDir
    val fs = fsFor(dir)
    fs.mkdirs(dir)
    val tmp = new HPath(dir, s".$stage-$key.$token.tmp")
    val snap = TableIO.Json.createObjectNode()
      .put("stage", stage).put("config_hash", key).put("location", loc)
      .put("rows", totalRows).put("wall_ms", wallMs)
    snap.set[ObjectNode]("schema", TableIO.Json.readTree(out.schema.json))
    val os = fs.create(tmp, true)
    try os.write(TableIO.Json.writeValueAsBytes(snap)) finally os.close()
    if (!fs.rename(tmp, snapPath(stage, key)))
      sys.error(s"failed to publish snapshot for $stage (concurrent writer?)")
    out
  }

  /** Resume seam: reuse a published snapshot or compute + commit one. */
  def readOrCompute(stage: String, key: String)(compute: => DataFrame): DataFrame =
    if (snapshotExists(stage, key)) read(stage, key)
    else commit(stage, key, compute)

  def lineage(): DataFrame = spark.read.parquet(lineageDir)
}

object TableIO {
  private val Json = new ObjectMapper()

  /** Stage-table layout version. Part of every snapshot key: bump it when
    * any stage's output schema changes, so a checkpoint root written by a
    * previous build is recomputed instead of served with a stale layout
    * (a round-2 signatures snapshot without the carried sh/afp columns
    * would otherwise break verify() on resume). */
  val LayoutVersion = "v5" // v5: signature hash arrays sorted (merge-walk
                           // intersection); v4: candidates keyed by 64-bit sids

  /** The resume key of a Dedup run: layout version + config hash + input
    * fingerprint. A restarted run reuses snapshots only when the snapshot
    * SCHEMA (LayoutVersion), the shingle/signature config AND the input
    * table all match. */
  def snapshotKey(cfg: Product, input: DataFrame): String =
    s"$LayoutVersion-${configHash(cfg)}-${inputFingerprint(input)}"

  /** Stable config hash: pins results to the exact shingle/signature
    * config, like the reference pins lg_k/seed at compile time. */
  def configHash(cfg: Product): String = {
    val s = cfg.productIterator.mkString("|")
    f"${graft.sketch.Murmur3x64.hash64(s.getBytes("UTF-8"), 9001L)}%016x"
  }

  /** Order-independent fingerprint of an input table: row count + xor of
    * per-row hashes over every column — binary columns contribute their
    * LENGTH (hashing raw audio payloads would double the scan cost; a
    * content change confined to same-length bytes with identical metadata
    * and transcript is not distinguished — swap in a catalog snapshot id
    * for that guarantee). Folding this into the snapshot key means a
    * checkpoint root can never serve results computed from DIFFERENT
    * input data (same config, new input -> new key). */
  def inputFingerprint(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.BinaryType => length(col(f.name)).cast("long")
        case _ => col(f.name)
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), expr("bit_xor(h)")).head()
    val n = r.getLong(0)
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    f"$n%x${x}%016x"
  }
}
