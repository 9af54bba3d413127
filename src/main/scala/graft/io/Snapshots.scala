package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import java.nio.charset.StandardCharsets

/** Stage-boundary snapshot checkpoints with a lineage manifest.
  *
  * The north rule asks for resumability from table-format snapshot
  * checkpoints with per-partition lineage and metrics. No Iceberg
  * runtime jar exists in this sandbox (verified: /opt/spark/jars has
  * Parquet/Avro only — SURVEY §7.1), so snapshots are Parquet dirs plus
  * a JSON manifest recording: snapshot id (content-derived), row count,
  * per-file row counts (lineage), and schema, plus the exact Spark
  * schema (`_SCHEMA.json`) that resumes read back. `resumeOrCompute`
  * gives each pipeline stage restart-into-the-middle semantics — the
  * Spark-batch analogue of the reference's dump/merge shard files
  * (`/root/reference/anonlink/serialization.py:182-338`).
  *
  * All filesystem access (manifest included) goes through the Hadoop
  * `FileSystem` resolved from the directory's scheme, so hdfs:// and
  * s3a:// checkpoint dirs work the same as local paths — a
  * driver-local `java.nio.Files` write would silently break them.
  */
object Snapshots {

  private def fsFor(dir: String, spark: SparkSession): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Stage directory name: the stage name plus a content key hash, so a
    * re-run with different parameters gets a different snapshot dir and
    * cannot silently resume from a stale one. */
  def stageDir(base: String, stage: String, contentKey: String): String =
    if (contentKey.isEmpty) s"$base/$stage"
    else s"$base/$stage-" +
      java.lang.Long.toHexString(graft.core.Hashing.str(contentKey, 0x57a6eL))

  def exists(dir: String, spark: SparkSession = SparkSession.active): Boolean = {
    val (fs, p) = fsFor(dir, spark)
    fs.exists(new Path(p, "_MANIFEST.json")) && fs.exists(new Path(p, "_SUCCESS"))
  }

  /** Write `df` as a snapshot under `dir` and return a re-read of it
    * (so downstream stages read from stable storage, truncating
    * lineage like `Dataset.checkpoint`).
    *
    * The write is the only Spark job: the manifest's per-file row
    * counts come from the Parquet footers of the files just committed
    * (driver-side metadata reads, no data scan), and the re-read takes
    * the schema that was just written instead of inferring it. */
  def write(df: DataFrame, dir: String): DataFrame = {
    val spark = df.sparkSession
    df.write.mode("overwrite").parquet(dir)
    val (fs, p) = fsFor(dir, spark)
    val conf = spark.sparkContext.hadoopConfiguration
    // per-file lineage: rows in each committed data file (the same
    // hidden-file rule Spark's file index applies to `_`/`.` names)
    val fileRows = fs.listStatus(p)
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))
      .sortBy(_.getPath.getName)
      .map { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try st.getPath.getName -> reader.getRecordCount finally reader.close()
      }
    val rowCount = fileRows.map(_._2).sum
    val snapshotId = java.lang.Long.toHexString(
      graft.core.Hashing.str(dir + ":" + rowCount + ":" + df.schema.treeString, 0x5aa9L))
    val parts = fileRows.map { case (f, c) => s"""{"file":"$f","rows":$c}""" }
      .mkString("[", ",", "]")
    val schemaJson = df.schema.fields.map(f =>
      s""""${f.name}":"${f.dataType.simpleString}"""").mkString("{", ",", "}")
    val manifest =
      s"""{"snapshot_id":"$snapshotId","row_count":$rowCount,"partitions":$parts,"schema":$schemaJson}"""
    // the schema before the manifest: exists() keys on the manifest,
    // so a snapshot that counts as complete has its schema recorded
    for ((name, text) <- Seq("_SCHEMA.json" -> df.schema.json, "_MANIFEST.json" -> manifest)) {
      val out = fs.create(new Path(p, name), true)
      try out.write(text.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
    spark.read.schema(df.schema).parquet(dir)
  }

  private def missing(dir: String, what: String, why: String): Nothing =
    throw new IllegalStateException(
      s"no $what for the snapshot under $dir: $why — rerun with a fresh checkpoint dir")

  /** The text of the metadata file `name` of the snapshot under `dir`;
    * fails loudly, naming `what` was wanted, when `dir` holds no
    * complete snapshot or the snapshot has no such file. */
  private def metaFile(dir: String, name: String, what: String, spark: SparkSession): String = {
    if (!exists(dir, spark))
      missing(dir, what, "no complete snapshot (manifest or _SUCCESS missing)")
    val (fs, p) = fsFor(dir, spark)
    val f = new Path(p, name)
    if (!fs.exists(f)) missing(dir, what, s"it has no $name")
    val in = fs.open(f)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
  }

  /** The `row_count` of the snapshot under `dir`, read from its
    * manifest; fails loudly when `dir` holds no complete snapshot. */
  def rowCount(dir: String, spark: SparkSession = SparkSession.active): Long =
    """"row_count":(\d+)""".r.findFirstMatchIn(metaFile(dir, "_MANIFEST.json", "row count", spark))
      .fold(missing(dir, "row count", "the manifest has no row_count"))(_.group(1).toLong)

  /** Re-read the snapshot under `dir` with the schema [[write]] recorded
    * — no inference job; fails loudly when the schema is missing. */
  private def read(dir: String, spark: SparkSession): DataFrame =
    spark.read.schema(DataType.fromJson(metaFile(dir, "_SCHEMA.json", "schema", spark))
      .asInstanceOf[StructType]).parquet(dir)

  /** Round-boundary lineage truncation for ITERATIVE solvers (CC,
    * distributed greedy). `localCheckpoint(eager)` truncates lineage
    * into executor memory — fine at local[N], but on a real cluster one
    * lost executor kills the whole iteration chain, exactly what a
    * 100-TB run cannot afford. With a directory, each round snapshots
    * to stable storage (any Hadoop FS) and recomputation replays from
    * Parquet, not from a dead executor's block store.
    *
    * Round files are kept for the life of the run (the returned
    * DataFrame of the final round READS its snapshot); callers delete
    * the whole dir once results are materialized downstream. A unique
    * per-run subdir prevents two concurrent solvers from colliding. */
  final class RoundCheckpointer(dir: Option[String]) {
    private val runDir = dir.map(d => s"$d/rounds-${java.util.UUID.randomUUID().toString.take(8)}")
    private var n = 0
    def apply(df: DataFrame): DataFrame = runDir match {
      case None => df.localCheckpoint(true)
      case Some(d) =>
        n += 1
        val p = s"$d/r$n"
        df.write.mode("overwrite").parquet(p)
        df.sparkSession.read.schema(df.schema).parquet(p)
    }

    /** Solver epilogue: snapshot the RESULT as the final round, then
      * delete every earlier round dir — the returned DataFrame's
      * lineage bottoms out in the one kept snapshot, so a long-lived
      * checkpoint dir holds exactly one snapshot per solver run
      * instead of growing by O(rounds). No-op passthrough without a
      * dir (the localCheckpoint path has nothing on disk to prune). */
    def finish(df: DataFrame): DataFrame = runDir match {
      case None => df
      case Some(d) =>
        val out = apply(df)
        val last = n
        val fs = new Path(d).getFileSystem(
          df.sparkSession.sparkContext.hadoopConfiguration)
        (1 until last).foreach { i =>
          scala.util.Try(fs.delete(new Path(s"$d/r$i"), true))
        }
        out
    }
  }

  /** Resume from an existing snapshot, or compute + snapshot it.
    * This is the checkpoint-resume entry point: a re-run of the
    * pipeline with the same checkpointDir AND the same `contentKey`
    * (hash of the stage's parameters) skips completed stages; changed
    * parameters land in a fresh stage dir instead of silently reusing
    * stale results. */
  def resumeOrCompute(spark: SparkSession, dir: Option[String], stage: String,
      contentKey: String = "")(compute: => DataFrame): DataFrame =
    dir match {
      case None => compute
      case Some(d) =>
        val sd = stageDir(d, stage, contentKey)
        if (exists(sd, spark)) read(sd, spark)
        else write(compute, sd)
    }
}
