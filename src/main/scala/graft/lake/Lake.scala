package graft.lake

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.ParquetFileWriter.Mode
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.MessageTypeParser
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.charset.StandardCharsets
import java.net.URI

/**
 * Iceberg-style table layer over Parquet: versioned snapshots with an atomic
 * pointer file, per-file lineage + metrics, resume-from-checkpoint and
 * TIME TRAVEL (north rule: "every stage persists per-partition lineage +
 * metrics ... so runs resume from checkpoint"). No Iceberg runtime jar ships
 * offline (BASELINE.md note), so the manifest is a small self-written JSON.
 *
 * Layout under `root/<stage>/`:
 *   data-v<N>/        parquet files of snapshot N (immutable once committed)
 *   lineage-v<N>/     one parquet file: one row per written data file of
 *                     snapshot N (`file`, `bytes`, `rows`, `stage`), zero-row
 *                     files included; `file` is the URL-encoded path that
 *                     `_metadata.file_path` reports for that file
 *   manifest.json     CURRENT-snapshot pointer (written last, atomic rename
 *                     => a crash mid-write never leaves a readable-but-
 *                     uncommitted stage); its rows/files/bytes are the
 *                     lineage sums
 *   snapshots.jsonl   append-only snapshot log (one JSON line per commit) —
 *                     old snapshots stay readable: `readSnapshot(root,
 *                     stage, version)` time-travels.
 *
 * Lineage comes from the writer, as Iceberg's manifest writer records file
 * stats: the committing driver lists the snapshot's data files and reads
 * each file's row count from its Parquet footer, then writes the lineage
 * file itself. A commit therefore runs one Spark job, the data write.
 *
 * The reference has no retry/resume (failure anywhere = exception, SURVEY
 * §3.3); this layer adds it: `stage(...)` recomputes only stages whose
 * manifest is missing, and `invalidate` + recompute creates snapshot N+1
 * while N remains queryable.
 */
object Lake {

  private def manifestPath(root: String, stage: String) = Paths.get(root, stage, "manifest.json")
  private def snapshotsPath(root: String, stage: String) = Paths.get(root, stage, "snapshots.jsonl")

  def isCommitted(root: String, stage: String): Boolean =
    Files.exists(manifestPath(root, stage))

  private def field(json: String, name: String): Option[String] =
    ("\"" + name + "\":\"?([^\",}]+)\"?").r.findFirstMatchIn(json).map(_.group(1))

  /** Current committed snapshot version of a stage (requires a manifest);
    * None for a LEGACY manifest written before the snapshot layout (no
    * version field) — its data lives under `data/`, not `data-v<N>/`. */
  def currentVersionOpt(root: String, stage: String): Option[Int] = {
    val m = new String(Files.readAllBytes(manifestPath(root, stage)), StandardCharsets.UTF_8)
    field(m, "version").map(_.toInt)
  }
  def currentVersion(root: String, stage: String): Int =
    currentVersionOpt(root, stage).getOrElse(1)

  def read(spark: SparkSession, root: String, stage: String): DataFrame =
    currentVersionOpt(root, stage) match {
      case Some(v) => readSnapshot(spark, root, stage, v)
      case None    => spark.read.parquet(s"$root/$stage/data") // legacy pre-snapshot layout stays readable + resumable
    }

  /** Time travel: read snapshot `version` of a stage (immutable history). */
  def readSnapshot(spark: SparkSession, root: String, stage: String, version: Int): DataFrame =
    spark.read.parquet(s"$root/$stage/data-v$version")

  def readLineage(spark: SparkSession, root: String, stage: String): DataFrame =
    currentVersionOpt(root, stage) match {
      case Some(v) => spark.read.parquet(s"$root/$stage/lineage-v$v")
      case None    => spark.read.parquet(s"$root/$stage/lineage") // legacy layout
    }

  /** All committed snapshots of a stage: (version, rows, committedAtMs). */
  def snapshots(root: String, stage: String): Seq[(Int, Long, Long)] = {
    val p = snapshotsPath(root, stage)
    if (!Files.exists(p)) return Seq.empty
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n").filter(_.nonEmpty).toSeq
      .flatMap { line =>
        for {
          v <- field(line, "version"); r <- field(line, "rows")
          t <- field(line, "committedAtMs")
        } yield (v.toInt, r.toLong, t.toLong)
      }
  }

  private val lineageSchema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary file (STRING);
      |  required int64 bytes;
      |  required int64 rows;
      |  required binary stage (STRING);
      |}""".stripMargin)

  /** A file's path as `_metadata.file_path` reports it: URL-encoded, and
    * `file:/…` rather than the `file:///…` of a local listing's `toUri`. */
  private def filePath(p: Path): String = {
    val u = p.toUri
    new URI(u.getScheme, Option(u.getAuthority).filter(_.nonEmpty).orNull, u.getPath, null, null).toString
  }

  /** Writes the one-file lineage of a snapshot from its data files' listing
    * and footers (Spark's hidden `_`/`.` files skipped) and returns the
    * manifest sums (rows, files, bytes). */
  private def writeLineage(spark: SparkSession, dataPath: String, lineageDir: String,
                           name: String): (Long, Int, Long) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val listing = new Path(dataPath).getFileSystem(conf).listFiles(new Path(dataPath), true)
    val files = Iterator.continually(listing).takeWhile(_.hasNext).map(_.next())
      .filterNot(st => st.getPath.getName.startsWith("_") || st.getPath.getName.startsWith("."))
      .toSeq
    val rows = files.map { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try r.getRecordCount finally r.close()
    }
    val dir = new Path(lineageDir)
    dir.getFileSystem(conf).delete(dir, true)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(dir, "part-00000.parquet"), conf))
      .withType(lineageSchema).withConf(conf).withWriteMode(Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(lineageSchema)
    try files.zip(rows).foreach { case (st, n) =>
      w.write(groups.newGroup().append("file", filePath(st.getPath))
        .append("bytes", st.getLen).append("rows", n).append("stage", name))
    } finally w.close()
    (rows.sum, files.length, files.map(_.getLen).sum)
  }

  /** Commits a snapshot with one Spark job (the data write): lineage comes
    * from the written files' footers, and the read-back takes the computed
    * data schema, so it needs no inference job. */
  private def commitStage(spark: SparkSession, root: String, name: String,
                          partitionCols: Seq[String])(compute: => DataFrame): DataFrame = {
    if (isCommitted(root, name)) return read(spark, root, name)
    val version = snapshots(root, name).map(_._1).maxOption.getOrElse(0) + 1
    val dataPath = s"$root/$name/data-v$version"
    val df = compute
    val writer = df.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*) else writer)
      .parquet(dataPath)
    val (rows, files, bytes) = writeLineage(spark, dataPath, s"$root/$name/lineage-v$version", name)
    val m = s"""{"stage":"$name","version":$version,"rows":$rows,"files":$files,"bytes":$bytes,""" +
      s""""committedAtMs":${System.currentTimeMillis()}}"""
    // snapshot log first (append), then the pointer (atomic rename = commit)
    Files.write(snapshotsPath(root, name), (m + "\n").getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    val tmp = Paths.get(root, name, ".manifest.json.tmp")
    Files.createDirectories(tmp.getParent)
    Files.write(tmp, m.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, manifestPath(root, name), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    // partition columns stay out of the given schema: their types are then
    // inferred from the directory names, as a later `read` infers them
    spark.read.schema(StructType(df.schema.filterNot(f => partitionCols.contains(f.name))))
      .parquet(dataPath)
  }

  /**
   * Compute-or-resume a stage: if a committed manifest exists, read it back
   * (resume); otherwise run `compute`, persist data + per-file lineage as a
   * NEW snapshot, then commit the manifest atomically.
   */
  def stage(spark: SparkSession, root: String, name: String)(compute: => DataFrame): DataFrame =
    commitStage(spark, root, name, Seq.empty)(compute)

  /**
   * Compute-or-resume a PARTITIONED stage: like `stage`, but the data lands
   * hive-partitioned by `partitionCols` (the SURVEY §4 layout: coarse
   * cell-prefix + time bucket), so downstream filters on those columns prune
   * at the file listing level — the Iceberg-style partition pruning the
   * north rule's 10^12-row table needs.
   */
  def stagePartitioned(spark: SparkSession, root: String, name: String,
                       partitionCols: Seq[String])(compute: => DataFrame): DataFrame =
    commitStage(spark, root, name, partitionCols)(compute)

  /** Drop a stage's commit marker so the next run recomputes it (as a new
    * snapshot; prior snapshots stay readable via readSnapshot). */
  def invalidate(root: String, stage: String): Unit = {
    val p = manifestPath(root, stage)
    if (Files.exists(p)) Files.delete(p)
  }
}
