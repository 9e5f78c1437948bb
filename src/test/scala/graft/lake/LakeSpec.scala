package graft.lake

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.SparkTestBase
import graft.index.CellGrid
import graft.operators.SpatialJoin
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

class LakeSpec extends SparkTestBase {

  test("stage computes, commits manifest + lineage, and resumes without recompute") {
    import spark.implicits._
    val root = Files.createTempDirectory("lake").toString
    var computeCount = 0
    def compute = { computeCount += 1; spark.range(100).toDF("v") }
    val first = Lake.stage(spark, root, "s1")(compute)
    assert(first.count() == 100 && computeCount == 1)
    assert(Lake.isCommitted(root, "s1"))
    // resume: no recompute
    val again = Lake.stage(spark, root, "s1")(compute)
    assert(again.count() == 100 && computeCount == 1)
    // lineage has per-file rows summing to the table count
    val lin = Lake.readLineage(spark, root, "s1")
    assert(lin.agg(sum("rows")).head().getLong(0) == 100)
    assert(lin.columns.toSet == Set("file", "bytes", "rows", "stage"))
    // invalidate forces recompute
    Lake.invalidate(root, "s1")
    Lake.stage(spark, root, "s1")(compute)
    assert(computeCount == 2)
  }

  test("legacy pre-snapshot stage (data/, versionless manifest) stays readable + resumable") {
    import spark.implicits._
    val root = Files.createTempDirectory("lake-legacy").toString
    // hand-build the old layout: data/ + lineage/ parquet, manifest WITHOUT a version field
    spark.range(42).toDF("v").write.parquet(s"$root/old/data")
    spark.range(1).select(lit("f").as("file"), lit(10L).as("bytes"),
      lit(42L).as("rows"), lit("old").as("stage")).write.parquet(s"$root/old/lineage")
    Files.write(java.nio.file.Paths.get(root, "old", "manifest.json"),
      """{"stage":"old","rows":42,"files":1,"bytes":10}""".getBytes)
    assert(Lake.read(spark, root, "old").count() == 42)
    assert(Lake.readLineage(spark, root, "old").count() == 1)
    // stage() resumes (reads back) instead of throwing on data-v1
    var computed = false
    val df = Lake.stage(spark, root, "old") { computed = true; spark.range(1).toDF("v") }
    assert(df.count() == 42 && !computed)
  }

  test("snapshots: recompute creates a new version; old snapshots time-travel") {
    import spark.implicits._
    val root = Files.createTempDirectory("lake-tt").toString
    var n = 100
    def compute = spark.range(n).toDF("v")
    Lake.stage(spark, root, "s")(compute)
    assert(Lake.currentVersion(root, "s") == 1)
    n = 250
    Lake.invalidate(root, "s")
    val v2 = Lake.stage(spark, root, "s")(compute)
    assert(Lake.currentVersion(root, "s") == 2 && v2.count() == 250)
    // time travel: snapshot 1 still readable with its original contents
    assert(Lake.readSnapshot(spark, root, "s", 1).count() == 100)
    assert(Lake.read(spark, root, "s").count() == 250)
    val snaps = Lake.snapshots(root, "s")
    assert(snaps.map(s => (s._1, s._2)) == Seq((1, 100L), (2, 250L)))
    // lineage follows the current snapshot
    assert(Lake.readLineage(spark, root, "s").agg(sum("rows")).head().getLong(0) == 250)
  }

  private def manifestStats(root: String, stage: String): (Long, Long, Long) = {
    val m = new String(Files.readAllBytes(Paths.get(root, stage, "manifest.json")), StandardCharsets.UTF_8)
    def f(n: String) = ("\"" + n + "\":(\\d+)").r.findFirstMatchIn(m).get.group(1).toLong
    (f("rows"), f("files"), f("bytes"))
  }

  /** Lineage (file, rows, bytes) must equal the data's own per-file view,
    * and the manifest stats must equal the lineage sums. */
  private def assertLineageMatchesData(root: String, stage: String): Seq[(String, Long, Long)] = {
    val lin = Lake.readLineage(spark, root, stage).select("file", "rows", "bytes").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val data = Lake.read(spark, root, stage)
      .groupBy(col("_metadata.file_path"), col("_metadata.file_size"))
      .agg(count(lit(1))).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(1))).toSeq.sorted
    assert(lin.filter(_._2 > 0) == data)
    assert(manifestStats(root, stage) == ((lin.map(_._2).sum, lin.length.toLong, lin.map(_._3).sum)))
    assert(Lake.readLineage(spark, root, stage).where(col("stage") =!= stage).isEmpty)
    lin
  }

  test("lineage equals each data file's _metadata path, row count and size") {
    val root = Files.createTempDirectory("lake-lineage").toString
    Lake.stage(spark, root, "plain")(spark.range(0, 1000, 1, 4).toDF("v"))
    val plain = assertLineageMatchesData(root, "plain")
    assert(plain.length == 4 && plain.forall(_._2 > 0) && plain.map(_._2).sum == 1000)

    Lake.stagePartitioned(spark, root, "parts", Seq("p")) {
      spark.range(0, 100, 1, 2).select(col("id").as("v"),
        when(col("id") % 2 === 0, lit("a b")).otherwise(lit("c%d")).as("p"))
    }
    val parts = assertLineageMatchesData(root, "parts")
    assert(parts.exists(_._1.contains("/p=a%20b/")), parts)
    assert(parts.length == 4 && parts.forall(_._2 > 0) && parts.map(_._2).sum == 100)
  }

  private def parquetFilesIn(dir: String): Int = {
    val walk = Files.walk(Paths.get(dir))
    try walk.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }.count().toInt finally walk.close()
  }

  test("a zero-row stage commits rows 0 and lists every written file with 0 rows") {
    val root = Files.createTempDirectory("lake-empty").toString
    val df = Lake.stage(spark, root, "none")(spark.range(0, 100, 1, 4).toDF("v").where(col("v") < 0))
    assert(df.isEmpty)
    val lin = assertLineageMatchesData(root, "none")
    val written = parquetFilesIn(s"$root/none/data-v1")
    assert(written > 0 && lin.length == written && lin.forall(_._2 == 0))
    assert(manifestStats(root, "none")._1 == 0)
    assert(Lake.snapshots(root, "none").map(_._2) == Seq(0L))
  }

  /** Spark jobs `body` launches, counted by job group. A sentinel job in its
    * own group marks the end: the listener bus delivers events in order. */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"lake-jobs-${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val sentinelSeen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")).foreach {
          case `group` => jobs.incrementAndGet()
          case g if g == group + "-end" => sentinelSeen.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      body
      sc.setJobGroup(group + "-end", "sentinel")
      sc.parallelize(Seq(1), 1).count()
      assert(sentinelSeen.await(60, TimeUnit.SECONDS))
      jobs.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("a stage commit launches exactly one Spark job (the data write)") {
    val root = Files.createTempDirectory("lake-jobs").toString
    assert(jobsOf(Lake.stage(spark, root, "s")(spark.range(0, 1000, 1, 4).toDF("v"))) == 1)
    assert(jobsOf(Lake.stagePartitioned(spark, root, "p", Seq("k")) {
      spark.range(0, 1000, 1, 4).select(col("id").as("v"), (col("id") % 3).as("k"))
    }) == 1)
  }

  test("a cold commit returns the schema a later Lake.read infers") {
    val root = Files.createTempDirectory("lake-schema").toString
    val plain = Lake.stage(spark, root, "s")(spark.range(0, 1000, 1, 4).toDF("v"))
    assert(plain.schema == Lake.read(spark, root, "s").schema)
    // PartitionPruneSpec's cell-prefix + day layout
    val pages = Lake.stagePartitioned(spark, root, "pages", Seq("cell_p", "day")) {
      Pages.geocode(Pages.synth(spark, 2000, parts = 4))
        .withColumn("cell_p", SpatialJoin.cellColumn(CellGrid.fixture, 4, col("x"), col("y")))
        .withColumn("day", to_date(col("warc_ts")))
    }
    assert(pages.schema == Lake.read(spark, root, "pages").schema)
    assert(pages.count() == 2000)
    // a long partition key with small values: Lake.read infers it as an int
    val keyed = Lake.stagePartitioned(spark, root, "keyed", Seq("k")) {
      spark.range(0, 1000, 1, 4).select(col("id").as("v"), (col("id") % 3).as("k"))
    }
    assert(keyed.schema == Lake.read(spark, root, "keyed").schema)
  }
}
