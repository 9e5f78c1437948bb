package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Dev probe: where a query's fixed overhead goes. Per `SparkEntry.queries`
  * name it warms once, then splits one run into construction (eager
  * checkpoints fire here) and the final action, with per-job wall times.
  * `SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.Probe <query>..."`;
  * the workload-shaped paths are split by layer in `perfbench --trace 1`. */
object Probe {
  final case class Job(id: Int, wallS: Double, description: String)
  final case class Result(query: String, constructS: Double, actionS: Double,
                          rows: Long, jobs: Seq[Job])

  def run(s: SparkSession, dir: String, names: Seq[String]): Seq[Result] = {
    val started = new ConcurrentHashMap[Int, (Long, String)]()
    val done = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        started.put(js.jobId, (js.time,
          Option(js.properties).map(_.getProperty("spark.job.description", "")).getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, d) = started.getOrDefault(je.jobId, (je.time, ""))
        done.add(Job(je.jobId, (je.time - t0) / 1e3, d))
      }
    }
    s.sparkContext.addSparkListener(listener)
    try names.map { name =>
      val fn = SparkEntry.queries(name)
      fn(s, dir).count() // warm
      Thread.sleep(300) // let the listener drain the warm run's jobs
      done.clear()
      val t0 = System.nanoTime()
      val df = fn(s, dir)
      val t1 = System.nanoTime()
      val rows = df.count()
      val t2 = System.nanoTime()
      Thread.sleep(300)
      Result(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, rows, done.asScala.toSeq.sortBy(_.id))
    } finally s.sparkContext.removeSparkListener(listener)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a testdata scale-factor directory"))
    val s = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    run(s, dir, names).foreach { r =>
      println(f"PROBE ${r.query} construct=${r.constructS}%.2fs action=${r.actionS}%.2fs rows=${r.rows} jobs=${r.jobs.size}")
      r.jobs.foreach(j => println(f"  job ${j.id}%4d ${j.wallS}%6.3fs ${j.description.take(90)}"))
    }
    s.stop()
  }
}
