package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (started lazily, never stopped
  * mid-run — Spark local sessions are process-wide). */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  val SfSmall = "/root/testdata/sf0.001"

  /** Spark jobs started per job group while `body` runs; `body` names its
    * groups with `sparkContext.setJobGroup`. Listener events arrive in
    * order, so once a trailing marker job has ended every job of `body`
    * has been counted. */
  def jobsPerGroup(body: => Unit): Map[String, Int] = {
    import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val sc = spark.sparkContext
    val jobsByGroup = new ConcurrentHashMap[String, Integer]()
    val groupOfJob = new ConcurrentHashMap[Int, String]()
    val markerDone = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        groupOfJob.put(e.jobId, g)
        jobsByGroup.merge(g, 1, (a: Integer, b: Integer) => a + b)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (groupOfJob.get(e.jobId) == "marker") markerDone.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("marker", "marker")
      spark.range(1).collect()
      require(markerDone.await(60, TimeUnit.SECONDS), "marker job did not end")
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    import scala.jdk.CollectionConverters._
    jobsByGroup.asScala.map { case (g, n) => g -> n.intValue }.toMap - "marker"
  }
}
