package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs ([[GraftSession.local]]). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf: String = "/root/testdata/sf0.001"

  /** Self-cleaning temp dir: repeated test runs must not accumulate
    * parquet/model/checkpoint litter in /tmp (round-6 advisor flag —
    * these dirs are outside the dead-pid sink sweeper's pattern). */
  def withTmpDir[A](prefix: String)(f: String => A): A = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    try f(p.toString)
    finally org.apache.commons.io.FileUtils.deleteQuietly(p.toFile)
  }

  /** Runs `body` and counts the Spark jobs it starts, on this thread
    * and on threads it creates (they inherit its job group). A marker
    * job submitted afterwards flushes the listener bus: once its start
    * event arrives, every earlier start event has been delivered. */
  def jobsDuring[A](body: => A): (A, Int) = {
    val (out, jobs, _) = jobsAndTasksDuring(body)
    (out, jobs)
  }

  /** [[jobsDuring]] plus the tasks those jobs ran (a skipped stage runs
    * none). The earlier jobs have ended before the marker job is
    * submitted, so their task-end events precede its start event. */
  def jobsAndTasksDuring[A](body: => A): (A, Int, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            jobs.incrementAndGet()
            e.stageIds.foreach(stages.add)
          case Some(g) if g == s"$group-marker" => flushed.countDown()
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally {
        sc.setJobGroup(s"$group-marker", "listener-bus flush")
        sc.parallelize(Seq(1), 1).count()
        sc.clearJobGroup()
      }
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker job's start event never arrived")
      (out, jobs.get(), tasks.get())
    } finally sc.removeSparkListener(listener)
  }

  override def afterAll(): Unit = () // session shared across suites
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the graded session config: specs pin the plans Verify/Bench run
    val s = GraftSession.local(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
