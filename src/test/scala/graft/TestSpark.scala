package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM (same confs as
  * Verify/Bench: UTC, nanos-as-long for events.parquet, small shuffle). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", "/dev/shm/graft_spark")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfTiny = "/root/testdata/sf0.001"

  /** Fresh per-call scratch dir UNDER the app-keyed tmpfs tree (so the
    * session shutdown hook reclaims it) — the spec replacement for
    * `Files.createTempDirectory`, whose /tmp dirs outlived the JVM and
    * accumulated on the throttled virtio disk across test runs. */
  private val tmpSeq = new java.util.concurrent.atomic.AtomicLong()
  def tmpDir(prefix: String): String = {
    val d = new java.io.File(
      Tables.scratch(spark, prefix, "spectmp"),
      s"${prefix}_${tmpSeq.incrementAndGet()}")
    d.mkdirs()
    d.getPath
  }

  /** The number of Spark jobs started while `body` ran. */
  def jobsDuring(body: => Any): Long = {
    val before = jobCounter.settled()
    body
    jobCounter.settled() - before
  }

  private lazy val jobCounter = {
    val c = new JobCounter
    spark.sparkContext.addSparkListener(c)
    c
  }

  /** Counts started jobs. The listener bus delivers events
    * asynchronously, so [[settled]] runs a one-task marker job in its own
    * job group and blocks until the listener has seen it end: events of
    * one queue arrive in posting order, so by then every job started
    * before the marker has been counted. Marker jobs are not counted. */
  private final class JobCounter extends SparkListener {
    private val MarkerGroup = "testspark-marker"
    private val markerJobs = scala.collection.mutable.Set.empty[Int]
    private val markersDone = new LinkedBlockingQueue[Integer]()
    private var jobs = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g == MarkerGroup) markerJobs += e.jobId else jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      if (markerJobs.remove(e.jobId)) markersDone.put(e.jobId)
    }

    def settled(): Long = {
      val sc = spark.sparkContext
      sc.setJobGroup(MarkerGroup, "listener drain marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(markersDone.poll(60, TimeUnit.SECONDS) != null,
        "listener drain marker never arrived")
      synchronized(jobs)
    }
  }
}
