package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole suite (getOrCreate: suites run in
  * the single forked test JVM and reuse it). Same [[Sessions]] config as
  * Verify — UTC, ns-as-long parquet reads, small shuffle width. */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = Sessions.local("4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Smallest driver-generated scale factor (TESTDATA.md) — smoke-sized. */
  val Sf0001 = "/root/testdata/sf0.001"

  /** The md5-ticket derivation the fixtures share (the Spark side's
    * `conv(substring(md5(s), 1, hexDigits), 16, 10)`) — ONE test-side
    * implementation so a ticket-scheme change cannot leave a spec
    * validating against a stale copy. */
  def md5Long(s: String, hexDigits: Int): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(hexDigits), 16)
  }

  /** Scoped conf override restoring the PRIOR value (or unsetting, for
    * confs whose default is null — e.g.
    * spark.sql.adaptive.autoBroadcastJoinThreshold) — never a hardcoded
    * "restore": the session is shared across every suite in the forked
    * JVM, so a spec that force-restores a literal leaks its assumption
    * into unrelated tests. Shared here because three suites
    * (BuiltinRuntimeFilterSpec, DppSpec, AffinitySpec) were growing
    * divergent copies. */
  def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val conf = spark.conf
    val old = pairs.map { case (k, _) =>
      k -> (try Option(conf.get(k)) catch { case _: Exception => None })
    }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None)    => conf.unset(k)
    }
  }

  /** Spark jobs `body` starts on this thread: its jobs carry a local
    * property; a marker job afterwards flushes the asynchronous
    * listener bus (events reach a listener in posting order). */
  def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = "graft.spec.jobProbe"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(tag))) match {
          case Some("body")   => jobs.incrementAndGet()
          case Some("marker") => flushed.countDown()
          case _              => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      try body finally sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      jobs.get
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
