package graft.zeek

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared session for every suite. SPARK_GRAFT_TEST_MASTER overrides
  * the master — the cluster-credibility runs point it at
  * `local-cluster[2,8,4096]` (with SPARK_HOME + SPARK_SCALA_VERSION set)
  * so the suites execute against real executor JVMs: closure
  * serialization, block-manager fetch, broadcast transport, and — for
  * the streaming suites — state-store providers living in executors
  * instead of the driver's heap. */
object SharedSpark {
  lazy val spark: SparkSession = {
    val master = sys.env.getOrElse("SPARK_GRAFT_TEST_MASTER", "local[4]")
    val b = SparkSession.builder()
      .master(master)
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (master.startsWith("local-cluster")) {
      // executor JVMs launch from SPARK_HOME with only the Spark jars:
      // hand them the build's main classes, the TEST classes (suites
      // define UDFs whose closures deserialize on executors), and the
      // test-library jars from this JVM's own classpath (a closure that
      // captures its suite needs scalatest on the executor side too)
      val testClasses = new java.io.File(
        getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getAbsolutePath
      val libJars = System.getProperty("java.class.path")
        .split(java.io.File.pathSeparator)
        .filter(p => p.endsWith(".jar") && !p.contains("/opt/spark/jars"))
      val cp = (Seq(testClasses, graft.BenchEnv.classesDir) ++ libJars)
        .mkString(java.io.File.pathSeparator)
      b.config("spark.executor.extraClassPath", cp)
        .config("spark.executor.memory",
          sys.env.getOrElse("SPARK_GRAFT_EXEC_MEM", "4g"))
    }
    b.getOrCreate()
  }

  /** Runs `body` with the session confs `kvs` set, then puts each one
    * back as it was (a value set before, or unset). */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val before = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The live read-ahead helper threads ([[ReadAheadInputStream]]) of
    * this JVM (a local-cluster master's executors run theirs out of its
    * sight). A task killed when its job failed may still be closing its
    * reader, so this waits up to `waitMs` for the helpers to end. */
  def readAheadThreads(waitMs: Long = 10000L): Seq[Thread] = {
    def alive = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread]).toSeq
      .filter(t => t.isAlive && t.getName == ReadAheadInputStream.ThreadName)
    val deadline = System.currentTimeMillis() + waitMs
    while (alive.nonEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
    alive
  }
}

/** Mixed into every Zeek suite: after its last test no read-ahead helper
  * thread is left alive, so every stream a scan, a COUNT(*), a LIMIT, a
  * failed read or a recompress opened was closed. Most single-file
  * fixtures plan one partition on several slots and read ahead. */
trait NoReadAheadLeak extends BeforeAndAfterAll { this: Suite =>
  override def afterAll(): Unit =
    try {
      val alive = SharedSpark.readAheadThreads()
      if (alive.nonEmpty)
        throw new AssertionError(s"${alive.size} ${ReadAheadInputStream.ThreadName} " +
          s"thread(s) alive after $suiteName")
    } finally super.afterAll()
}
