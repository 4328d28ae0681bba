package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for all suites (one JVM, forked by sbt).
  * Small core count keeps per-suite startup cheap; the session is
  * reused across suites via getOrCreate. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local(cpus = 4, appName = "graft-test")

  /** Smallest driver-generated scale factor; present in the build env. */
  val Sf0001 = "/root/testdata/sf0.001"

  def testdataAvailable: Boolean = new java.io.File(Sf0001).isDirectory

  /** `body`'s result and the Spark jobs it launched from this thread,
    * counted by job group (broadcast builds run under their own group
    * and are not counted). A sentinel job closes the group: listener
    * events arrive in order, so once the sentinel is visible every
    * earlier job is too. */
  def jobsWhile[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-while-${System.nanoTime}"
    sc.setJobGroup(group, "count the jobs of one call")
    val (out, sentinel) =
      try {
        val o = body
        val f = sc.parallelize(Seq(1), 1).countAsync()
        f.get()
        (o, f.jobIds.head)
      } finally sc.clearJobGroup()
    val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
    while (!sc.statusTracker.getJobIdsForGroup(group).contains(sentinel) &&
      System.nanoTime < deadline) Thread.sleep(20)
    val ids = sc.statusTracker.getJobIdsForGroup(group)
    assert(ids.contains(sentinel), s"sentinel job $sentinel never reported")
    (out, ids.length - 1)
  }
}
