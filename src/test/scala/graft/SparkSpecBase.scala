package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (sf0.001 data). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpecBase.session

  override def afterAll(): Unit = super.afterAll()

  /** `body`'s result and the job groups of the jobs it started. A job
    * started after `body` fences the listener: once it sees that job,
    * it has seen every event `body` posted.
    */
  protected def jobGroupsOf[T](body: => T): (T, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val fence = "spec-listener-fence"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")
        if (g == fence) fenced.countDown() else if (fenced.getCount > 0) groups.add(g)
      }
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(fence, "listener fence")
      sc.parallelize(Seq(1), 1).count()
      assert(fenced.await(30, java.util.concurrent.TimeUnit.SECONDS), "listener fence timed out")
      import scala.jdk.CollectionConverters._
      (out, groups.asScala.toSeq)
    } finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = Sessions.local(4)
}
