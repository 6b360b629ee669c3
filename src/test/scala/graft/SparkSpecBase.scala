package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs (sf0.001 data). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {
  val sf: String = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSpecBase.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSpecBase {
  lazy val session: SparkSession = Sessions.local(4)
}
