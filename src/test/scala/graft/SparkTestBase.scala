package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate dedups across suites in
  * the single forked test JVM). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  lazy val sf0001 = "/root/testdata/sf0.001"
}

object SparkTestBase {
  /** The production session (graft.Session: GraftExtensions, AQE, UTC) on
    * local[4]; sf0.001 sizes it to 4 shuffle partitions. */
  lazy val session: SparkSession = Session.build("/root/testdata/sf0.001", cores = 4)
}
