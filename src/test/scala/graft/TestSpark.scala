package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4, "graft-test")
  // under the checkout the tests run from (sbt forks them in the
  // project's base directory), so a copy of the repo writes its own
  val fixtures = s"${sys.props("user.dir")}/target/test-fixtures"
}
