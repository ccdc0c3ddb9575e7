package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local SparkSession across all suites (fork=true → one
  * test JVM; building a session per suite would dominate runtime).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkSpec {
  /** The shipped session (`GraftSession`) on 4 cores: the suites'
    * partition counts assume `local[4]` and 4 shuffle partitions.
    */
  lazy val session: SparkSession = GraftSession.get("4")
}
