package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (JVM-wide —
  * getOrCreate dedupes), with the confs Bench and Verify run. Four
  * cores and four shuffle partitions: PlanShapeSpec's pins depend on
  * them. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
}
