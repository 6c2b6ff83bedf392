package graft

import graft.core.Pin
import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession shared across all suites (tests run in a single forked
  * JVM — Test/fork := true in build.sbt). */
object SharedSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_spark_wh_").toString
    val s = GraftSession.builder("local[4]", "4")
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark

  // each test releases the pins its ops made, so no test reads another's
  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test) finally Pin.release(spark)
}
