package graft

import graft.util.Sessions
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** The benchmark warm-up's failure contract: a step that throws stops
  * the run with the step's name, so a broken fixture is reported where
  * it broke, not as a later query's error.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = Sessions.local("bench-test", "2")

  override def afterAll(): Unit = spark.stop()

  test("warm-up on a missing SF dir fails at its first step, codegen") {
    val missing = Files.createTempDirectory("bench").toString + "/no-such-sf"
    val e = intercept[IllegalStateException](
      Bench.warmUp(spark, missing, staged = false))
    assert(e.getMessage == "warm-up step 'codegen' failed")
    assert(e.getCause != null)
  }
}
