package graft.spark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The north-star entry and every driver query, collected with generated
  * code only (CODEGEN_ONLY, no fallback), so a kernel whose generated Java
  * does not compile fails here instead of running interpreted. Reads the
  * tables under SPARK_GRAFT_SF_DIR, as PlanCheckSpec does. */
class DriverCodegenSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private lazy val codegen = EvalPaths.codegenOnly(spark)
  private val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

  /** These read grid files from the PROJ reference data tree, which this
    * suite does not assume; they run in Verify where the grids exist. */
  private val needGrids = Set("geo_gridshift", "geo_geoid")

  test("entry runs under CODEGEN_ONLY") {
    assert(SparkEntry.entry(codegen).collect().nonEmpty)
  }

  SparkEntry.driverQueries.sortBy(_.name).filterNot(q => needGrids(q.name)).foreach { q =>
    test(s"${q.name} runs under CODEGEN_ONLY") {
      q.build(codegen, dir).collect()
    }
  }
}
