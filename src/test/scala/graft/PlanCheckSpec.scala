package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{PythonUDF, ScalaUDF}
import org.apache.spark.sql.catalyst.plans.logical.{ObjectConsumer, ObjectProducer}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.scalatest.funsuite.AnyFunSuite

/** The plan gate: every driver query with `planWants` keeps its
  * scale-critical plan properties (parquet filter/column pushdown,
  * broadcast joins for small dims, whole-stage codegen), and no driver
  * query nor the north-star entry carries a ScalaUDF/PythonUDF or a typed
  * object fence. Reads the tables under SPARK_GRAFT_SF_DIR. */
class PlanCheckSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Static plans for inspection: AQE wraps stages in leaf nodes that hide
    * codegen spans from collect(). Own SQL conf, so suites sharing the
    * SparkContext keep theirs. */
  private lazy val plans: SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", "32")
    s
  }
  private val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

  SparkEntry.driverQueries.filter(_.planWants.nonEmpty).foreach { q =>
    test(s"${q.name} plan keeps its designed shape") {
      val executed = q.build(plans, dir).queryExecution.executedPlan
      val plan = executed.toString
      val wsc = executed.collect { case w: WholeStageCodegenExec => w }.size
      val misses = (("whole-stage codegen active" -> ((_: String) => wsc > 0)) +: q.planWants)
        .collect { case (label, want) if !want(plan) => label }
      assert(misses.isEmpty, s"MISS ${misses.mkString("; ")} in\n$plan")
    }
  }

  /** Every kernel must be a codegen-able Catalyst expression: no ScalaUDF
    * or python-eval node, and no typed-object serialization fence either —
    * mapPartitions/map on a Dataset hides imperative per-row code behind
    * DeserializeToObject/SerializeFromObject nodes that break whole-stage
    * codegen exactly like a ScalaUDF but without a ScalaUDF node. */
  private def fences(df: DataFrame): (Int, Int) = {
    val analyzed = df.queryExecution.analyzed
    val udfs = analyzed.collect { case n =>
      n.expressions.flatMap(_.collect { case u: ScalaUDF => u; case p: PythonUDF => p })
    }.flatten.size
    val objects = analyzed.collect {
      case n: ObjectProducer => n
      case n: ObjectConsumer => n
    }.size
    (udfs, objects)
  }

  (SparkEntry.driverQueries.map(q => q.name -> ((s: SparkSession) => q.build(s, dir))) :+
    ("entry" -> ((s: SparkSession) => SparkEntry.entry(s)))).foreach { case (name, build) =>
    test(s"$name has no UDF or object-fence node") {
      val (udfs, objects) = fences(build(plans))
      assert(udfs == 0 && objects == 0,
        s"$udfs UDF node(s), $objects object-fence node(s)")
    }
  }
}
