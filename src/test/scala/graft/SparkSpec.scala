package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  val testDataDir = "/root/testdata/sf0.001"

  /** The whole-stage generated code of `df`, stage by stage: the bodies
    * Spark's codegen cache is keyed by. Runs `df` first, so the adaptive
    * plan is final and holds every stage. */
  def generatedCode(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
      QueryStageExec}
    def stages(p: SparkPlan): Seq[WholeStageCodegenExec] = p match {
      case a: AdaptiveSparkPlanExec => stages(a.executedPlan)
      case q: QueryStageExec => stages(q.plan)
      case w: WholeStageCodegenExec => w +: w.children.flatMap(stages)
      case other => other.children.flatMap(stages)
    }
    df.collect()
    stages(df.queryExecution.executedPlan).map(_.doCodeGen()._2.body)
  }
}

object SparkSpec {
  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft_wh").toString)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
