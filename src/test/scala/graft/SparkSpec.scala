package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for suites (one per suite via lazy val). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.streaming.checkpointFileManagerClass", Bench.CheckpointFileManagerClass)
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  /** Final (post-AQE) physical plan of an EXECUTED frame — the frame's
    * own QueryExecution must be run (collect), because a write plans a
    * separate QueryExecution and AQE's runtime decisions (stage reuse,
    * join selection, skew splits) only exist in the executed one. The
    * ONE definition of this idiom, shared by every plan-asserting
    * suite. */
  def executedPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  def planString(df: DataFrame): String = executedPlan(df).toString

  /** JSON string escape for hand-built jsonl fixtures (quotes,
    * backslash, control chars) — ONE copy for every streaming spec;
    * a raw control char would split/corrupt a jsonl record and
    * silently shrink the streamed side of a parity assertion. */
  def escJson(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '"' => "\\\""
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** All nodes of an executed plan INCLUDING query-stage interiors:
    * AQE wraps materialized stages (and, in Spark 4, the whole result)
    * in leaf QueryStageExec nodes, so a plain `plan.collect` stops at
    * the first stage boundary and silently misses the real operators. */
  def allPlanNodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allPlanNodes(q.plan)
      case _ => Seq.empty
    }
    p +: (p.children.flatMap(allPlanNodes) ++ inner)
  }
}
