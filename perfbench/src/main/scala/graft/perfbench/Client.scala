package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

/** One finished operation: `kind` is job (batch report), serve, ingest
  * or maint. */
final case class OpRecord(id: String, name: String, kind: String,
                          seconds: Double, ok: Boolean)

/** Physical-plan node counts: exchanges (shuffle and broadcast) and
  * scans, subqueries and adaptive stages included. */
object PlanNodes extends AdaptiveSparkPlanHelper {
  def counts(p: SparkPlan): (Int, Int) = {
    val nodes = collectWithSubqueries(p) { case n => n }
    (nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }, nodes.count(_.nodeName.contains("Scan")))
  }
}

/** The closed-loop client: one operation at a time on the calling
  * thread. Each operation is timed from outside; with tracing on, its
  * phases become child spans and its Spark jobs are tagged with its id. */
final class Client(spark: SparkSession) {
  val records = mutable.ArrayBuffer.empty[OpRecord]
  val errors = mutable.ArrayBuffer.empty[String]
  val planCounts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var seq = 0

  def op(name: String, kind: String)(body: => Unit): OpRecord = {
    seq += 1
    val id = s"$name#$seq"
    spark.sparkContext.setLocalProperty(Trace.OpProperty, id)
    val t0 = System.nanoTime()
    val ok =
      try { Trace.span(s"op:$id")(body); true }
      catch {
        case e: Throwable =>
          errors += s"$id: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
          false
      } finally spark.sparkContext.setLocalProperty(Trace.OpProperty, null)
    val r = OpRecord(id, name, kind, (System.nanoTime() - t0) / 1e9, ok)
    records += r
    r
  }

  /** Catalyst planning of `df`, done as its own phase only when tracing:
    * the sink plans again, so an untraced run never pays it. */
  def plan(df: DataFrame): Unit =
    if (Trace.enabled) Trace.span("plan") {
      val (ex, sc) = PlanNodes.counts(df.queryExecution.executedPlan)
      planCounts("plan.exchanges") += ex
      planCounts("plan.scans") += sc
    }

  /** Construct, plan and sink one DataFrame-producing operation. */
  def runFrame(build: => DataFrame)(sink: DataFrame => Unit): Unit = {
    val df = Trace.span("construct")(build)
    plan(df)
    Trace.span("sink")(sink(df))
  }
}
