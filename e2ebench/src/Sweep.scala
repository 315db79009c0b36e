package e2ebench

import java.security.MessageDigest

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

import graft.SparkEntry

/** Passes over a fixed subset of [[SparkEntry.queries]]. Each workload
  * sweeps half of the set; together they cover every `ops` module once,
  * plus the costliest near-duplicate family (`q_dup_sources`). */
object Sweep {
  /** Per workload: (query, the ops module it exercises). */
  val Queries: Map[String, Seq[(String, String)]] = Map(
    "uniform_keys" -> Seq(
      "q_pricing" -> "Relational",
      "q_enrich_join" -> "Joins",
      "q_colocated_join" -> "Bucketed",
      "q_changelog_apply" -> "Changelog",
      "q_window_tumble" -> "Windowing",
      "q_asof_join" -> "AsOfJoin"),
    "hot_keys" -> Seq(
      "q_funnel" -> "EventAnalytics",
      "q_text_stats" -> "TextOps",
      "q_bm25" -> "Search",
      "q_sim_topk_batch" -> "Similarity",
      "q_doc_bytes" -> "MultiModal",
      "q_dup_sources" -> "NearDup"))

  /** Order-insensitive SHA-256 of a result, over a canonical text form
    * of each row (arrays and nested rows spelled out element-wise). */
  def fingerprint(rows: Array[Row]): String = {
    def canon(v: Any): String = v match {
      case null => "∅"
      case a: Array[Byte] => a.map("%02x".format(_)).mkString("0x", "", "")
      case a: Array[_] => a.map(canon).mkString("[", ",", "]")
      case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
      case x => x.toString
    }
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(canon).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Per-query layer figures from one traced execution. */
  case class Layers(planMs: Double, execMs: Double, stages: Int, shuffleBytes: Long,
      spillBytes: Long, gcMs: Long, scans: Int)

  /** Stage metrics per job group (the benchmark tags each query's jobs). */
  class StageListener extends SparkListener {
    private val groupOfStage = mutable.HashMap[Int, String]()
    val byGroup = mutable.HashMap[String, Array[Long]]() // stages, shuffle, spill, gc
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.foreach(group => e.stageIds.foreach(s => groupOfStage(s) = group))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      groupOfStage.get(e.stageInfo.stageId).foreach { g =>
        val a = byGroup.getOrElseUpdate(g, new Array[Long](4))
        val m = e.stageInfo.taskMetrics
        a(0) += 1
        if (m != null) {
          a(1) += m.shuffleWriteMetrics.bytesWritten
          a(2) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(3) += m.jvmGCTime
        }
      }
    }
    def take(g: String): Array[Long] = synchronized(byGroup.remove(g).getOrElse(new Array[Long](4)))
  }

  /** FileScan nodes in the final adaptive plan; a reused exchange does
    * not scan again, so it is not entered. */
  def scanCount(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => scanCount(a.executedPlan)
    case s: QueryStageExec => scanCount(s.plan)
    case _: ReusedExchangeExec => 0
    case _: FileSourceScanExec => 1
    case p => p.children.map(scanCount).sum +
      p.subqueries.map(scanCount).sum
  }

  def module(q: String): String =
    Queries.values.flatten.find(_._1 == q).map(_._2).getOrElse("other")

  /** The oracle SQL of the swept queries, for the DuckDB check. */
  def oracleSql(queries: Seq[(String, String)]): Map[String, String] =
    SparkEntry.oracleSql.filter { case (q, _) => queries.exists(_._1 == q) }
}

/** One workload's sweep. The warm-up pass runs each query once, records
  * its fingerprint, writes the result out for the oracle check, and is
  * not timed. Each later pass times every query and must reproduce the
  * fingerprints. A traced pass also publishes per-query layers. */
class Sweep(queries: Seq[(String, String)], tables: String, resultsDir: String) {
  import Sweep._
  private val fns = SparkEntry.queries
  var fingerprints = Map.empty[String, String]
  val passMs = mutable.ArrayBuffer[Double]()
  val perQueryMs = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
  val layers = mutable.HashMap[String, mutable.ArrayBuffer[Layers]]()
  var attempted, failed = 0
  val mismatches = mutable.ArrayBuffer[String]()

  /** The queries run side by side here, one per core: the pass is not
    * timed, and it is the longest part of a run's warm-up. */
  def warmUp(spark: SparkSession): Unit = {
    import scala.concurrent.ExecutionContext.Implicits.global
    fingerprints = Await.result(Future.traverse(queries) { case (q, _) =>
      Future {
        val df = fns(q)(spark, tables)
        val rows = df.collect()
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$q")
        q -> fingerprint(rows)
      }
    }, Duration.Inf).toMap
  }

  def pass(spark: SparkSession, traced: Boolean): Unit = {
    val listener = new StageListener
    Trace.enabled = traced
    if (traced) spark.sparkContext.addSparkListener(listener)
    val p0 = System.nanoTime()
    queries.foreach { case (q, _) =>
      if (traced) spark.sparkContext.setJobGroup(q, q)
      val t0 = System.nanoTime()
      val (df, rows) = Trace.span(s"query.$q") {
        val df = fns(q)(spark, tables)
        (df, df.collect())
      }
      val ms = (System.nanoTime() - t0) / 1e6
      attempted += 1
      if (fingerprint(rows) != fingerprints(q)) {
        failed += 1
        mismatches += s"$q pass ${passMs.size}: result differs from the warm-up pass"
      }
      if (traced) {
        spark.sparkContext.clearJobGroup()
        val plan = df.queryExecution.tracker.phases.values.map(_.durationMs).sum.toDouble
        org.apache.spark.E2eBenchBridge.drainListeners(spark.sparkContext)
        val a = listener.take(q)
        layers.getOrElseUpdate(q, mutable.ArrayBuffer()) +=
          Layers(plan, ms - plan, a(0).toInt, a(1), a(2), a(3),
            scanCount(df.queryExecution.executedPlan))
      } else perQueryMs.getOrElseUpdate(q, mutable.ArrayBuffer()) += ms
    }
    if (traced) spark.sparkContext.removeSparkListener(listener)
    else passMs += (System.nanoTime() - p0) / 1e6
  }

  /** Tracing overhead on the same work: the summed per-query medians of
    * the traced passes over those of the untraced passes. */
  def overheadPct: Double = {
    val pairs = layers.toSeq.flatMap { case (q, ls) =>
      perQueryMs.get(q).map(u => (Stats.median(u.toSeq), Stats.median(ls.map(l => l.planMs + l.execMs).toSeq)))
    }
    val (u, t) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    if (u == 0) 0.0 else (t - u) / u * 100.0
  }
}
