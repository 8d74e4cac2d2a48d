package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** The per-layer metric names of the traced run, in output order. Layers
  * are named after the modules whose public functions they call.
  */
object Layers {
  /** Layers with listener counters; each is also a job group. */
  val listenerLayers: Seq[String] = Seq("ingest", "timeseries", "windows", "search",
    "forecast", "dedup.signature_band", "dedup.verify", "dedup.cluster", "dedup.apply", "query")

  private val counterUnits = Seq("jobs" -> "count", "tasks" -> "count",
    "task_run_s" -> "s", "gc_s" -> "s", "sched_delay_s" -> "s",
    "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "failed_tasks" -> "count")

  private val own: Seq[(String, String)] = Seq(
    "ingest.scan_s" -> "s", "ingest.rows_in" -> "count",
    "timeseries.resample_ffill_s" -> "s", "timeseries.rows_out" -> "count",
    "timeseries.filled_share" -> "ratio",
    "windows.build_s" -> "s", "windows.rows" -> "count",
    "search.s" -> "s", "search.pairs_scored" -> "count", "search.kept_ratio" -> "ratio",
    "search.broadcast" -> "flag",
    "forecast.score_s" -> "s", "forecast.queries" -> "count",
    "dedup.signature_band_s" -> "s", "dedup.candidates" -> "count",
    "dedup.verify_s" -> "s", "dedup.verified" -> "count", "dedup.verify_yield" -> "ratio",
    "dedup.cluster_s" -> "s", "dedup.cc_rounds" -> "count",
    "dedup.apply_s" -> "s", "dedup.survivors" -> "count",
    "query.search_s" -> "s", "query.score_s" -> "s", "query.driver_s" -> "s",
    "pass.leaked_rdds" -> "count", "pass.leaked_cache_entries" -> "count",
    "pass.input_read_ratio" -> "ratio",
    "trace.overhead_s" -> "s")

  val all: Seq[(String, String)] =
    own ++ listenerLayers.flatMap(l => counterUnits.map { case (k, u) => s"$l.$k" -> u })

  /** Listener counters of one op as metric values. The `query` layer sums
    * the groups that make up one interactive query.
    */
  def counterValues(d: Map[String, Counters], queryLayers: Seq[String]): Map[String, Double] = {
    val withQuery =
      if (queryLayers.isEmpty) d
      else d + ("query" -> queryLayers.map(d.getOrElse(_, Counters())).reduce(_ + _))
    withQuery.filter { case (g, _) => listenerLayers.contains(g) }.flatMap { case (g, c) =>
      Seq(s"$g.jobs" -> c.jobs.toDouble, s"$g.tasks" -> c.tasks.toDouble,
        s"$g.task_run_s" -> c.runMs / 1e3, s"$g.gc_s" -> c.gcMs / 1e3,
        s"$g.sched_delay_s" -> c.schedDelayMs / 1e3,
        s"$g.shuffle_write_mb" -> c.shuffleWriteBytes / Main.MB,
        s"$g.spill_mb" -> c.spillBytes / Main.MB, s"$g.failed_tasks" -> c.failedTasks.toDouble)
    }
  }
}

/** Reads the k-NN join out of an executed plan. */
object Plans extends AdaptiveSparkPlanHelper {

  /** (rows the k-NN join produced, whether it was a broadcast join) for the
    * cached plan of a persisted, materialized frame: the join whose one
    * side carries the corpus `embedding` and the other the `q_embedding`.
    */
  def knnJoin(spark: SparkSession, persisted: org.apache.spark.sql.DataFrame): Option[(Long, Boolean)] = {
    val ds = persisted.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    spark.sharedState.cacheManager.lookupCachedData(ds).flatMap { cd =>
      knnJoin(cd.cachedRepresentation.cacheBuilder.cachedPlan)
    }
  }

  def knnJoin(plan: SparkPlan): Option[(Long, Boolean)] = {
    def has(p: SparkPlan, c: String) = p.output.exists(_.name == c)
    collect(plan) {
      case j: BaseJoinExec if (has(j.left, "embedding") && has(j.right, "q_embedding")) ||
          (has(j.right, "embedding") && has(j.left, "q_embedding")) =>
        val rows = j.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)
        (rows, j.isInstanceOf[BroadcastHashJoinExec] || j.isInstanceOf[BroadcastNestedLoopJoinExec])
    }.headOption
  }
}
