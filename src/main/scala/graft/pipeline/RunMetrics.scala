package graft.pipeline

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ListenerBridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Run-level counters — the Spark-native form of the reference's progress
  * logging and after_processing hooks (indexer.rb:531-619, 646-655):
  * `observe` metrics ride the action (no extra job), a listener captures
  * them, and after-processing callbacks run on the driver once the write
  * action completes.
  */
object RunMetrics {

  private val captured = new ConcurrentHashMap[String, Map[String, Any]]()

  private lazy val listener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      qe.observedMetrics.foreach { case (name, row) =>
        captured.put(name, row.schema.fieldNames.zipWithIndex.map {
          case (f, i) => f -> row.get(i)
        }.toMap)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  @volatile private var registered = false
  private def ensureListener(df: DataFrame): Unit = if (!registered) synchronized {
    if (!registered) {
      df.sparkSession.listenerManager.register(listener)
      registered = true
    }
  }

  /** Attach record counters to a frame; metrics surface after any action on
    * it (the per-batch records/sec log analog). */
  def observed(df: DataFrame, name: String = "graft_metrics"): DataFrame = {
    ensureListener(df)
    df.observe(name, count(lit(1)).as("records_out"))
  }

  /** Metrics captured for `name` by the last completed action. */
  def metricsFor(name: String = "graft_metrics"): Option[Map[String, Any]] =
    Option(captured.get(name))

  /** Run an action over an observed frame, then after-processing hooks in
    * declaration order with the captured metrics (after_processing
    * semantics: errors are fatal, indexer.rb:646-655). */
  def runWithHooks(df: DataFrame, name: String = "graft_metrics")
                  (action: DataFrame => Unit)
                  (hooks: (Map[String, Any] => Unit)*): Map[String, Any] = {
    captured.remove(name)
    val obs = observed(df, name)
    action(obs)
    // QueryExecutionListener delivery is async (listener bus): wait for
    // the observation of THIS run to land before firing hooks
    ListenerBridge.drain(df.sparkSession.sparkContext)
    val metrics = metricsFor(name).getOrElse(Map.empty)
    hooks.foreach(_(metrics))
    metrics
  }
}
