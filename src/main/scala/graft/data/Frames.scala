package graft.data

import org.apache.spark.sql.DataFrame

/** Shared cache/checkpoint lifecycle helpers for DataFrames.
  *
  * One place owns the internal-API touchpoint: localCheckpoint'ed frames
  * analyze to a `LogicalRDD`, and their blocks live on the underlying RDD
  * rather than in the SQL cache manager, so releasing them needs
  * `rdd.unpersist` while plain `persist`ed frames release through
  * `Dataset.unpersist`. Every call site funnels through [[release]] so a
  * Spark upgrade that moves `LogicalRDD` breaks exactly one line.
  */
object Frames {

  /** Release a cached OR localCheckpoint'ed DataFrame (see object doc). */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
    case _ => df.unpersist(blocking = false)
  }

  /** Materialize `result` to its own storage (localCheckpoint: small output
    * blocks, lineage truncated) so the large upstream caches backing it can
    * be released immediately. The checkpointed result is the operator's
    * OUTPUT — orders of magnitude smaller than the intermediates it frees.
    */
  def materializeAndRelease(result: DataFrame, caches: DataFrame*): DataFrame = {
    val out = result.localCheckpoint(eager = true)
    caches.foreach(release)
    out
  }

  /** Eagerly localCheckpoint `df` and register the result for deferred
    * release — for intermediates a RETURNED lazy plan still reads (so they
    * cannot be released inside the operator). Owned by the enclosing
    * [[Artifacts.scoped]] build if there is one, else released by
    * [[releaseTracked]] once the query's result is consumed. */
  def trackedCheckpoint(df: DataFrame): DataFrame =
    Artifacts.track(Artifacts.Family.Query, release)(df.localCheckpoint(eager = true))

  /** Release every frame registered by [[trackedCheckpoint]] outside a
    * scoped build. */
  def releaseTracked(): Unit = Artifacts.release(Artifacts.Family.Query)
}
