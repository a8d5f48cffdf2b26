package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Config-gated lineage barrier — the ONE seam deciding how operators
  * materialize a multi-consumer substrate (ADVICE r17), and how those
  * blocks are released again.
  *
  * Every operator that used to call `localCheckpoint()` directly now
  * routes through [[MaterializeOps.barrier]], dispatched on the session
  * conf `spark.graft.materialize`:
  *
  *   - `local` (default): `localCheckpoint(eager = true)` — truncates
  *     lineage and stores blocks on executors only. The right choice for
  *     the local bench and for clusters WITHOUT dynamic allocation,
  *     because AQE-coalesced output partitioning survives (a lazy
  *     `persist()` pins consumers at full shuffle width) and there is no
  *     distributed-FS round trip. CAVEAT (the documented Spark
  *     restriction): blocks live only in executor storage, so an
  *     executor loss or dynamic-allocation decommission makes consuming
  *     jobs fail unrecoverably instead of recomputing.
  *   - `reliable`: `checkpoint(eager = true)` — writes the frame to
  *     `spark.sparkContext.setCheckpointDir`'s reliable store. Survives
  *     executor loss; costs one distributed write + read. The right
  *     choice on clusters with dynamic allocation / spot executors.
  *   - `persist`: eager `persist()` (materialized by a `count()`).
  *     Recomputable on block loss — but consumers inherit the cached
  *     plan's full shuffle width (the r17 measurement that motivated the
  *     localCheckpoint default), so prefer `reliable` at scale.
  *
  * All three produce the same rows; only fault-tolerance and partition
  * layout differ. The conf is read per call, so a session can switch
  * strategies between queries.
  *
  * [[release]] undoes one barrier under every strategy; [[releaseAll]]
  * is the session-wide drop the harness mains run between queries. */
object Materialize {

  final val ConfKey = "spark.graft.materialize"

  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    /** Eagerly materialize this frame for multiple downstream consumers
      * under the session's `spark.graft.materialize` strategy. */
    def barrier(): DataFrame =
      df.sparkSession.conf.get(ConfKey, "local") match {
        case "local" => df.localCheckpoint()
        case "reliable" => df.checkpoint()
        case "persist" =>
          val p = df.persist()
          p.count()
          p
        case other => throw new IllegalArgumentException(
          s"$ConfKey must be local|reliable|persist, got '$other'")
      }
  }

  /** Free the blocks of a frame returned by `barrier()`, whichever
    * strategy made it. `Dataset.unpersist` only drops CacheManager
    * entries (the `persist` strategy); a checkpointed frame's blocks
    * belong to the RDD under its top `LogicalRDD` node, which must be
    * unpersisted itself. Only the top node is inspected, so a frame
    * derived from a barrier (or a user's own RDD-backed source) is never
    * touched below it. Harmless under `reliable`: that RDD holds no
    * blocks, and its checkpoint files stay readable. */
  def release(df: DataFrame): Unit = {
    df.unpersist(blocking = false)
    df.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }
  }

  /** Drop every cached plan and persistent RDD of the session — the
    * between-queries reset of the harness mains. Not for library code:
    * it also frees blocks other threads are still using. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}
