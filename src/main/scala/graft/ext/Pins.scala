package graft.ext

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.lit
import org.apache.spark.storage.StorageLevel

/** The ONE home of the engine's pin lifecycles. A pin lets several
  * consumers read one materialization of a frame instead of each
  * re-running its producing subtree. Two lifecycles remain:
  *
  *  - [[scoped]]: a persist loaned to one block of code. It keeps
  *    lineage, so lost blocks recompute, and it is released (blocking)
  *    when the block returns or throws.
  *  - [[pin]]: a lazy lineage cut, for frames that outlive one block or
  *    are re-pinned every round of a loop (a persist would keep the
  *    nested plan, whose analysis grows per round). By default a
  *    `localCheckpoint`: cheap and executor-local, freed by [[release]]
  *    or the ContextCleaner, but with NO lineage, so on a real cluster
  *    losing an executor fails the queries reading it. The session conf
  *    `spark.graft.reliablePins = true` (or the system property
  *    `-Dspark.graft.reliablePins=true`) routes the same call sites to a
  *    reliable checkpoint that survives executor loss, in the checkpoint
  *    dir — this JVM's scratch dir ([[graft.Scratch.jvmDir]], deleted at
  *    exit) unless the deployment set one on durable shared storage. The
  *    default stays executor-local: the declared bench surface is
  *    single-node, and a reliable pin pays a write and a read.
  */
private[graft] object Pins {

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption("spark.graft.reliablePins")
      .exists(v => v == "true" || v == "1")

  /** Lazy lineage pin: localCheckpoint by default, reliable checkpoint
    * under the knob above. Lazy either way — a pin only materializes
    * when the first consumer runs, so an unused branch costs nothing. */
  private[graft] def pin(df: DataFrame): DataFrame =
    if (!reliable(df)) df.localCheckpoint(eager = false)
    else {
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(
          graft.Scratch.jvmDir.resolve("reliable-pins").toString)
      df.checkpoint(eager = false)
    }

  /** The column that tags a scoped pin with its call's id. */
  private val Tag = "__graft_pin"
  private val scopes = new AtomicLong()

  /** Run `use` on `df` pinned for the call. A frame the caller already
    * persisted is passed through and never released. Otherwise `df` is
    * persisted MEMORY_AND_DISK under a tag column unique to the call and
    * `use` gets the untagged projection: Spark matches cached plans by
    * analyzed plan, so an untagged persist of a path read would be shared
    * with every other read of that path and released under it. Consumers
    * must be built from the frame handed to `use`. Lazy: the first
    * consumer builds the pin. */
  private[graft] def scoped[T](df: DataFrame)(use: DataFrame => T): T =
    if (df.storageLevel != StorageLevel.NONE) use(df)
    else {
      val tagged = df.withColumn(Tag, lit(scopes.incrementAndGet()))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try use(tagged.drop(Tag))
      finally tagged.unpersist(blocking = true)
    }

  /** Release a loop frame's storage: the cache-manager entry AND, for a
    * [[pin]]ned frame, the checkpoint RDD, which is persisted outside the
    * cache manager. Only the plan ROOT is matched: a checkpoint frame is
    * exactly a LogicalRDD leaf, while matching arbitrary leaves could
    * unpersist RDDs the CALLER owns. */
  private[graft] def release(df: DataFrame): Unit = {
    df.unpersist()
    df.queryExecution.analyzed match {
      case lr: LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
  }
}
