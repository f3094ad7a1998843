package graft.ext

import org.apache.spark.sql.DataFrame

/** The ONE home of the module family's multi-consumer pin idiom.
  *
  * A "pin" truncates a frame's lineage so several consumers read one
  * materialization instead of each re-running the producing subtree
  * (the guide §1.2 remove-passes class of win: tokenizer passes,
  * sketch pipelines, PQ train chains). The default mechanism is
  * `localCheckpoint(eager = false)`: blocks live on the executors and
  * are reclaimed by the ContextCleaner when the frame is GC'd — cheap,
  * no shared storage needed, exactly right for a single-node harness.
  *
  * The trade-off, stated rather than implied: a localCheckpoint has NO
  * lineage, so on a real cluster losing an executor makes every query
  * reading the pin FAIL instead of recompute. A 100 TB deployment that
  * cannot afford query retries routes the same idiom to a RELIABLE
  * checkpoint (persisted to `sparkContext.setCheckpointDir` storage,
  * survives executor loss) by setting either the session conf
  * `spark.graft.reliablePins = true` or the env var
  * `GRAFT_RELIABLE_PINS=1`; if no checkpoint dir is configured yet,
  * one is created in this JVM's scratch dir ([[graft.Scratch.jvmDir]],
  * deleted at exit) — a deployment points `setCheckpointDir` at
  * durable shared storage instead. Default stays executor-local: the declared bench surface
  * is single-node, and reliable checkpoints pay a write+read of the
  * pinned frame per pin.
  */
private[graft] object Pins {

  private def reliable(df: DataFrame): Boolean =
    df.sparkSession.conf.getOption("spark.graft.reliablePins")
      .orElse(sys.env.get("GRAFT_RELIABLE_PINS"))
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
}
