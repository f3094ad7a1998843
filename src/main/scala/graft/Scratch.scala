package graft

/** Harness scratch base shared by the throwaway-table query families
  * (streaming staging/checkpoints and the lake queries' temp table
  * roots): a RAM-backed filesystem when one is mounted (/dev/shm on
  * Linux), else java.io.tmpdir. These runs are METADATA-heavy — commit
  * renames, manifest files, per-batch state-store deltas — and none of
  * it needs to survive the run, so paying disk-journal metadata latency
  * for it is pure harness cost. The commit protocol stays fully real
  * (atomic renames, crash-safe staging); only the medium changes — a
  * deployment points its table roots at its real lake storage.
  *
  * Factored out of StreamQueries in round 16 so the lake family rides
  * the same medium (guide §6: I/O layout is a first-class cost);
  * `GRAFT_STREAM_SCRATCH` keeps its name for compatibility with
  * existing harness configs.
  */
private[graft] object Scratch {

  /** tmpfs is RAM-capped (typically 50% of physical memory), so only
    * take it with real headroom — a larger-SF run on a constrained box
    * must degrade to disk latency, not ENOSPC mid-stream. Overridable
    * for harnesses that know better. */
  lazy val base: java.nio.file.Path = {
    val MinShmHeadroom = 8L << 30
    sys.env.get("GRAFT_STREAM_SCRATCH").map(java.nio.file.Paths.get(_)).getOrElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      val shmOk = java.nio.file.Files.isDirectory(shm) &&
        java.nio.file.Files.isWritable(shm) &&
        (try java.nio.file.Files.getFileStore(shm).getUsableSpace >= MinShmHeadroom
         catch { case _: java.io.IOException => false })
      if (shmOk) shm else java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    }
  }

  /** This JVM's own directory under [[base]], made on first use and
    * deleted by one shutdown hook: the home of everything that must
    * outlive a query but not the JVM (reliable-pin checkpoints, the
    * lake SQL warehouse, the streaming results and staged-file cache).
    * Being under [[base]] keeps it on the per-run temp dirs' device,
    * so staged files hardlink into a run. */
  lazy val jvmDir: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory(base, "graft-jvm")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      org.apache.hadoop.fs.FileUtil.fullyDelete(p.toFile); ()
    }))
    p
  }
}
