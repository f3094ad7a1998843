package graft.pipebench

import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Blocks staged in memory for the backfill fetcher, keyed by a store
  * name so the fetch closure captures only that name. Local-mode tasks run
  * in this JVM, so a fetch is a map lookup: the benchmark times the
  * pipeline, not an RPC stand-in. */
object BlockStore {
  private val stores = new ConcurrentHashMap[String, ConcurrentHashMap[java.lang.Long, String]]()
  def put(store: String, slot: Long, json: String): Unit =
    stores.computeIfAbsent(store, _ => new ConcurrentHashMap()).put(slot, json)
  def get(store: String, slot: Long): Option[String] =
    Option(stores.get(store)).flatMap(m => Option(m.get(slot)))
  def fetcher(store: String): graft.ingest.Backfill.BlockFetcher = {
    val s = store
    (slot: Long) => BlockStore.get(s, slot)
  }
}

/** Heap occupancy: the peak right after any collection, from the JVM's GC
  * notifications, and the live heap after a full collection at the end of
  * each operation. */
object HeapWatch {
  @volatile private var peak = 0L
  @volatile private var armed = false

  def install(): Unit =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (armed && n.getType ==
              com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo
              .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if isHeap(pool) => u.getUsed
            }.sum
            if (used > peak) peak = used
          }
        }, null, null)
      case _ => ()
    }

  private val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private def isHeap(pool: String) = heapPools(pool)

  def arm(): Unit = { peak = 0L; armed = true }
  def peakMb: Double = peak / 1048576.0

  private val live = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** Full collection, then record the heap still in use. */
  def settle(): Unit = {
    System.gc()
    live += java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
  /** Median over the operations of the heap left after a full collection. */
  def liveMb: Double = Stats.median(live.toSeq)
}

object Fs {
  def rm(p: Path): Unit = if (Files.exists(p))
    Files.walkFileTree(p, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes) = { Files.delete(f); FileVisitResult.CONTINUE }
      override def postVisitDirectory(d: Path, e: java.io.IOException) = { Files.delete(d); FileVisitResult.CONTINUE }
    })

  def copy(from: Path, to: Path): Unit =
    Files.walkFileTree(from, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path, a: BasicFileAttributes) = {
        Files.createDirectories(to.resolve(from.relativize(d))); FileVisitResult.CONTINUE
      }
      override def visitFile(f: Path, a: BasicFileAttributes) = {
        Files.copy(f, to.resolve(from.relativize(f)), StandardCopyOption.COPY_ATTRIBUTES)
        FileVisitResult.CONTINUE
      }
    })

  /** Parquet data files under a directory: (count, bytes). */
  def parquet(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val fs = Files.walk(p).iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet")).toSeq
      (fs.size.toLong, fs.map(Files.size).sum)
    }

  def size(p: Path): Long = if (Files.exists(p)) Files.size(p) else 0L
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

/** The benchmark's run-wide context. */
final class Ctx(val spark: SparkSession, val seed: Long, val work: Path) {
  val nproc: Int = spark.sparkContext.defaultParallelism
  private var n = 0
  /** A fresh directory path under the run's work directory. */
  def fresh(tag: String): Path = { n += 1; work.resolve(f"$tag-$n%03d") }
  def path(p: Path): String = p.toAbsolutePath.toString
  private var last = System.nanoTime()
  /** Logs the seconds since the previous note to stderr: the set-up breakdown. */
  def note(what: String): Unit = {
    val now = System.nanoTime()
    System.err.println(f"[pipebench] $what%s ${(now - last) / 1e9}%.2f s")
    last = now
  }
}
