package crawlbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.frontier.{FrontierStore, SeenFilter, SnapshotStore, StoreSnapshot}

/**
 * A delegating [[SnapshotStore]] that times every call into the frontier
 * layer from the outside. Each call goes unchanged to the wrapped store;
 * the wrapper only records when it started and ended. With `detail` it
 * also reads the committed manifest and the snapshot's files, after the
 * commit has returned, for the layer's size counters; it logs the time
 * that takes, so the report can keep it out of the engine's own time.
 */
final class TimedStore(inner: FrontierStore, root: Path, detail: Boolean,
    val log: TimedStore.Log = new TimedStore.Log) extends SnapshotStore {
  import TimedStore._

  def currentId: Option[Long] = inner.currentId

  def read(spark: SparkSession): Option[StoreSnapshot] = {
    val t0 = System.nanoTime()
    try inner.read(spark) finally log.reads += Stats.Iv(t0, System.nanoTime())
  }

  def seenFilter(spark: SparkSession): Option[SeenFilter] = {
    val t0 = System.nanoTime()
    try inner.seenFilter(spark) finally log.seenFilters += Stats.Iv(t0, System.nanoTime())
  }

  def writeIncremental(spark: SparkSession, step: Int, now: Double, upserts: DataFrame,
      freshKeys: DataFrame, budgets: DataFrame, newResults: DataFrame,
      counters: DataFrame): Long = {
    val t0 = System.nanoTime()
    val id = inner.writeIncremental(spark, step, now, upserts, freshKeys, budgets,
      newResults, counters)
    val iv = Stats.Iv(t0, System.nanoTime())
    log.commits += (if (detail) {
      val s = System.nanoTime()
      try inspect(id, step, iv) finally log.inspects += Stats.Iv(s, System.nanoTime())
    } else Commit(id, step, iv))
    id
  }

  private def inspect(id: Long, step: Int, iv: Stats.Iv): Commit = {
    val m = inner.manifestJson(id)
    val seenRows = longs(m, "seen_rows")
    val seenCap = longs(m, "seen_cap")
    val fill = seenRows.zip(seenCap).collect { case (r, c) if c > 0 => r.toDouble / c }
    val bloomBytes = longs(m, "seen_owner").zipWithIndex.collect {
      case (owner, b) if owner != 0L => sizeOf(Path.of(SeenFilter.bloomPath(root.toString, owner, b)))
    }.sum
    Commit(id, step, iv,
      compaction = num(m, "base").contains(id),
      bytesWritten = sizeOf(root.resolve(f"snap-$id%06d")),
      snapDirs = snapDirCount(root),
      seenFillMax = if (fill.isEmpty) 0.0 else fill.max,
      bloomBytes = bloomBytes)
  }
}

object TimedStore {
  /** Calls recorded by one or more wrappers over the same store directory. */
  final class Log {
    val commits = scala.collection.mutable.ArrayBuffer.empty[Commit]
    val reads = scala.collection.mutable.ArrayBuffer.empty[Stats.Iv]
    val seenFilters = scala.collection.mutable.ArrayBuffer.empty[Stats.Iv]
    /** the benchmark's own reads of a commit's files, with `detail` */
    val inspects = scala.collection.mutable.ArrayBuffer.empty[Stats.Iv]
  }

  /** One commit: snapshot id, crawl step, wall interval (ns) and, when the
    * store was built with `detail`, the snapshot's size counters. */
  final case class Commit(id: Long, step: Int, iv: Stats.Iv, compaction: Boolean = false,
      bytesWritten: Long = 0L, snapDirs: Int = 0, seenFillMax: Double = 0.0,
      bloomBytes: Long = 0L)

  private def num(m: String, key: String): Option[Long] =
    s""""$key":(-?\\d+)""".r.findFirstMatchIn(m).map(_.group(1).toLong)

  private def longs(m: String, key: String): Seq[Long] =
    s""""$key":"([^"]*)"""".r.findFirstMatchIn(m).map(_.group(1)).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(_.toLong)).getOrElse(Nil)

  /** Bytes of all regular files under `p` (0 when it does not exist). */
  def sizeOf(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def snapDirCount(root: Path): Int = {
    val s = Files.list(root)
    try s.filter(_.getFileName.toString.matches("snap-\\d+")).count().toInt finally s.close()
  }
}
