package graft.core

import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}

/** The one cache of shared intermediates: source tables ([[Tables.load]])
  * and the memoized stages of the text and vector pipelines
  * (`graft.llm.LlmQueries`), keyed on (session, dir, name).
  *
  * An entry is served while its session is alive and `dir` still holds
  * what it held when the entry was built: the stamp of `dir` is each
  * regular file under it as (relative path, length, modification time).
  * A rewritten, added or deleted input file changes the stamp, so the next
  * call rebuilds the entry instead of serving a plan over files that are
  * gone, and releases the replaced one's checkpoint blocks
  * ([[GraftSqlBridge.unpersistCheckpoint]]; a no-op for a plain scan).
  * A directory the local file system cannot list stamps as empty, so its
  * entries live as long as their session.
  *
  * A hit returns the same `DataFrame` instance every time: callers that
  * read one table twice in a plan (MergeJoin's self-join re-alias) rely
  * on it. Each key has its own slot and is built under that slot's lock,
  * so a concurrent caller waits for the build rather than racing a second
  * one, and a build may itself read other entries (docTids → docTokens →
  * a table) without a global monitor. Entries of stopped sessions are
  * dropped on every call.
  */
object StageCache {

  private type Stamp = Seq[(String, Long, FileTime)]

  private final class Slot {
    var stamp: Stamp = Nil
    var df: DataFrame = null
  }

  private val slots = new ConcurrentHashMap[(SparkSession, String, String), Slot]()

  /** The entry `name` of `dir` in `spark`, built by `build` when there is
    * none or `dir` changed since it was built. */
  def get(spark: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame = {
    slots.keySet.removeIf { case (s, _, _) => s.sparkContext.isStopped }
    val slot = slots.computeIfAbsent((spark, dir, name), _ => new Slot)
    val now = stamp(dir)
    slot.synchronized {
      if (slot.df == null || slot.stamp != now) {
        val stale = slot.df
        slot.df = null
        if (stale != null) GraftSqlBridge.unpersistCheckpoint(stale)
        slot.df = build
        slot.stamp = now
      }
      slot.df
    }
  }

  /** The sessions that hold entries. */
  private[core] def sessions: Set[SparkSession] = {
    import scala.jdk.CollectionConverters._
    slots.keySet.asScala.map(_._1).toSet
  }

  /** Each regular file under `dir` as (relative path, length, modification
    * time), sorted by path; empty when `dir` does not exist. */
  private[core] def stamp(dir: String): Stamp = {
    val root = Paths.get(dir)
    val files = ArrayBuffer[(String, Long, FileTime)]()
    if (Files.exists(root)) Files.walkFileTree(root, new SimpleFileVisitor[Path] {
      override def visitFile(p: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) files += ((root.relativize(p).toString, a.size, a.lastModifiedTime))
        FileVisitResult.CONTINUE
      }
      // a file deleted while the walk runs: the stamp differs anyway
      override def visitFileFailed(p: Path, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    files.sortBy(_._1).toSeq
  }
}
