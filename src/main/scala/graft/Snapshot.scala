package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.storage.StorageLevel

/** The files one snapshot of a plan was read from: for every file
  * relation of the plan, its root paths, its read options and (path,
  * length, modification time) of each input file. Rows held in the plan
  * itself (a local relation) are part of the plan a value was built
  * from, so they add nothing to compare. */
private[graft] final case class FeedSnapshot(sources: Seq[FeedSnapshot.Source]) {
  /** One driver-side listing of every root: the snapshot is unchanged
    * when it finds exactly the same files. */
  def unchanged(spark: SparkSession): Boolean =
    sources.forall(s => s.relist(spark) == s.files)
}

private[graft] object FeedSnapshot {
  final case class Source(roots: Seq[Path], options: Map[String, String],
                          files: Seq[(String, Long, Long)]) {
    def relist(spark: SparkSession): Seq[(String, Long, Long)] =
      listing(new InMemoryFileIndex(spark, roots, options, None))
  }

  private def listing(ix: InMemoryFileIndex): Seq[(String, Long, Long)] =
    ix.allFiles().map(st =>
      (st.getPath.toString, st.getLen, st.getModificationTime)).sorted

  /** The snapshot `df` reads, from the listing its file relations already
    * hold. None when a leaf's content cannot be pinned that way (e.g. a
    * JDBC relation): a value built from such a plan is rebuilt on every
    * lookup. */
  def of(df: DataFrame): Option[FeedSnapshot] = {
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val sources = leaves.flatMap {
      case r: LogicalRelation => r.relation match {
        case h: HadoopFsRelation => h.location match {
          case ix: InMemoryFileIndex =>
            Some(Source(ix.rootPaths, h.options, listing(ix)))
          case _ => None
        }
        case _ => None
      }
      case _ => None
    }
    val inPlan = leaves.count(_.isInstanceOf[LocalRelation])
    if (sources.size + inPlan == leaves.size) Some(FeedSnapshot(sources))
    else None
  }
}

/** One value built from a snapshot of some files, rebuilt when the files
  * change. Every lookup relists the snapshot the value was built from; on
  * a hit that listing is the only work. On a miss the value is built
  * again, its identity is the listing the build itself read (so files
  * that change during a build make the next lookup rebuild, never serve
  * a stale value), and the old value is released after the new one is
  * built. The check and the build run under the slot's lock, so
  * concurrent callers build once. */
private[graft] final class SnapshotSlot[V](release: V => Unit) {
  private var entry: Option[(V, Option[FeedSnapshot])] = None

  /** The value of the current snapshot. `build` returns the new value and
    * the snapshot it read. */
  def current(spark: SparkSession)(build: => (V, Option[FeedSnapshot])): V = synchronized {
    entry.filter(_._2.exists(_.unchanged(spark))) match {
      case Some((v, _)) => v
      case None =>
        val built = build
        clear()
        entry = Some(built)
        built._1
    }
  }

  /** Release the value; the next lookup builds it again. */
  def clear(): Unit = synchronized {
    entry.foreach(e => release(e._1))
    entry = None
  }
}

private[graft] object SnapshotSlot {
  /** `df` persisted in executor storage and computed once, so a value is
    * whole when it is served; a failed build leaves nothing cached. */
  def materialize(df: DataFrame): DataFrame = {
    val out = df.persist(StorageLevel.MEMORY_AND_DISK)
    try out.count()
    catch { case e: Throwable => out.unpersist(); throw e }
    out
  }
}

/** One [[SnapshotSlot]] per (SparkContext, key), so every caller on one
  * context shares a value and no context serves another's cached plans.
  * Slots of a stopped SparkContext are dropped, never served. */
private[graft] final class SnapshotRegistry[V](release: V => Unit) {
  private val slots = new ConcurrentHashMap[(SparkContext, String), SnapshotSlot[V]]()

  def current(spark: SparkSession, key: String)(build: => (V, Option[FeedSnapshot])): V = {
    slots.keySet.removeIf(_._1.isStopped)
    slots.computeIfAbsent((spark.sparkContext, key), _ => new SnapshotSlot[V](release))
      .current(spark)(build)
  }

  def clear(spark: SparkSession, key: String): Unit =
    Option(slots.get((spark.sparkContext, key))).foreach(_.clear())
}
