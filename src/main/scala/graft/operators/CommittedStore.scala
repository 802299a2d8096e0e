package graft.operators

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets

import graft.engine.StoreFs

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The commit protocol of the persisted operator stores ([[SignatureStore]],
  * [[SubstringWindowStore]], [[LmStore]], [[DsirStore]], [[IvfStore]]):
  * immutable parquet artifacts `root/corpusId/<name>.parquet` plus a
  * `_params` marker that holds the committed tag, written LAST through
  * [[StoreFs.writeAtomic]] — fossil's write-then-rename persistence
  * (SURVEY §2.1) at store level.
  *
  * A store is built exactly when its marker text equals the caller's tag.
  * A crashed build leaves no marker and rebuilds on the next call; a tag
  * change (new parameters, a version bump, another centroid recipe)
  * invalidates the store instead of letting readers mix artifacts built
  * under different rules, which would silently return wrong answers. Each
  * store keeps its own artifact list, the reason for its tag, and its own
  * refusal. */
private[operators] final case class CommittedStore(root: String, corpusId: String) {

  private val dir: String = s"$root/$corpusId"
  private def marker: String = s"$dir/_params"

  def path(name: String): String = s"$dir/$name.parquet"
  def exists(name: String): Boolean = StoreFs.exists(path(name))
  /** The artifact `name` as a bare parquet scan. */
  def read(spark: SparkSession, name: String): DataFrame = spark.read.parquet(path(name))

  /** The committed marker text; None while no build has committed. */
  def markerText: Option[String] =
    try Some(new String(StoreFs.readBytes(marker), StandardCharsets.UTF_8))
    catch { case _: FileNotFoundException => None }

  def markerMtime: Option[Long] = StoreFs.stamp(marker).map(_._1)

  def isBuilt(tag: String): Boolean = markerText.contains(tag)

  /** This store once its marker equals `tag`; otherwise an
    * `IllegalArgumentException` with the store's own `refusal`. */
  def requireBuilt(tag: String, refusal: => String): CommittedStore = {
    require(isBuilt(tag), refusal)
    this
  }

  /** [[rebuild]] unless the committed marker already equals `tag`; then
    * nothing is touched, the marker included. */
  def build(tag: String)(write: => Unit): Unit = if (!isBuilt(tag)) rebuild(tag)(write)

  /** Wipe the store, recreate its directory, let `write` land the
    * artifacts, then commit `tag`. */
  def rebuild(tag: String)(write: => Unit): Unit = {
    invalidate()
    StoreFs.mkdirs(dir)
    write
    commit(tag)
  }

  /** Change a committed store in place: the marker goes before `write`
    * lands anything and comes back as `tag` after it, so a crash in
    * between leaves an unreadable store (the next build wipes and
    * rebuilds), never a silently partial one. */
  def mutate(tag: String)(write: => Unit): Unit = {
    StoreFs.delete(marker)
    write
    commit(tag)
  }

  /** Marker first, then the tree: a delete cut short never leaves a
    * marker over a partial store. */
  def invalidate(): Unit = {
    StoreFs.delete(marker)
    StoreFs.deleteRecursive(dir)
  }

  /** Run `body` with `root/<corpusId>__<name>.parquet`, a path beside the
    * store for data that must outlive a wipe of it. A crashed run's
    * leftover is deleted first; the path is deleted after `body` returns,
    * but kept when it throws, since it may hold the only copy. */
  def aside[A](name: String)(body: String => A): A = {
    val p = s"$root/${corpusId}__$name.parquet"
    StoreFs.deleteRecursive(p)
    val out = body(p)
    StoreFs.deleteRecursive(p)
    out
  }

  private def commit(tag: String): Unit =
    StoreFs.writeAtomic(marker, tag.getBytes(StandardCharsets.UTF_8))
}
