package graft.core

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.util.{Try, Using}
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Release of `localCheckpoint`ed frames. */
object Checkpoint {
  /** Unpersists the RDD behind a `localCheckpoint`ed frame (the first
    * `LogicalRDD` of its plan). Superseded checkpoints are otherwise
    * freed only when the driver GC collects the Dataset and
    * ContextCleaner notices — on a large heap that lag lets an
    * iterative loop pile up dead snapshots in block-manager memory,
    * evicting live cache. Only call on checkpoints no live plan still
    * references: the lineage is truncated, so freed blocks are NOT
    * recomputable.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.rdd }
      .foreach(_.unpersist(false))
}

/** The one owner of a query's scratch state: the persisted frames,
  * eager `localCheckpoint`s and temp directories that a body builds
  * its result from.
  *
  * Rules:
  *  - everything registered is released when the body returns or
  *    throws, in reverse order of registration;
  *  - [[persist]] leaves an input the caller had already cached alone:
  *    it is neither re-persisted nor unpersisted;
  *  - a body whose result reads scope state returns that result
  *    already materialized, through an unregistered
  *    `localCheckpoint(true)`. The caller then holds only the small
  *    result, and nothing pins corpus-sized blocks after the query.
  *
  * A query whose lazy result still reads one of its checkpoints (the
  * Dedup/Multimodal/Curation sites that return a plan over a
  * `localCheckpoint`, `trianglesOf`'s distributed arm, q54's degree
  * table, `Mining`'s baskets) does not use a Scope: materializing its
  * result would cost one more job per call. Those checkpoints are freed
  * by ContextCleaner once the result is dropped. [[Rounds]] keeps its
  * own per-round release.
  */
final class Scope private () extends AutoCloseable {
  private val releases = ArrayBuffer.empty[() => Unit]

  /** `df` persisted at `level` until the scope closes, or `df` itself
    * when the caller had already cached it.
    */
  def persist(df: DataFrame,
      level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    if (df.storageLevel != StorageLevel.NONE) df
    else {
      df.persist(level)
      releases += (() => { df.unpersist(); () })
      df
    }

  /** An eager `localCheckpoint` of `df`, released when the scope closes. */
  def checkpoint(df: DataFrame): DataFrame = own(df.localCheckpoint(true))

  /** Registers a checkpoint made elsewhere (a lazy one, or a
    * [[Rounds]] result) for release when the scope closes.
    */
  def own(cp: DataFrame): DataFrame = {
    releases += (() => Checkpoint.release(cp))
    cp
  }

  /** A new directory `graft_<name>_…` under `java.io.tmpdir`, deleted
    * when the scope closes. It is also registered with Spark's
    * shutdown-time delete, so a JVM that exits inside the body (not
    * killed outright) still removes it.
    */
  def tempDir(name: String): Path = {
    val dir = Files.createTempDirectory(s"graft_${name}_")
    GraftSqlBridge.deleteOnExit(dir.toFile)
    releases += (() => GraftSqlBridge.deleteRecursively(dir.toFile))
    dir
  }

  /** Runs every release, newest first; the first failure is rethrown
    * with the others suppressed onto it. [[Scope.run]] calls this.
    */
  def close(): Unit = {
    val errors = releases.reverseIterator.flatMap(r => Try(r()).failed.toOption).toList
    releases.clear()
    errors.headOption.foreach { e => errors.tail.foreach(e.addSuppressed); throw e }
  }
}

object Scope {
  /** Runs `body` in a fresh scope and releases what it registered,
    * whether the body returns or throws.
    */
  def run[T](body: Scope => T): T = Using.resource(new Scope)(body)
}
