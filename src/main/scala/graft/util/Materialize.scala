package graft.util

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.logging.log4j.LogManager
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD

/** The one owner of cached and checkpointed frames.
  *
  * Every `persist`, `localCheckpoint` and `checkpoint` in the engine goes
  * through here, and registers its frame in the calling thread's open
  * query scope. [[Watchdog.run]] opens that scope around each query body
  * and closes it in the body thread's `finally` — after the query's
  * terminal action, on failure, and on a late exit after a timeout — so
  * each query leaves the long-lived session as it found it: cached blocks
  * are unpersisted (blocking) and reliable-checkpoint files deleted.
  *
  * Each streaming sink trigger is a scope of its own (the `StreamOps`
  * `foreachBatch` skeleton), so a trigger's frames are released when the
  * trigger ends. Outside a scope (library callers, specs, the frames a
  * sink builds once at construction) each call does exactly what the
  * Dataset call does and registers nothing.
  *
  * The scope frees only what the query registered — never a sweep of
  * `getPersistentRDDs` (measured 12% slower on the Bench board).
  */
object Materialize {

  private val log = LogManager.getLogger(getClass.getName.stripSuffix("$"))

  private val open = new ThreadLocal[ArrayBuffer[Dataset[_]]]

  private def register[T](ds: Dataset[T]): Dataset[T] = {
    Option(open.get).foreach(_ += ds)
    ds
  }

  def persist[T](ds: Dataset[T]): Dataset[T] = register(ds.persist())

  def localCheckpoint[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] =
    register(ds.localCheckpoint(eager))

  def checkpoint[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] =
    register(ds.checkpoint(eager))

  /** Lineage cut for fixpoint loops: a reliable checkpoint when the
    * context has a checkpoint directory (the cluster posture: survives
    * executor loss), else a local checkpoint. */
  def lineageCut[T](ds: Dataset[T], eager: Boolean): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) checkpoint(ds, eager)
    else localCheckpoint(ds, eager)

  /** Run `body` in a fresh query scope and release everything it
    * registered when it exits, normally or not. Scopes nest: an inner
    * scope releases only its own frames. */
  def scoped[A](body: => A): A = {
    val outer = open.get
    val frames = ArrayBuffer.empty[Dataset[_]]
    open.set(frames)
    try body
    finally {
      open.set(outer)
      frames.reverseIterator.foreach(release)
    }
  }

  /** Drop `ds`'s storage now: its cache entry, and for a checkpointed
    * frame (a plan that is one `LogicalRDD` leaf) the blocks or files of
    * that RDD. Only call it on a dead frame: a local checkpoint has no
    * lineage, so a later action on a released one fails loudly instead of
    * recomputing. Blocking, unless the thread was interrupted (a timed-out
    * query's late exit). */
  def release(ds: Dataset[_]): Unit = {
    val blocking = !Thread.currentThread().isInterrupted
    quietly("unpersist")(ds.unpersist(blocking))
    quietly("checkpoint release") {
      ds.queryExecution.analyzed match {
        case lr: LogicalRDD =>
          val rdd = lr.rdd
          log.debug(s"release rdd ${rdd.id}")
          quietly(s"unpersist of rdd ${rdd.id}")(rdd.unpersist(blocking))
          rdd.getCheckpointFile.foreach { f =>
            quietly(s"delete of $f") {
              val p = new org.apache.hadoop.fs.Path(f)
              p.getFileSystem(rdd.sparkContext.hadoopConfiguration).delete(p, true)
            }
          }
        case _ => ()
      }
    }
  }

  private def quietly(what: String)(body: => Any): Unit =
    try body
    catch {
      case e @ (NonFatal(_) | _: InterruptedException) =>
        log.debug(s"release: $what failed", e)
    }
}
