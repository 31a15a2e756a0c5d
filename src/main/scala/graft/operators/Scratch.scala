package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one owner of the Spark storage the engine takes: caches, eager
  * lineage cuts and the files of reliable checkpoints. No other engine
  * code persists, checkpoints or frees a frame.
  *
  *  - [[cache]] and [[cut]] register what they take with the innermost
  *    [[scoped]] block open on the calling thread. When that block
  *    ends, normally or by a throw, everything registered in it is
  *    released: caches are unpersisted, checkpoint blocks dropped and
  *    checkpoint files deleted.
  *  - Outside any scope nothing is recorded, so the registry never keeps
  *    a frame alive for a caller that never releases. Such storage
  *    lives until [[release]] or a session-wide clearCache, as Spark's
  *    own `cache()` does.
  *  - [[release]] frees one frame now: an iterative operator's previous
  *    round, once its successor is materialized.
  *
  * Scopes belong to a thread: queries run concurrently on a pool, and
  * streaming micro-batches on their stream's thread, each own theirs.
  * Storage a lazily returned frame reads (a signature cache, a final
  * cut) stays valid until its scope ends, so a scope must enclose the
  * action that materializes the result. */
object Scratch {

  /** This thread's open scopes, innermost first. */
  private val open = new ThreadLocal[List[ArrayBuffer[DataFrame]]] {
    override def initialValue(): List[ArrayBuffer[DataFrame]] = Nil
  }

  private def hold(df: DataFrame): DataFrame = {
    open.get.headOption.foreach(_ += df)
    df
  }

  /** Persist `df` at MEMORY_AND_DISK (the level of Spark's `cache()`):
    * a frame read more than once, computed once. */
  def cache(df: DataFrame): DataFrame =
    hold(df.persist(StorageLevel.MEMORY_AND_DISK))

  /** Eagerly materialize `df` and cut its lineage. A reliable
    * `checkpoint` when the session has a checkpoint dir (required under
    * dynamic allocation or decommissioning, e.g. `Graft.elasticityWith`:
    * a retired executor takes localCheckpoint blocks with it, and a cut
    * lineage has no recompute path); `localCheckpoint` otherwise. */
  def cut(df: DataFrame): DataFrame = hold(
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true))

  /** Free `df`'s storage now and drop it from its scope. Only for frames
    * never read again: a released local checkpoint has no recompute
    * path. */
  def release(df: DataFrame): Unit = {
    open.get.foreach(_.filterInPlace(_ ne df))
    free(df, df.sparkSession)
  }

  /** Run `body`, then release everything [[cache]] and [[cut]] registered
    * on this thread while it ran. A failed release does not hide a
    * failure of `body`. */
  def scoped[T](spark: SparkSession)(body: => T): T = {
    val held = ArrayBuffer.empty[DataFrame]
    open.set(held :: open.get)
    // pops the scope and frees what it holds, newest first; the first
    // failure after trying every frame
    def close(): Option[Throwable] = {
      open.set(open.get.filterNot(_ eq held))
      held.reverseIterator.map(df => Try(free(df, spark))).toList
        .collectFirst { case Failure(e) => e }
    }
    val out =
      try body
      catch { case e: Throwable =>
        close().foreach(e.addSuppressed)
        throw e
      }
    close().foreach(e => throw e)
    out
  }

  /** A checkpoint lives at the RDD layer, not in the CacheManager, so
    * `Dataset.unpersist` does not free it: drop its blocks and delete
    * its file (Spark's cleaner deletes checkpoint files only with
    * spark.cleaner.referenceTracking.cleanCheckpoints on, and only
    * after a GC). Any other frame is a cache. */
  private def free(df: DataFrame, spark: SparkSession): Unit =
    df.queryExecution.logical match {
      case lr: LogicalRDD if lr.rdd.isCheckpointed =>
        val file = lr.rdd.getCheckpointFile
        lr.rdd.unpersist(blocking = false)
        file.foreach { f =>
          val p = new org.apache.hadoop.fs.Path(f)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, true)
        }
      case _ => df.unpersist(blocking = false)
    }
}
