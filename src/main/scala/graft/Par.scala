package graft

import java.util.concurrent.{CompletionException, Executors}

import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** The one owner of driver-side concurrency in graft: index builds,
  * appends and the hybrid serve run two independent Spark actions as
  * legs, so one leg's jobs fill the slots the other's tail leaves idle. */
object Par {

  // daemon threads made on demand and reaped when idle: a leg that
  // overlaps again (q134/s25 overlap writeBm25Index, which overlaps its
  // postings write) gets its own thread, so nesting cannot deadlock
  private val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, "graft-overlap")
    t.setDaemon(true)
    t
  }

  /** Run `leg` on a pool thread while `body` runs on the calling
    * thread; return both results. The leg runs under the caller's
    * active session and Spark local properties as they are at the call
    * (`SQLExecution.withThreadLocalCaptured`), so its jobs carry the
    * caller's job description, group and tags. The leg is always joined
    * before this returns or rethrows: when `body` throws, nothing the
    * leg writes lands after the caller sees the failure (a failing
    * leg's exception rides along as suppressed); when only the leg
    * throws, its exception propagates unwrapped. */
  def overlap[L, B](leg: => L)(body: => B): (L, B) = {
    val f = SQLExecution.withThreadLocalCaptured(SparkSession.active, pool)(leg)
    def join(): L =
      try f.join()
      catch { case e: CompletionException if e.getCause != null => throw e.getCause }
    val b =
      try body
      catch {
        case t: Throwable =>
          try join() catch { case l: Throwable => if (l ne t) t.addSuppressed(l) }
          throw t
      }
    (join(), b)
  }
}
