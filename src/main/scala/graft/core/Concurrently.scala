package graft.core

import java.util.concurrent.{CompletionException, ExecutorService, Executors}
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.classic.ClassicConversions.castToImpl
import org.apache.spark.sql.execution.SQLExecution

/** Two independent pieces of Spark work run at once, as a sync overlaps
  * its nodes and edges commits.
  *
  * The second piece runs on a pooled thread that carries the caller's
  * Spark local properties (job group, scheduler pool) and active session,
  * through Spark's own `SQLExecution.withThreadLocalCaptured`, the hand-off
  * broadcast and subquery threads use. Its jobs are attributed to the
  * caller's job group like the caller's own.
  *
  * Both pieces always finish before `both` returns or throws: a caller's
  * `finally` that unpersists a frame both pieces read must not run while
  * the other piece still reads it. A failure is rethrown only then: the
  * caller's piece's first, with the other's attached as suppressed. (A
  * fatal error on the calling thread, such as an interrupt, propagates at
  * once.) Neither piece may `return` from an enclosing method.
  */
object Concurrently {

  // one thread per call in flight; an idle thread exits after 60 s
  private lazy val pool: ExecutorService = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "graft-concurrently")
    t.setDaemon(true)
    t
  }

  /** Run `a` on the calling thread and `b` beside it; return both results. */
  def both[A, B](spark: SparkSession)(a: => A, b: => B): (A, B) = {
    val second = SQLExecution.withThreadLocalCaptured(castToImpl(spark), pool)(b)
    val first = Try(a)
    val other = Try(second.join()).recoverWith {
      case e: CompletionException if e.getCause != null => Failure(e.getCause)
    }
    (first, other) match {
      case (Success(x), Success(y)) => (x, y)
      case (Failure(e), o) => o.failed.foreach(e.addSuppressed); throw e
      case (_, Failure(e)) => throw e
    }
  }
}
