package graft.perfbench

import java.util.concurrent.{Callable, ExecutionException, Executors, ThreadFactory, TimeUnit, TimeoutException}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's one client. Each operation runs on a dedicated thread
  * while the caller waits for it (a closed loop); past `deadlineS` its
  * Spark jobs are cancelled and the operation counts as failed. An
  * operation that will not stop even then wedges the runner, and every
  * later operation fails without running. */
final class Runner(spark: SparkSession, trace: Trace, val deadlineS: Double) {
  private val pool = Executors.newSingleThreadExecutor(new ThreadFactory {
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, "perfbench-client")
      t.setDaemon(true)
      t
    }
  })
  private var seq = 0
  private var wedged = false

  /** Runs `body` as one operation: (wall seconds, result or error, job group). */
  def op[A](layer: String, name: String)(body: => A): (Double, Either[String, A], String) = {
    seq += 1
    val group = s"perfbench-$seq"
    if (wedged) return (deadlineS, Left("not run: an earlier operation did not stop"), group)
    val span = trace.begin(layer, name, group)
    val t0 = System.nanoTime()
    val fut = pool.submit(new Callable[A] {
      def call(): A = {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try body finally spark.sparkContext.clearJobGroup()
      }
    })
    val res: Either[String, A] =
      try Right(fut.get((deadlineS * 1e9).toLong, TimeUnit.NANOSECONDS))
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(group)
          try fut.get(10, TimeUnit.SECONDS)
          catch {
            case _: TimeoutException => wedged = true
            case NonFatal(_) => ()
          }
          Left(f"timed out after $deadlineS%.0f s")
        case e: ExecutionException => Left(Runner.describe(e.getCause))
      }
    val dt = (System.nanoTime() - t0) / 1e9
    trace.end(span)
    (dt, res, group)
  }

  def shutdown(): Unit = { pool.shutdownNow(); () }
}

object Runner {
  def describe(e: Throwable): String = {
    var root = e
    while (root.getCause != null && root.getCause != root) root = root.getCause
    val msg = s"${e.getClass.getSimpleName}: ${e.getMessage}"
    val rootMsg = s"${root.getClass.getSimpleName}: ${root.getMessage}"
    (if (root eq e) msg else s"$msg <- $rootMsg").take(400)
  }
}
