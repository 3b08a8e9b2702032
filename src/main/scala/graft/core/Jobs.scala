package graft.core

import org.apache.spark.sql.SparkSession

/** Concurrent independent Spark jobs from one driver thread (guide
  * §2.6: actions are only sequential because driver code calls them
  * sequentially). Two independent legs submitted together let the
  * second job's tasks back-fill executors freed by the first job's
  * tail — wall-clock becomes max(leg) instead of sum(leg).
  *
  * The keep list's curate and components legs run through here.
  * Concurrency hygiene: a DEDICATED short-lived pool (never the shared
  * global EC), the caller's job group / description and the
  * thread-confined Mat seam re-scoped onto the workers, and a zipped
  * await that fails as soon as EITHER leg fails, cancelling the
  * captured job group so the surviving leg's jobs stop instead of
  * running detached.
  */
object Jobs {

  def concurrently[A, B](spark: SparkSession, legA: => A, legB: => B): (A, B) = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val sc = spark.sparkContext
    val jobGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
    val jobDesc = Option(sc.getLocalProperty("spark.job.description"))
    val transparent = Mat.isTransparent
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2, r => {
      val t = new Thread(r, "graft-concurrent-leg")
      t.setDaemon(true)
      t
    })
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    def leg[T](body: => T): Future[T] = Future {
      jobGroup.foreach(g => sc.setJobGroup(g, jobDesc.getOrElse("concurrent leg"), false))
      jobDesc.foreach(d => sc.setJobDescription(d))
      Mat.withTransparent(transparent)(body)
    }
    try {
      val fa = leg(legA)
      val fb = leg(legB)
      try Await.result(fa.zip(fb), Duration.Inf)
      catch {
        case e: Throwable =>
          jobGroup.foreach(g => try sc.cancelJobGroup(g) catch { case _: Throwable => () })
          throw e
      }
    } finally pool.shutdown()
  }
}
