package graft

import java.util.concurrent.{TimeoutException, TimeUnit}

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext

/** Spark jobs a query builder runs concurrently from driver threads. */
object DriverJobs {

  /** Bound on the driver's wait for them: a wedged job fails its query,
    * it does not hang the run. Far above the wall time of any declared
    * query at sf0.1 (about 10 s at most). */
  val WaitTimeout: Duration = Duration(30, TimeUnit.MINUTES)

  private val Tags = Seq(
    "spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")

  /** Run `jobs` on pool threads and return their results in order. Pool
    * threads do not inherit the caller's job group and description, so
    * each job sets them before submitting: listeners attribute its Spark
    * jobs to the caller, and cancelling the caller's group reaches them.
    * The wait is bounded by [[WaitTimeout]]; on timeout the caller's job
    * group is cancelled and the TimeoutException rethrown. */
  def runAll[T](sc: SparkContext)(jobs: Seq[() => T]): Seq[T] = {
    val tags = Tags.map(k => k -> sc.getLocalProperty(k))
    val running = jobs.map { job =>
      Future {
        tags.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        try job()
        finally tags.foreach { case (k, _) => sc.setLocalProperty(k, null) }
      }
    }
    try Await.result(Future.sequence(running), WaitTimeout)
    catch {
      case e: TimeoutException =>
        Option(sc.getLocalProperty("spark.jobGroup.id")).foreach(sc.cancelJobGroup)
        throw e
    }
  }
}
