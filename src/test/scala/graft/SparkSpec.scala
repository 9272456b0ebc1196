package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs — one per suite (lazy). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf0001 = "/root/testdata/sf0.001"

  /** Pinned-relation hygiene (r10 advice): a test that materializes
    * persisted relations must release them even when an assertion FAILS —
    * a success-path-only clearCache leaks the pins into every later test
    * in the suite, turning one red row into cascading cache-dependent
    * flakes. Wrap the assertion body; the cache clears on both paths.
    */
  def withClearCache[A](body: => A): A =
    try body finally spark.sharedState.cacheManager.clearCache()

  /** All messages down a throwable's cause chain — loud-failure tests
    * (raise_error guards, FAILFAST aborts) assert on the NAMED message,
    * which Spark wraps in task/job failure layers.
    */
  def causeMessages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).toSeq
}

object SparkSpec {
  lazy val session: SparkSession = SparkEntry.localSession(4)
}
