package graft.ops

import graft.SparkSpec

/** Pins [[Dedup.eagerOverlap]] (r22): the background launch of an eager
  * chain (probe checkpoint, history CC) plus the failure contract —
  * await() rethrows the body's own exception, cancel() is safe in every
  * state. (A busy-driver inline gate was tried and REVERTED inside r22:
  * the calm paired A/B measured inline q98 ~1.7x worse in-batch —
  * FAIR scheduling shares the pool per JOB, so holding two concurrent
  * chains is how a query keeps its share; see eagerOverlap's scaladoc.)
  */
class EagerOverlapSpec extends SparkSpec {

  test("the handle returns the body's value; cancel is a no-op after completion") {
    val h = Dedup.eagerOverlap(spark, "spec: value")(21 * 2)
    assert(h.await() == 42)
    h.cancel() // finished group: must be a no-op
    assert(h.await() == 42)
  }

  test("the background chain can run real Spark jobs under its job group") {
    val h = Dedup.eagerOverlap(spark, "spec: job")(
      spark.range(1000).selectExpr("sum(id)").collect()(0).getLong(0))
    assert(h.await() == 499500L)
  }

  test("the body's failure surfaces at await, unwrapped; cancel after failure is safe") {
    val h = Dedup.eagerOverlap(spark, "spec: failure")(sys.error("boom"): Int)
    val e = intercept[RuntimeException](h.await())
    assert(e.getMessage.contains("boom"))
    h.cancel()
  }

  test("a cancel() that lands before the body submits its jobs stops every one of them") {
    import org.apache.spark.scheduler.{JobSucceeded, SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val desc = s"spec: cancel-before-${java.util.UUID.randomUUID()}"
    val started = new java.util.concurrent.ConcurrentHashMap[Int, Unit]()
    val succeeded = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == desc)) started.put(e.jobId, ())
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (started.containsKey(e.jobId) && e.jobResult == JobSucceeded) succeeded.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val entered = new java.util.concurrent.CountDownLatch(1)
      val gate = new java.util.concurrent.CountDownLatch(1)
      val h = Dedup.eagerOverlap(spark, desc) {
        entered.countDown()
        gate.await()
        spark.range(1000).selectExpr("sum(id)").collect()(0).getLong(0) +
          spark.range(10).count()
      }
      // the body is running but has not submitted a job yet
      assert(entered.await(1, java.util.concurrent.TimeUnit.MINUTES))
      h.cancel()
      gate.countDown()
      val e = intercept[Exception](h.await())
      assert(String.valueOf(e.getMessage).toLowerCase.contains("cancel"), e.toString)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      assert(succeeded.get == 0, "no job of a cancelled body may run to completion")
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
