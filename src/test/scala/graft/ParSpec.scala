package graft

import java.util.concurrent.TimeUnit
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

object ParSpec {
  /** Tasks of the sibling job still inside their sleep (one JVM in
    * local mode, so the tasks and the test see the same counter).
    */
  val sleeping = new AtomicInteger
}

/** `Par.settleAll` cancels the siblings of a failed thunk. */
class ParSpec extends SparkSpec {

  test("settleAll: the first failure cancels a sibling's running job, and the " +
      "call returns at once with the caller's job group kept") {
    val sc = spark.sparkContext
    val group = s"par-spec-${java.util.UUID.randomUUID}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          if (p.getProperty("spark.jobGroup.id") == group)
            seen.add((p.getProperty("spark.jobGroup.id"), p.getProperty("spark.job.tags", "")))
        }
    }
    sc.addSparkListener(l)
    val t0 = System.nanoTime
    val e =
      try {
        sc.setJobGroup(group, "settleAll")
        intercept[IllegalStateException] {
          Par.settleAll(Seq[() => Long](
            () => throw new IllegalStateException("sink failed"),
            () => sc.parallelize(1 to 4, 4).map { i =>
              ParSpec.sleeping.incrementAndGet()
              try Thread.sleep(120000) finally ParSpec.sleeping.decrementAndGet()
              i
            }.count()))
        }
      } finally {
        sc.clearJobGroup()
      }
    val secs = (System.nanoTime - t0) / 1e9
    try {
      assert(e.getMessage == "sink failed")
      assert(secs < 30, f"settleAll took $secs%.1f s")
      // the sibling's job failed as cancelled, suppressed under the cause
      assert(e.getSuppressed.toSeq.exists {
        case s: SparkException => s.getMessage.toLowerCase.contains("cancel")
        case _ => false
      }, e.getSuppressed.toSeq.map(_.toString).mkString("; "))
      // its tasks were interrupted, not left sleeping on the executor
      val deadline = System.nanoTime + TimeUnit.SECONDS.toNanos(20)
      while (ParSpec.sleeping.get > 0 && System.nanoTime < deadline) Thread.sleep(50)
      assert(ParSpec.sleeping.get == 0, "cancelled tasks still running")
      // the job ran under the caller's group, with the call's tag added
      val deadline2 = System.nanoTime + TimeUnit.SECONDS.toNanos(20)
      while (seen.isEmpty && System.nanoTime < deadline2) Thread.sleep(50)
      assert(!seen.isEmpty, "the sibling's job never started under the caller's group")
      assert(seen.peek()._2.split(",").exists(_.startsWith("graft-par-")), seen.peek().toString)
    } finally sc.removeSparkListener(l)
  }

  test("settleAll: without a failure every result comes back in input order") {
    assert(Par.settleAll(Seq(() => spark.range(3).count(), () => 7L, () => 11L)) ==
      Seq(3L, 7L, 11L))
  }
}
