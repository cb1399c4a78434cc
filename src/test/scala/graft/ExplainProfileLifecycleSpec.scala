package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.api.ExplainProfile
import graft.obs.TaskLedger
import org.apache.spark.sql.graftbridge.Bridge

/** Lifecycle edges of the EXPLAIN ANALYZE profiler (VERDICT r16 #5):
  * under concurrent profiled requests AND cap-killed requests (release
  * without render, mid-job), the two registries must drain to empty —
  * the ADVICE r16 race was an onJobStart interleaving with release that
  * leaked stageToGroup entries permanently. Also pins that a job whose
  * start event lands after its group was released is silently
  * uncounted (the request is over — documented at render()).
  */
class ExplainProfileLifecycleSpec extends SparkTestBase {

  private def sc = spark.sparkContext

  private def runTinyJob(groupId: String): Unit = {
    sc.setJobGroup(groupId, "lifecycle-spec", interruptOnCancel = true)
    try spark.range(0, 64, 1, 2).selectExpr("sum(id)").collect(): Unit
    finally sc.clearJobGroup()
  }

  private def drained(): (Int, Int) = {
    Bridge.drainListenerBus(sc, 10000L)
    TaskLedger.registrySize
  }

  test("render waits out the async bus: a real job is never jobs:[]") {
    val gid = "lifecycle-render-sees-jobs"
    ExplainProfile.begin(sc, gid)
    runTinyJob(gid)
    // NO manual bus drain here — render itself must absorb the
    // asynchronous delivery (the ADVICE r16 timing dependence)
    val line = ExplainProfile.render(gid, "GET", "/spec", 1.0, 200)
    assert(line.nonEmpty)
    assert(line.get.contains(""""jobs":[{"job":"""), line.get)
    assert(drained() == ((0, 0)))
  }

  test("job registered after release is uncounted and leaks nothing") {
    val gid = "lifecycle-late-job"
    ExplainProfile.begin(sc, gid)
    ExplainProfile.release(gid)
    runTinyJob(gid) // group already gone: listener must ignore it
    assert(drained() == ((0, 0)))
    assert(ExplainProfile.render(gid, "GET", "/spec", 1.0, 200).isEmpty)
  }

  test("concurrent render/release vs in-flight jobs drain the registries") {
    val pool = Executors.newFixedThreadPool(8)
    val rounds = 40
    try {
      val start = new CountDownLatch(1)
      val done = new CountDownLatch(rounds)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      for (i <- 0 until rounds) {
        pool.execute { () =>
          try {
            start.await()
            val gid = s"lifecycle-race-$i"
            ExplainProfile.begin(sc, gid)
            if (i % 3 == 0) {
              // cap-kill shape: release races the job's listener events
              val job = new Thread(() =>
                try runTinyJob(gid)
                catch { case scala.util.control.NonFatal(_) => () })
              job.start()
              ExplainProfile.release(gid)
              job.join(30000)
            } else {
              runTinyJob(gid)
              val line = ExplainProfile.render(gid, "GET", "/spec", 1.0, 200)
              assert(line.nonEmpty, gid)
              // success path: the request's own work is in the line
              assert(line.get.contains(""""jobs":"""), line.get)
              // render released everything; the error-path twin is a no-op
              ExplainProfile.release(gid)
            }
          } catch { case t: Throwable => errors.add(t): Unit }
          finally done.countDown()
        }
      }
      start.countDown()
      assert(done.await(120, TimeUnit.SECONDS), "stress rounds timed out")
      assert(errors.isEmpty, errors)
      assert(drained() == ((0, 0)),
        s"registries leaked: ${TaskLedger.registrySize}")
    } finally { pool.shutdownNow(): Unit }
  }
}
