package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import org.scalatest.funsuite.AnyFunSuite

class ThreadsSpec extends AnyFunSuite {

  test("inParallel surfaces the first failure itself and cancels the rest") {
    val started = new CountDownLatch(1)
    val queuedFinished = new AtomicBoolean(false)
    val slowInterrupted = new AtomicBoolean(false)
    val work = Seq[() => Int](
      () => {
        started.countDown()
        try { Thread.sleep(20000); 1 }
        catch { case e: InterruptedException =>
          slowInterrupted.set(true); throw e }
      },
      () => {
        started.await()
        throw new IllegalStateException("sink write failed")
      },
      // width 2: queued behind the two above; the worker the failure
      // frees may pick it up, but it must be dropped or interrupted
      () => { Thread.sleep(500); queuedFinished.set(true); 3 })
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Threads.inParallel(work, width = 2)
    }
    assert(e.getMessage == "sink write failed")
    // the caller does not wait out the slow thunk
    assert(TimeUnit.NANOSECONDS.toSeconds(System.nanoTime() - t0) < 10)
    Thread.sleep(1000)
    assert(!queuedFinished.get(), "a queued thunk ran on after the failure")
    assert(slowInterrupted.get(), "the running thunk was not interrupted")
  }
}
