package graft

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Pool

/** `Pool.drainAll` — the one worker pool under every tick fan-out. Its
  * failure rule is what keeps the commit protocols crash-equivalent
  * under concurrency: no unit may still be writing once the caller
  * sees a failure, and the failure surfaced is the one a sequential
  * loop would have hit first. */
class PoolSpec extends AnyFunSuite {

  private class Fatal extends Error("fatal")

  test("a fatal Error joins the running sibling before it is rethrown; " +
      "nothing the sibling does lands after the throw") {
    val started = new CountDownLatch(1)
    val finished = new AtomicBoolean(false)
    val flag = new AtomicInteger(0)
    intercept[Fatal] {
      Pool.drainAll(2, Seq(
        () => {
          started.countDown()
          try { Thread.sleep(300); flag.incrementAndGet() }
          finally finished.set(true)
        },
        () => { started.await(); throw new Fatal }))
    }
    assert(finished.get, "the running sibling has joined")
    val atThrow = flag.get
    Thread.sleep(600) // longer than the sibling's whole sleep
    assert(flag.get === atThrow)
  }

  test("the first Exception in input order is rethrown unwrapped, " +
      "only after every unit has joined") {
    val joined = new AtomicInteger(0)
    val ex = intercept[IllegalStateException] {
      Pool.drainAll(3, Seq(
        () => { Thread.sleep(200); joined.incrementAndGet(); () },
        () => { joined.incrementAndGet(); throw new IllegalStateException("first") },
        () => {
          Thread.sleep(100); joined.incrementAndGet()
          throw new IllegalArgumentException("second")
        }))
    }
    assert(ex.getMessage === "first")
    assert(joined.get === 3)
  }

  test("results come back in input order; one unit runs inline") {
    val n = 8
    val out = Pool.drainAll(4, (0 until n).map { i => () =>
      Thread.sleep(10L * (n - i)); i // later units finish first
    })
    assert(out === (0 until n))
    val caller = Thread.currentThread
    assert(Pool.drainAll(4, Seq(() => Thread.currentThread)) === Seq(caller))
    assert(Pool.drainAll(4, Seq.empty[() => Int]) === Seq.empty)
  }
}
