package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[SideTask]]: a failure on either side surfaces as the original
  * exception, and the side thread has ended by the time the call that
  * started it returns or throws.
  */
class SideTaskSpec extends AnyFunSuite {

  private def alive(name: String): Boolean =
    Thread.getAllStackTraces.keySet.asScala.exists(t =>
      t.getName == name && t.isAlive)

  test("await: the body's result, or its own exception unwrapped") {
    assert(SideTask("side-ok")(41 + 1).await() === 42)
    val e = intercept[IllegalArgumentException] {
      SideTask("side-fails")(throw new IllegalArgumentException("side")).await()
    }
    assert(e.getMessage === "side")
    assert(!alive("side-fails"))
  }

  test("alongside: a failing main cancels the side task, awaits it, rethrows main's exception") {
    val started = new CountDownLatch(1)
    val interrupted = new AtomicBoolean(false)
    val side = SideTask("side-sleeps") {
      started.countDown()
      try Thread.sleep(60000)
      catch { case e: InterruptedException => interrupted.set(true); throw e }
    }
    started.await()
    val e = intercept[IllegalStateException] {
      side.alongside(throw new IllegalStateException("main"))
    }
    assert(e.getMessage === "main")
    assert(interrupted.get())
    assert(side.isDone && !alive("side-sleeps"))
  }

  test("worker: items consumed in order; finish waits for the last one") {
    val seen = new ConcurrentLinkedQueue[Int]
    val w = new SideTask.Worker[Int]("worker-ok", 2)({ i =>
      Thread.sleep(2); seen.add(i): Unit
    })
    w.alongside { (1 to 50).foreach(w.put); w.finish() }
    assert(seen.asScala.toSeq === (1 to 50))
    assert(!alive("worker-ok"))
  }

  test("worker: its failure stops the caller's hand-over with the original exception") {
    val w = new SideTask.Worker[Int]("worker-fails", 2)({ i =>
      if (i == 3) throw new ArithmeticException(s"item $i")
    })
    var handed = 0
    val e = intercept[ArithmeticException] {
      w.alongside {
        (1 to 1000).foreach { i => w.put(i); handed = i }
        w.finish()
      }
    }
    assert(e.getMessage === "item 3")
    // the caller stopped within the hand-off's capacity of the failure:
    // items 1-3 taken, at most 2 more waiting
    assert(handed <= 5)
    assert(!alive("worker-fails"))
  }

  test("worker: a failing caller stops the worker blocked on the hand-off") {
    val w = new SideTask.Worker[Int]("worker-idle", 2)(_ => ())
    val e = intercept[java.io.IOException] {
      w.alongside { w.put(1); throw new java.io.IOException("fetch") }
    }
    assert(e.getMessage === "fetch")
    assert(!alive("worker-idle"))
  }
}
