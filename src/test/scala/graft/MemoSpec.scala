package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The build-once-per-key contract of [[Memo]], the one latch behind the
  * model memos, fixture offsets and stored assets. */
class MemoSpec extends AnyFunSuite with Matchers {

  private def thread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.start()
    t
  }

  test("three callers of one key: one build, one instance") {
    val memo = new Memo[AnyRef]
    val release = new CountDownLatch(1)
    val got = Array.fill(3)(new AtomicReference[AnyRef])
    val threads = got.map(r => thread(r.set(memo("k") {
      release.await(10, TimeUnit.SECONDS) // hold the build while the others arrive
      new Object
    })))
    Thread.sleep(200)
    release.countDown()
    threads.foreach(_.join(30000))
    memo.builds shouldBe 1
    got.map(_.get).distinct.length shouldBe 1
    got(0).get should not be null
  }

  test("two keys whose builds each wait for the other to start both finish") {
    val memo = new Memo[Boolean]
    val aStarted = new CountDownLatch(1)
    val bStarted = new CountDownLatch(1)
    val a = new AtomicReference[Option[Boolean]](None)
    val b = new AtomicReference[Option[Boolean]](None)
    val ta = thread(a.set(Some(memo("a") {
      aStarted.countDown(); bStarted.await(20, TimeUnit.SECONDS)
    })))
    val tb = thread(b.set(Some(memo("b") {
      bStarted.countDown(); aStarted.await(20, TimeUnit.SECONDS)
    })))
    ta.join(30000); tb.join(30000)
    a.get shouldBe Some(true)
    b.get shouldBe Some(true)
    memo.builds shouldBe 2
  }

  test("a throwing build stores nothing; the next caller builds") {
    val memo = new Memo[String]
    an[IllegalStateException] should be thrownBy
      memo("k")(throw new IllegalStateException("build failed"))
    memo.builds shouldBe 0
    memo("k")("v") shouldBe "v"
    memo("k")("other") shouldBe "v"
    memo.builds shouldBe 1
  }

  test("clear() causes a rebuild, and only in its own instance") {
    val memo = new Memo[Int]
    val other = new Memo[Int]
    memo("k")(1) shouldBe 1
    other("k")(10) shouldBe 10
    memo("k")(2) shouldBe 1
    memo.clear()
    memo("k")(3) shouldBe 3
    other("k")(11) shouldBe 10
    memo.builds shouldBe 2
    other.builds shouldBe 1
  }
}
