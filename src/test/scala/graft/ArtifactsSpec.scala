package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import graft.util.Artifacts
import graft.util.Artifacts.Key

/** The artifact registry's contract, in memory (no Spark): build once per
  * key, per-key locking, nesting, failure, capacity and prefix drains.
  * Every key lives under "spec." and each test drains it. */
class ArtifactsSpec extends AnyFunSuite {

  private def fresh(body: => Unit): Unit =
    try body finally Artifacts.drain("spec.")

  private def seqOf[T](q: java.util.Collection[T]): Seq[T] = q.asScala.toSeq

  private def thread(body: => Unit): Thread = {
    val t = new Thread(() => body); t.start(); t
  }

  test("two threads asking for one key build it once") {
    fresh {
      val builds = new AtomicInteger()
      val go = new CountDownLatch(1)
      val got = new java.util.concurrent.ConcurrentLinkedQueue[AnyRef]()
      val ts = (1 to 2).map(_ => thread {
        go.await()
        got.add(Artifacts.getOrBuild(Key("spec.once", "s", "d")) {
          builds.incrementAndGet(); Thread.sleep(100); new Object
        }(_ => ()))
      })
      go.countDown()
      ts.foreach(_.join(10000))
      assert(builds.get == 1)
      assert(got.size == 2 && seqOf(got).distinct.size == 1)
    }
  }

  test("a slow build on one key does not block another key") {
    fresh {
      val inA = new CountDownLatch(1)
      val finishA = new CountDownLatch(1)
      val a = thread {
        Artifacts.getOrBuild(Key("spec.slow", "a")) { inA.countDown(); finishA.await(); 1 }(_ => ())
      }
      assert(inA.await(10, TimeUnit.SECONDS), "build of A never started")
      val t0 = System.nanoTime()
      assert(Artifacts.getOrBuild(Key("spec.slow", "b"), capacity = 2)(2)(_ => ()) == 2)
      assert((System.nanoTime() - t0) / 1e9 < 5, "B waited on A's build")
      finishA.countDown()
      a.join(10000)
    }
  }

  test("a build may build another key, also while a drain runs") {
    fresh {
      val inner = Key("spec.inner", "s")
      val v = Artifacts.getOrBuild(Key("spec.outer", "s")) {
        Artifacts.drain("spec.unrelated")
        Artifacts.getOrBuild(inner)("in")(_ => ()) + "+out"
      }(_ => ())
      assert(v == "in+out")
      assert(Artifacts.keys("spec.").map(_.name).toSet == Set("spec.inner", "spec.outer"))
    }
  }

  test("a build that throws leaves no entry, and the next call rebuilds") {
    fresh {
      val k = Key("spec.fail", "s")
      intercept[IllegalStateException] {
        Artifacts.getOrBuild[Int](k)(throw new IllegalStateException("boom"))(_ => ())
      }
      assert(Artifacts.keys("spec.fail").isEmpty)
      assert(Artifacts.getOrBuild(k)(7)(_ => ()) == 7)
      assert(Artifacts.keys("spec.fail") == Seq(k))
    }
  }

  test("exceeding capacity releases the least recently used value") {
    fresh {
      val released = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      def get(i: Int): Int = Artifacts.getOrBuild(Key("spec.cap", i), capacity = 2)(i)(released.add(_))
      get(1); get(2)
      get(1) // 1 is now the most recently used
      get(3)
      assert(seqOf(released) == Seq(2))
      assert(Artifacts.keys("spec.cap").map(_.parts.head).toSet == Set(1, 3))
      // a different parameter is a different key: capacity 1 replaces
      Artifacts.getOrBuild(Key("spec.one", "k", 24))("a")(_ => released.add(-1))
      Artifacts.getOrBuild(Key("spec.one", "k", 8))("b")(_ => released.add(-2))
      assert(seqOf(released) == Seq(2, -1))
    }
  }

  test("put replaces and releases the previous value") {
    fresh {
      val released = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val k = Key("spec.put")
      Artifacts.put(k, "a")(released.add(_))
      Artifacts.put(k, "a")(released.add(_)) // the same value is not released
      Artifacts.put(k, "b")(released.add(_))
      assert(seqOf(released) == Seq("a"))
    }
  }

  test("drain(prefix) releases exactly the matching entries") {
    fresh {
      val released = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      for (n <- Seq("spec.fam.a", "spec.fam.b", "spec.family.c", "spec.other"))
        Artifacts.getOrBuild(Key(n, "s"))(n)(released.add(_))
      Artifacts.drain("spec.fam.")
      assert(seqOf(released).sorted == Seq("spec.fam.a", "spec.fam.b"))
      assert(Artifacts.keys("spec.").map(_.name).toSet == Set("spec.family.c", "spec.other"))
      // drained entries rebuild on their next use
      assert(Artifacts.getOrBuild(Key("spec.fam.a", "s"))("again")(_ => ()) == "again")
    }
  }
}
