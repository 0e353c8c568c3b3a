package graft

import java.util.concurrent.{Callable, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.backend._
import graft.core.{GraftError, ObjectIdentifier}

/** Concurrent `ALTER NAMESPACE … SET PROPERTIES` on one namespace: every
  * key of every caller survives, on the memory backend and on the file
  * backend (one shared instance, and two instances on one catalog file). */
class ConcurrentAlterSpec extends AnyFunSuite {
  private val ns = ObjectIdentifier.of("db")
  private val Threads = 4
  private val KeysPerThread = 200

  /** Runs `Threads` callers, each setting its own disjoint keys one alter
    * at a time, through the backend `backendOf(thread)` returns. */
  private def alterConcurrently(backendOf: Int => MetadataBackend): Unit = {
    val pool = Executors.newFixedThreadPool(Threads)
    try {
      val futures = (0 until Threads).map { t =>
        pool.submit(new Callable[Unit] {
          override def call(): Unit = (0 until KeysPerThread).foreach { k =>
            backendOf(t).updateNamespaceProperties(ns, Map(s"t$t-k$k" -> s"$k"), Set.empty)
          }
        })
      }
      futures.foreach(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdown()
  }

  private def assertEveryKey(props: Map[String, String]): Unit = {
    val want = for (t <- 0 until Threads; k <- 0 until KeysPerThread) yield s"t$t-k$k"
    val lost = want.filterNot(props.contains)
    assert(lost.isEmpty, s"${lost.size} of ${want.size} keys lost, e.g. ${lost.take(5)}")
    assert(props("owner") == "seed", "a key set before the alters must survive")
  }

  test("memory backend: concurrent alters of one namespace keep every key") {
    val b = new MemoryBackend
    b.initialize(Map.empty)
    b.createNamespace(ns, Map("owner" -> "seed"), CreateMode.Create)
    alterConcurrently(_ => b)
    assertEveryKey(b.describeNamespace(ns))
  }

  test("file backend: concurrent alters through one instance keep every key, on disk too") {
    val file = java.nio.file.Files.createTempDirectory("graft-alter-file")
      .resolve("catalog.json").toString
    val b = new FileBackend
    b.initialize(Map("path" -> file))
    b.createNamespace(ns, Map("owner" -> "seed"), CreateMode.Create)
    alterConcurrently(_ => b)
    assertEveryKey(b.describeNamespace(ns))
    val reread = new FileBackend
    reread.initialize(Map("path" -> file))
    assertEveryKey(reread.describeNamespace(ns))
  }

  test("file backend: two instances on one catalog file keep every key") {
    val file = java.nio.file.Files.createTempDirectory("graft-alter-file2")
      .resolve("catalog.json").toString
    val backends = (0 until 2).map { _ =>
      val b = new FileBackend
      b.initialize(Map("path" -> file))
      b
    }
    backends.head.createNamespace(ns, Map("owner" -> "seed"), CreateMode.Create)
    alterConcurrently(t => backends(t % 2))
    val reread = new FileBackend
    reread.initialize(Map("path" -> file))
    assertEveryKey(reread.describeNamespace(ns))
  }

  test("removals and updates apply together; a missing namespace is NamespaceNotFound") {
    val file = java.nio.file.Files.createTempDirectory("graft-alter-file3")
      .resolve("catalog.json").toString
    val fb = new FileBackend
    fb.initialize(Map("path" -> file))
    val mb = new MemoryBackend
    mb.initialize(Map.empty)
    Seq(mb, fb).foreach { b =>
      b.createNamespace(ns, Map("a" -> "1", "b" -> "2"), CreateMode.Create)
      assert(b.updateNamespaceProperties(ns, Map("c" -> "3"), Set("a")) ==
        Map("b" -> "2", "c" -> "3"))
      intercept[GraftError.NamespaceNotFound](
        b.updateNamespaceProperties(ObjectIdentifier.of("nope"), Map("x" -> "1"), Set.empty))
    }
  }
}
