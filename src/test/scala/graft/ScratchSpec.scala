package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

class ScratchSpec extends AnyFunSuite with Matchers {

  test("staged runs write once per key, also under 4 concurrent callers") {
    val key = s"scratchspec#${System.nanoTime()}"
    val writes = new AtomicInteger()
    val pool = Executors.newFixedThreadPool(4)
    val paths = try {
      val calls = (1 to 4).map(_ => new Callable[String] {
        def call(): String = Scratch.staged(key) { d =>
          writes.incrementAndGet()
          Thread.sleep(100) // hold the write open while the others arrive
          Files.writeString(Paths.get(d, "part"), "x")
        }
      })
      calls.map(pool.submit(_)).map(_.get(30, TimeUnit.SECONDS))
    } finally pool.shutdown()
    writes.get shouldBe 1
    paths.distinct should have size 1
    Files.readString(Paths.get(paths.head, "part")) shouldBe "x"
    Scratch.staged(key)(_ => fail("memoized key re-ran its write")) shouldBe
      paths.head
    Paths.get(paths.head).getFileName.toString should startWith("scratchspec")
  }

  test("a staged write may stage other keys (no recursive map update)") {
    val run = System.nanoTime()
    (1 to 200).foreach { i =>
      var inner = ""
      val outer = Scratch.staged(s"outer#$run#$i") { d =>
        inner = Scratch.staged(s"inner#$run#$i") { id =>
          Files.writeString(Paths.get(id, "v"), i.toString)
        }
        Files.writeString(Paths.get(d, "ref"), inner)
      }
      Files.readString(Paths.get(outer, "ref")) shouldBe inner
      Files.readString(Paths.get(inner, "v")) shouldBe i.toString
    }
  }

  test("a failed write leaves the key unset, so the next caller retries") {
    val key = s"scratchfail#${System.nanoTime()}"
    an[IllegalStateException] should be thrownBy
      Scratch.staged(key)(_ => throw new IllegalStateException("boom"))
    val d = Scratch.staged(key)(d => Files.writeString(Paths.get(d, "ok"), ""))
    Files.exists(Paths.get(d, "ok")) shouldBe true
  }

  test("deleteTree removes the whole tree, root included") {
    val top = Paths.get(Scratch.dir("scratchtree"))
    Files.createDirectories(top.resolve("a/b/c"))
    Files.writeString(top.resolve("a/b/c/f.parquet"), "x")
    Files.writeString(top.resolve("a/g"), "y")
    Paths.get(Scratch.dir("inner")).getParent shouldBe top.getParent
    Scratch.deleteTree(top)
    Files.exists(top) shouldBe false
  }

  test("a JVM's scratch roots, /dev/shm included, are gone after it exits") {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java")
    val proc = new ProcessBuilder(java.toString, "-Xmx64m", "-cp",
        System.getProperty("java.class.path"), ScratchExitProbe.getClass.getName
          .stripSuffix("$"))
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes()).trim
    proc.waitFor(60, TimeUnit.SECONDS) shouldBe true
    withClue(out) {
      proc.exitValue() shouldBe 0
      val dirs = out.linesIterator.map(Paths.get(_)).toList
      dirs should have size 3
      dirs.foreach { d =>
        d.getFileName.toString should startWith("graft-scratch")
        Files.exists(d) shouldBe false
      }
    }
  }

  test("deleteTree removes a symlink to an outside directory, never its " +
    "target") {
    val outside = Paths.get(Scratch.dir("scratchoutside"))
    Files.writeString(outside.resolve("keep"), "x")
    val top = Paths.get(Scratch.dir("scratchlinks"))
    Files.createDirectories(top.resolve("d"))
    Files.createSymbolicLink(top.resolve("d/link"), outside)
    Files.createSymbolicLink(top.resolve("filelink"), outside.resolve("keep"))
    Scratch.deleteTree(top)
    Files.exists(top) shouldBe false
    Files.readString(outside.resolve("keep")) shouldBe "x"
  }
}

/** Child-JVM body for ScratchSpec: stage, make a checkpoint dir, print
  * the roots and exit, leaving the cleanup to the shutdown hook. */
object ScratchExitProbe {
  def main(args: Array[String]): Unit = {
    val staged = Paths.get(Scratch.staged("probe#1") { d =>
      Files.writeString(Paths.get(d, "f"), "x")
    })
    val plain = Paths.get(Scratch.dir("probe"))
    val mem = Paths.get(Scratch.memDir("probeck"))
    Files.createDirectories(mem.resolve("state/0"))
    Seq(staged, plain, mem).foreach(p => println(p.getParent))
  }
}
