package graft

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

/** Per-JVM scratch space for the query registry's staged inputs and
  * throwaway streaming checkpoints (and the spec suite's temp dirs).
  *
  * Every directory lives under one root in the JVM temp dir, created on
  * first use; checkpoints go under a second root in `/dev/shm` when the
  * host offers a writable one (a discarded checkpoint's per-batch fsyncs
  * are pure overhead). One shutdown hook deletes both roots, so a run
  * leaves nothing behind. Production pipelines never write here: their
  * outputs and checkpoints are configured locations.
  *
  * [[staged]] memoises a directory per key for the life of the JVM: the
  * write runs once, on first use, and every later caller reads the same
  * files. Stores are built from other staged stores, so the write runs
  * OUTSIDE the map's `computeIfAbsent` (a nested `computeIfAbsent` on the
  * same map is a recursive update, which `ConcurrentHashMap` forbids);
  * the map only creates a per-key cell whose lock serialises concurrent
  * first callers. A write that throws leaves the cell unset, so the next
  * caller retries. */
private[graft] object Scratch {
  private val roots = new ConcurrentLinkedQueue[Path]()
  Runtime.getRuntime.addShutdownHook(new Thread(
    () => roots.forEach(r => deleteTree(r)), "graft-scratch-cleanup"))

  private def newRoot(parent: Path): Path = {
    val r = Files.createTempDirectory(parent, "graft-scratch")
    roots.add(r)
    r
  }
  private lazy val root: Path =
    newRoot(Paths.get(System.getProperty("java.io.tmpdir")))
  private lazy val memRoot: Path = {
    val shm = Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm)) newRoot(shm) else root
  }

  /** A fresh directory under the root. */
  def dir(prefix: String): String =
    Files.createTempDirectory(root, prefix).toString

  /** A fresh directory under the memory-backed root (the disk root when
    * the host has no writable `/dev/shm`): for the registry's discarded
    * streaming checkpoints, where the state store's per-partition,
    * per-batch delta-file fsyncs are pure fixed overhead (measured ~25%
    * of the streaming quartet's wall-clock on an ext4 `/tmp`). */
  def memDir(prefix: String): String =
    Files.createTempDirectory(memRoot, prefix).toString

  private final class Cell {
    private var path: String = null
    def get(prefix: String, write: String => Unit): String = synchronized {
      if (path == null) { val d = dir(prefix); write(d); path = d }
      path
    }
  }
  private val cells = new ConcurrentHashMap[String, Cell]()

  /** The directory memoised under `key`, filled by `write` on first use.
    * The part of the key before the first `#` names the directory. */
  def staged(key: String)(write: String => Unit): String =
    cells.computeIfAbsent(key, _ => new Cell).get(key.takeWhile(_ != '#'), write)

  /** Delete `top` and everything under it, post-order. Symlinks are
    * removed as links and never followed, so a link to a directory
    * outside the tree leaves that directory untouched. Entries that
    * vanish or refuse deletion are skipped: this runs at JVM exit, where
    * a half-cleaned root beats an aborted cleanup. */
  def deleteTree(top: Path): Unit = {
    def quietly(p: Path): FileVisitResult = {
      try Files.deleteIfExists(p) catch { case _: IOException => }
      FileVisitResult.CONTINUE
    }
    try Files.walkFileTree(top, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult =
        quietly(f)
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        quietly(f)
      override def postVisitDirectory(d: Path, e: IOException): FileVisitResult =
        quietly(d)
    }) catch { case _: IOException => }
  }
}
