package graft.core

import java.io.UncheckedIOException
import java.nio.file.{DirectoryNotEmptyException, Files, NoSuchFileException, Path, Paths}
import java.util.Comparator

/** Recursive scratch-directory cleanup for queries whose sinks cannot
  * ride SaveMode.Overwrite alone — streaming checkpoints and
  * dated-partition stores pin state across runs (a stale checkpoint pins
  * the previous run's SOURCE PATH; a stale dated partition double-counts
  * the previous cycle), so those queries wipe their scratch subtree at
  * construction and rebuild it deterministically.
  */
object Scratch {

  /** Walks of a tree that keeps changing before [[rmTree]] gives up. */
  private val RmTreeAttempts = 5

  /** Delete `dir` recursively if it exists (no-op otherwise).
    *
    * A background writer (a state store's maintenance thread, for one)
    * may create a file after the walk listed its directory, or delete one
    * the walk listed. Either surfaces as `DirectoryNotEmptyException` or
    * `NoSuchFileException`; the tree is walked again, up to five times in
    * all, and the last failure is rethrown.
    */
  def rmTree(dir: String): Unit = {
    val root: Path = Paths.get(dir)
    var attempt = 1
    var done = false
    while (!done) {
      try { deleteWalk(root); done = true }
      catch { case e: Exception if attempt < RmTreeAttempts && raced(e) => attempt += 1 }
    }
  }

  private def raced(e: Throwable): Boolean = e match {
    case _: DirectoryNotEmptyException | _: NoSuchFileException => true
    case u: UncheckedIOException => raced(u.getCause)
    case _ => false
  }

  private def deleteWalk(root: Path): Unit =
    if (Files.exists(root)) {
      // Files.walk must be closed (it holds directory handles open until
      // GC otherwise — a per-query leak under a long harness sweep)
      val stream = Files.walk(root)
      try stream.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally stream.close()
    }
}
