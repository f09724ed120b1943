package graft.core

import java.io.{IOException, UncheckedIOException}
import java.nio.file.{DirectoryNotEmptyException, Files, NoSuchFileException, Path}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.util.{Failure, Success, Try}

import org.scalatest.funsuite.AnyFunSuite

class ScratchSpec extends AnyFunSuite {

  test("rmTree removes a tree that holds files and nested directories") {
    val root = Files.createTempDirectory("rmtree")
    Files.write(Files.createDirectories(root.resolve("a/b")).resolve("f"), Array[Byte](1))
    Scratch.rmTree(root.toString)
    assert(!Files.exists(root))
    Scratch.rmTree(root.toString) // a missing tree is a no-op
  }

  test("rmTree walks again when a file appears after the walk listed its directory") {
    val root = Files.createTempDirectory("rmtree_late")
    val sub = Files.createDirectories(root.resolve("sub"))
    for (i <- 0 until 2000) Files.write(sub.resolve(f"f$i%04d"), Array[Byte](1))
    val first = sub.resolve("f1999") // the walk deletes in reverse path order
    // writes one file into `sub` as soon as the walk has begun deleting it
    val late = new Thread(() => {
      while (Files.exists(first)) Thread.onSpinWait()
      try Files.write(sub.resolve("late"), Array[Byte](1))
      catch { case _: IOException => () }
    })
    late.start()
    try Scratch.rmTree(root.toString) finally late.join()
    assert(!Files.exists(root))
  }

  test("rmTree ends, removed or failed within its bound, while files keep appearing") {
    val root = Files.createTempDirectory("rmtree_race")
    val dirs: Seq[Path] = (0 until 4).map(i => Files.createDirectories(root.resolve(s"d$i/sub")))
    for (d <- dirs; i <- 0 until 200) Files.write(d.resolve(s"seed$i"), Array[Byte](1))
    @volatile var stop = false
    // keeps adding files to directories that still exist, like a state
    // store's background maintenance; it never recreates a directory
    val writer = new Thread(() => {
      var i = 0
      while (!stop) {
        for (d <- dirs) try Files.write(d.resolve(s"f$i"), Array[Byte](1))
        catch { case _: IOException => () }
        i += 1
      }
    })
    writer.setDaemon(true)
    writer.start()
    val outcome =
      try Await.result(Future(Try(Scratch.rmTree(root.toString)))(ExecutionContext.global), 60.seconds)
      finally { stop = true; writer.join() }
    outcome match {
      case Success(_) => assert(!Files.exists(root))
      case Failure(e) =>
        val cause = e match { case u: UncheckedIOException => u.getCause; case o => o }
        assert(cause.isInstanceOf[DirectoryNotEmptyException] || cause.isInstanceOf[NoSuchFileException], e)
        Scratch.rmTree(root.toString) // with the writer stopped the tree goes
        assert(!Files.exists(root))
    }
  }
}
