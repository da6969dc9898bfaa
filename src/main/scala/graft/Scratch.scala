package graft

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

/** Where scratch data lives: one root per JVM under `java.io.tmpdir`,
  * created on first use and deleted by one shutdown hook. A directory
  * made inside a [[Materialize]] scope is deleted when the scope is
  * released; owners delete other subtrees earlier when they can (a stale
  * Verify output), and the hook catches the rest.
  */
object Scratch {

  lazy val root: Path = {
    val r = Files.createTempDirectory("graft-")
    sys.addShutdownHook(delete(r))
    r
  }

  /** A fresh, uniquely named directory under [[root]], owned by the
    * innermost open [[Materialize]] scope.
    */
  def dir(prefix: String): Path = Materialize.own(Files.createTempDirectory(root, prefix))(delete)

  /** Delete `p` and everything under it, without following links. A
    * missing `p`, or an entry that vanishes mid-walk (Spark's own
    * shutdown hooks delete inside the same tree), is not an error.
    */
  def delete(p: Path): Unit = Files.walkFileTree(p, new SimpleFileVisitor[Path] {
    override def visitFile(f: Path, a: BasicFileAttributes) = { Files.deleteIfExists(f); FileVisitResult.CONTINUE }
    override def visitFileFailed(f: Path, e: IOException) = FileVisitResult.CONTINUE
    override def postVisitDirectory(d: Path, e: IOException) = { Files.deleteIfExists(d); FileVisitResult.CONTINUE }
  })
}
