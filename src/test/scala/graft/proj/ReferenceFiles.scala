package graft.proj

import java.nio.file.{Files, Path, Paths}
import org.scalactic.source.Position
import org.scalatest.Assertions

/** Files the suites read from the PROJ reference tree. A missing file fails
  * the calling test with one line naming it, at the caller's position. */
object ReferenceFiles {
  def apply(relative: String)(implicit pos: Position): Path = {
    val p = Paths.get(ReferenceTree.root, relative)
    if (!Files.isReadable(p))
      Assertions.fail(s"missing $p: the PROJ reference tree is read from ${ReferenceTree.root}")(pos)
    p
  }
}
