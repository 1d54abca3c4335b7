package graft.proj

/** The PROJ source tree: grid, init and model files are looked up under
  * its `data/` (and `data/tests/`) after the `graft.grid.paths` roots, and
  * the gie, GIGS and CLI corpora are read from its `test/`. */
object ReferenceTree {
  val root: String = "/root/reference"
  val data: String = s"$root/data"
  val test: String = s"$root/test"
}
