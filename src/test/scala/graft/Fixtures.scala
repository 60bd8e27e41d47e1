package graft

import java.nio.file.{Path, Paths}

/** Hermetic test inputs under `src/test/resources`. */
object Fixtures {

  /** The reference's 3-file corpus (FIXTURES.md §A.2): `test_small.txt`,
    * `test_in_small/`, and the 26 hand-checked golden letter files in
    * `test_out_small/`.
    */
  val smallCorpus: Path = Paths.get(getClass.getResource("/index_small/test_small.txt").toURI).getParent

  val smallManifest: String = smallCorpus.resolve("test_small.txt").toString
}
