package graft.osm

import java.nio.file.{Files, Paths}
import org.scalatest.Assertions.assume

/** Inputs and goldens from the reference repository's `test/` directory.
  *
  * The golden byte-compares need this root: their expected bytes are
  * outputs of the reference C++ build, and nothing in this repository
  * stands in for them. Where the root is absent, `apply` cancels the
  * calling test with a message that names the root. That is a skip on a
  * missing path, not a pass; the test runs unchanged wherever the root
  * exists.
  *
  * Specs that compare our own code paths with each other run on the
  * in-repo [[PlanetFixture]] every time, and add a leg on the reference
  * Liechtenstein dump through [[liechtenstein]] where the root exists.
  */
object ReferenceFixtures {

  val root = "/root/reference/test"

  private def present: Boolean = Files.isDirectory(Paths.get(root))

  /** `root/name`; cancels the calling test where `root` is absent. */
  def apply(name: String): String = {
    assume(present, s"reference fixture root $root is missing: this spec needs the " +
      "reference repository's test/ directory (dumps and golden outputs) there")
    s"$root/$name"
  }

  /** The reference Liechtenstein dump, where `root` is a directory. */
  def liechtenstein: Option[String] =
    if (present) Some(s"$root/liechtenstein-2013-08-03.dmp") else None
}
