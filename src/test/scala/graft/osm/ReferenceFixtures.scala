package graft.osm

import java.nio.file.{Files, Paths}
import org.scalatest.Assertions.fail

/** Inputs and goldens from the reference repository's `test/` directory,
  * which the golden specs compare against. A missing root fails the
  * calling test with a message that names it, not with a bare
  * `NoSuchFileException` or a `pg_restore` exit status further down.
  */
object ReferenceFixtures {

  /** `root/name`, once `root` is known to exist. */
  def apply(root: String, name: String): String = {
    if (!Files.isDirectory(Paths.get(root)))
      fail(s"reference fixture root $root is missing: this spec needs the " +
        "reference repository's test/ directory (dumps and golden outputs) there")
    s"$root/$name"
  }
}
