package graft

import java.nio.file.{Files, Paths}

/** The one place the reference NiFi fixture tree (simple.pdf,
  * simple.doc, simple.docx, big.pdf — FIXTURES.md §1) is located. The
  * root comes from `GRAFT_FIXTURE_DIR`, defaulting to
  * `~/reference/nifi-extracttext-processors/src/test/resources`.
  *
  * [[dir]] checks the tree on every use: a missing tree fails with ONE
  * message naming the variable and FIXTURES.md §1, not with a
  * `NoSuchFileException` per reader. Callers resolve it where the
  * fixtures are read (inside a query or a test), never at object
  * construction, so code that does not need the fixtures is unaffected.
  */
object ReferenceFixtures {

  val EnvVar = "GRAFT_FIXTURE_DIR"

  /** The configured root, unchecked. */
  val root: String = sys.env.getOrElse(EnvVar, Paths.get(sys.props("user.home"),
    "reference", "nifi-extracttext-processors", "src", "test", "resources").toString)

  /** The fixture root, checked to be a directory. */
  def dir: String = {
    if (!Files.isDirectory(Paths.get(root)))
      throw new IllegalStateException(
        s"reference fixture tree not found at $root: set $EnvVar to the " +
          "directory holding simple.pdf, simple.doc, simple.docx and big.pdf " +
          "(FIXTURES.md §1)")
    root
  }

  /** The path of one fixture file under [[dir]]. */
  def file(name: String): java.nio.file.Path = Paths.get(dir, name)
}
