package graft

import org.scalatest.funsuite.AnyFunSuite

/** The operator inventory stays complete without a hand-kept count:
  * every registry entry is named in `docs/OPERATORS.md` as a whole
  * word (a shorthand such as `_incremental` does not count). */
class DocsSpec extends AnyFunSuite {
  test("docs/OPERATORS.md names every Registry.all entry") {
    val doc = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("docs/OPERATORS.md")), java.nio.charset.StandardCharsets.UTF_8)
    val words = "[A-Za-z0-9_]+".r.findAllIn(doc).toSet
    val missing = Registry.all.map(_.name).filterNot(words)
    assert(missing.isEmpty, s"docs/OPERATORS.md does not name: ${missing.mkString(", ")}")
  }
}
