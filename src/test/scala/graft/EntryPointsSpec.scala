package graft

import org.scalatest.funsuite.AnyFunSuite

/** The runnable surface of the main tree is the daily run, the cleanup job
  * and the three harness mains. A one-off profiler or A/B probe that grows a
  * `main` (and usually its own SparkSession) under `src/main/scala` fails
  * here; such a probe belongs in a scratch checkout, not the library.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val Package = """(?m)^package\s+([\w.]+)""".r
  // declarations only: a line that starts with modifiers and `object X`, or
  // with `def main(` — never a `*` or `//` comment line
  private val ObjectOrMain =
    """(?m)^\s*(?:[\w\[\]]+\s+)*object\s+(\w+)|^\s*(?:override\s+)?def\s+main\s*\(""".r

  /** Fully-qualified name of every object that defines `def main(`. */
  private def mainObjects(): Set[String] = {
    val found = Set.newBuilder[String]
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val pkg = Package.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
        var owner = "<no object>"
        ObjectOrMain.findAllMatchIn(src).foreach { m =>
          if (m.group(1) != null) owner = m.group(1)
          else found += pkg + owner
        }
      }
    }
    found.result()
  }

  test("the only mains under src/main/scala are Run, RunCleanup, Bench, Verify and Plans") {
    assert(mainObjects() ==
      Set("graft.Run", "graft.RunCleanup", "graft.Bench", "graft.Verify", "graft.Plans"))
  }
}
