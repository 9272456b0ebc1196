package graft

import org.scalatest.funsuite.AnyFunSuite

/** The runnable surface of the main tree is the daily run, the cleanup job
  * and the three harness mains. A one-off profiler or A/B probe that grows a
  * `main` (and usually its own SparkSession) under `src/main/scala` fails
  * here; such a probe belongs in a scratch checkout, not the library. Every
  * local session comes from the one builder, `SparkEntry.localSession`.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val Package = """(?m)^package\s+([\w.]+)""".r
  // declarations only: a line that starts with modifiers and `object X`,
  // never a `*` or `//` comment line
  private val ObjectDecl = """^\s*(?:[\w\[\]]+\s+)*object\s+(\w+)"""

  /** Fully-qualified name of every object with a non-comment line matching
    * `marker`, attributed to the nearest `object` declared above it.
    */
  private def objectsWith(marker: String): Set[String] = {
    val ObjectOrMarker = ("(?m)" + ObjectDecl + "|" + marker).r
    val found = Set.newBuilder[String]
    java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala")).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        val src = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        val pkg = Package.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
        var owner = "<no object>"
        ObjectOrMarker.findAllMatchIn(src).foreach { m =>
          if (m.group(1) != null) owner = m.group(1)
          else found += pkg + owner
        }
      }
    }
    found.result()
  }

  test("the only mains under src/main/scala are Run, RunCleanup, Bench, Verify and Plans") {
    assert(objectsWith("""^\s*(?:override\s+)?def\s+main\s*\(""") ==
      Set("graft.Run", "graft.RunCleanup", "graft.Bench", "graft.Verify", "graft.Plans"))
  }

  test("SparkSession.builder() is called only by SparkEntry.localSession, Run and RunCleanup") {
    // Run and RunCleanup take their master from spark-submit; every local
    // session (Bench, Verify, Plans, the specs) comes from localSession
    assert(objectsWith("""^(?!\s*(?:\*|//))[^\n]*SparkSession\s*\.\s*builder\s*\(""") ==
      Set("graft.SparkEntry", "graft.Run", "graft.RunCleanup"))
  }

  test("no code under src/main/scala registers a SQL function or a session extension") {
    // every graft Catalyst expression is built through its typed column(...)
    // constructor, so a FunctionRegistry or SparkSessionExtensions hook has
    // no caller
    assert(objectsWith(
      """^(?!\s*(?:\*|//))[^\n]*\b(?:registerFunction|injectFunction|SparkSessionExtensions)\b""") ==
      Set.empty)
  }
}
