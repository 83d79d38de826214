package graft

import java.nio.file.{Files, Paths}

/** Every `runMain graft.…` command the docs tell a reader to run names an
  * object with a `main`, so folding or renaming a tool cannot leave a stale
  * command behind. */
class DocsSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val Docs = Seq("README.md", ".claude/skills/verify/SKILL.md")

  test("every runMain in the docs resolves to an object with a main") {
    val runMain = """runMain (graft\.[A-Za-z0-9_.]+)""".r
    val named = Docs.flatMap { doc =>
      runMain.findAllMatchIn(Files.readString(Paths.get(doc)))
        .map(m => (doc, m.group(1)))
    }.distinct
    assert(named.map(_._2).contains("graft.tools.Audit"), named)
    val stale = named.filterNot { case (_, name) =>
      scala.util.Try(Class.forName(name + "$")
        .getMethod("main", classOf[Array[String]])).isSuccess
    }
    assert(stale === Seq(), "commands in the docs that name no main")
  }
}
