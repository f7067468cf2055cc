package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Tripwire for the one-cache rule: every process-resident memo of derived
  * artifacts lives in `graft.core.ArtifactCache`, which validates entries
  * against the content of their input files. A memo constructed inside a
  * query module would bring back a second key scheme, a second clear hook
  * and — keyed on a path — stale reads after an in-place rewrite of the
  * lake. Counted on code lines under [[AuditScan]]'s rule, shared with
  * DriverCollectAuditSpec and BroadcastAuditSpec.
  */
class MemoAuditSpec extends AnyFunSuite {

  private val SrcRoot = Paths.get("src/main/scala")

  private def sites(pattern: String): Map[String, Int] = {
    assert(Files.isDirectory(SrcRoot),
      s"expected to run from the repo root; $SrcRoot not found under ${sys.props("user.dir")}")
    AuditScan.scan(SrcRoot, pattern.r)
  }

  test("memos and concurrent maps are constructed only under graft/core") {
    val outside = sites("""new\s+BoundedMemo\b|\bTrieMap\b""")
      .filter { case (f, _) => !f.startsWith("graft/core/") }
    assert(outside.isEmpty,
      "memo construction outside graft/core:\n  " +
        outside.toSeq.sorted.map { case (f, n) => s"$f: $n" }.mkString("\n  ") +
        "\nCache derived artifacts through graft.core.ArtifactCache " +
        "(one key scheme, content-validated, one clear hook) instead.")
  }

  test("the one BoundedMemo is ArtifactCache's") {
    assert(sites("""new\s+BoundedMemo\b""") == Map("graft/core/ArtifactCache.scala" -> 1))
  }
}
