package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source-level invariants that no runtime test can see. */
class SourceLintSpec extends AnyFunSuite {

  private def mainSources: Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("the batch= directory layout is spelled only in BatchDirs") {
    val offenders = mainSources
      .filter(p => Files.readString(p).contains("batch="))
      .map(_.getFileName.toString)
    assert(offenders.toSet == Set("BatchDirs.scala"),
      s"batch-directory layout built outside BatchDirs: $offenders")
  }

  test("stores have one protocol: no append + staged-swap machinery") {
    // every store writes, reads and folds through BatchDirs; a
    // schema-merging read or a whole-root swap directory would be the
    // second protocol coming back
    val tokens = Seq("mergeSchema", "__compact_tmp", "__compact_old")
    val offenders = mainSources.flatMap { p =>
      val src = Files.readString(p)
      tokens.filter(src.contains).map(t => s"${p.getFileName}: $t")
    }
    assert(offenders.isEmpty, s"second store protocol in main: $offenders")
  }

  test("every scalar kernel reaches Catalyst through one call path") {
    // a kernel is one `compute` behind a StaticInvoke or Invoke (see
    // graft.expressions.Kernel); hand-written generated code or an
    // interpreted-only fallback would be a second per-row path
    val tokens = Seq("doGenCode", "nullSafeCodeGen", "defineCodeGen",
      "CodegenFallback")
    val offenders = mainSources.flatMap { p =>
      val src = Files.readString(p)
      tokens.filter(src.contains).map(t => s"${p.getFileName}: $t")
    }
    assert(offenders.isEmpty, s"hand-written codegen in main: $offenders")
  }
}
