package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-tree hygiene gate: no Scala source may contain a NUL (0x00)
  * byte. A NUL makes git classify the file as binary, which hides its
  * entire content — and every future edit — from textual diff review
  * (the review-evasion hazard flagged by ADVICE.md r1 on NormalizeTs).
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaSources(root: String): Seq[Path] = {
    val base = Paths.get(root)
    if (!Files.exists(base)) Seq.empty
    else Files.walk(base).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .toSeq
  }

  test("no NUL bytes in any .scala source (diffs must stay textual)") {
    val offenders = (scalaSources("src/main") ++ scalaSources("src/test"))
      .filter(p => Files.readAllBytes(p).contains(0.toByte))
    assert(offenders.isEmpty,
      s"NUL byte found in: ${offenders.mkString(", ")} — git will treat " +
        "these as binary and hide their diffs from review")
  }

  test("stream sinks start in one place: .writeStream only in Sinks.scala") {
    val starters = scalaSources("src/main")
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains(".writeStream"))
      .map(_.getFileName.toString)
    assert(starters == Seq("Sinks.scala"),
      s".writeStream outside graft.stream.Sinks: ${starters.mkString(", ")}")
  }

  test("sessions open in one place: SparkSession.builder only in GraftSession.scala") {
    // this gate names the call itself, so it skips its own file
    val builders = (scalaSources("src/main") ++ scalaSources("src/test"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains("SparkSession.builder"))
      .map(_.getFileName.toString)
      .filterNot(_ == "SourceHygieneSpec.scala")
    assert(builders == Seq("GraftSession.scala"),
      s"SparkSession.builder outside graft.GraftSession: ${builders.mkString(", ")}")
  }

  test("shared artifacts are kept in one place: TrieMap only in Artifacts.scala") {
    val keepers = scalaSources("src/main")
      .filter(p => new String(Files.readAllBytes(p), "UTF-8")
        .contains("TrieMap"))
      .map(_.getFileName.toString)
    assert(keepers.forall(_ == "Artifacts.scala"),
      s"TrieMap outside graft.Artifacts: ${keepers.mkString(", ")}")
  }

  test("stream state is read with its declared schema: every parquet read in graft.stream names it") {
    // a read that infers the schema runs a job for the parquet footer,
    // once per epoch or version; comments are skipped
    val comments = "(?s)/\\*.*?\\*/|//[^\n]*".r
    val read = "\\.read((?:\\s*\\.\\w+\\((?:[^()]|\\([^()]*\\))*\\))*)\\s*\\.parquet\\(".r
    val inferring = scalaSources("src/main/scala/graft/stream").flatMap { p =>
      val code = comments.replaceAllIn(new String(Files.readAllBytes(p), "UTF-8"),
        m => java.util.regex.Matcher.quoteReplacement(m.matched.replaceAll("[^\n]", " ")))
      read.findAllMatchIn(code).filterNot(_.group(1).contains(".schema("))
        .map(m => s"${p.getFileName}:${code.take(m.start).count(_ == '\n') + 1}")
    }
    assert(inferring.isEmpty,
      s"parquet reads that infer their schema: ${inferring.mkString(", ")}")
  }

  test("no query changes its session: experimental.extraOptimizations is never assigned") {
    val setter = "experimental\\.extraOptimizations\\s*=(?!=)".r
    val setters = scalaSources("src/main")
      .filter(p => setter.findFirstIn(
        new String(Files.readAllBytes(p), "UTF-8")).isDefined)
      .map(_.getFileName.toString)
    assert(setters.isEmpty,
      s"extraOptimizations assigned in: ${setters.mkString(", ")}")
  }
}
