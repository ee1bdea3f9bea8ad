package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** [[Artifacts]], the shared-artifact registry: an entry is served only
  * while its session, its dir and the files under the dir are unchanged,
  * it holds one entry per artifact, and every artifact's owner query
  * builds it. */
class ArtifactsSpec extends SparkSpec {

  private val small = "/root/testdata/sf0.001"
  private val large = "/root/testdata/sf0.01"
  private val queries = SparkEntry.queries

  private def rows(query: String, dir: String): Seq[String] =
    queries(query)(spark, dir).collect().map(_.toString).toSeq.sorted

  private def deleteTree(p: Path): Unit =
    Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)

  test("a changed input file rebuilds the artifact instead of serving it") {
    val dir = Files.createTempDirectory("artifacts-stale")
    try {
      Files.list(Paths.get(small)).iterator.asScala.foreach(f =>
        Files.copy(f, dir.resolve(f.getFileName)))
      val before = rows("q22_ngram_jaccard", dir.toString)
      Files.copy(Paths.get(large, "documents.parquet"),
        dir.resolve("documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
      val expected = rows("q22_ngram_jaccard", large)
      assert(before != expected, "the two corpora must give different pairs")
      assert(rows("q22_ngram_jaccard", dir.toString) == expected)
    } finally deleteTree(dir)
  }

  test("one entry per artifact: a newer session's get replaces the entry") {
    val sessions = Seq.fill(3)(spark.newSession())
    val values = sessions.map(s => queries("q22_ngram_jaccard")(s, small))
    assert(Artifacts.live.get("verified_jaccard").exists(_ eq sessions.last))
    assert(Artifacts.live.keySet.subsetOf(Artifacts.declared.map(_._1).toSet))
    assert(queries("q22_ngram_jaccard")(sessions.last, small) eq values.last,
      "the live entry must be served, not rebuilt")
  }

  for ((name, owner) <- Artifacts.declared)
    test(s"owner $owner builds $name") {
      Artifacts.dropOwnedBy(owner)
      assert(!Artifacts.live.contains(name))
      queries(owner)(spark, small).count()
      assert(Artifacts.live.get(name).exists(_ eq spark),
        s"$owner ran without building $name")
    }
}
