package graft

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The one way to keep a shared artifact: a table, index or model that
  * several queries read and one build produces. Each is declared once
  * with its build and its owner, the lowest-numbered query that reads it
  * (directly or through another artifact's build); `Bench` and `Probe`
  * call [[dropOwnedBy]] before each timed run, so every sample of the
  * owner pays the build.
  *
  * An entry is served only to the same session object, for the same
  * `dir`, while the files under `dir` are unchanged; otherwise the build
  * runs again and replaces it, so there is at most one entry per
  * artifact. A replaced value is dropped, not unpersisted (a frame built
  * from it may still be running): Spark's ContextCleaner frees its
  * checkpoint blocks once it is unreachable. Builds may read other
  * artifacts; one reentrant lock covers every get, builds included. */
object Artifacts {

  final class Artifact[A] private[Artifacts] (val name: String,
      val owner: String, build: (SparkSession, String) => A)
      extends ((SparkSession, String) => A) {

    /** The live value for (`s`, `dir`), built if there is none. */
    def apply(s: SparkSession, dir: String): A = Artifacts.synchronized {
      val key = (s, dir, fingerprint(s, dir)) // a session equals only itself
      entries.get(name) match {
        case Some((`key`, v)) => v.asInstanceOf[A]
        case _ =>
          entries.remove(name)
          val v = build(s, dir)
          entries(name) = (key, v)
          v
      }
    }
  }

  private type Key = (SparkSession, String, Set[(String, Long, Long)])
  private val decls = mutable.ArrayBuffer[Artifact[_]]()
  private val entries = mutable.Map[String, (Key, Any)]()

  def declare[A](name: String, owner: String)(
      build: (SparkSession, String) => A): Artifact[A] = synchronized {
    require(!decls.exists(_.name == name), s"artifact $name declared twice")
    val a = new Artifact(name, owner, build)
    decls += a
    a
  }

  /** (name, owner) of every declared artifact, in declaration order. */
  def declared: Seq[(String, String)] =
    synchronized(decls.map(a => (a.name, a.owner)).toSeq)

  /** The session of each live entry, by artifact name. */
  def live: Map[String, SparkSession] =
    synchronized(entries.view.mapValues(_._1._1).toMap)

  def dropOwnedBy(query: String): Unit = synchronized {
    decls.filter(_.owner == query).foreach(a => entries.remove(a.name))
  }

  /** (path, size, mtime) of every file under `dir`, from one listing; a
    * missing `dir` has none, and the build then reports it. */
  private def fingerprint(s: SparkSession, dir: String)
      : Set[(String, Long, Long)] = {
    val root = new Path(dir)
    try {
      val it = root.getFileSystem(s.sparkContext.hadoopConfiguration)
        .listFiles(root, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .toSet
    } catch { case _: java.io.FileNotFoundException => Set.empty }
  }
}
