package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Where every derived artifact of a query lives, and when it may be
  * reused; the one reader of `java.io.tmpdir` in the program. Scratch is
  * per session ([[runDir]]). Artifacts that are pure functions of a
  * fixture directory ([[fixtureDir]], [[fixtureMemo]]) are reused only
  * while [[fixtureKey]], the fixture's content, is unchanged. */
object Artifacts {

  private val tmp = sys.props("java.io.tmpdir")

  /** `<tmpdir>/graft_<applicationId>/<name>`: two JVMs on one host (Bench
    * next to Verify) never share a source, checkpoint, sink or index. */
  def runDir(s: SparkSession, name: String): String =
    Paths.get(tmp, s"graft_${s.sparkContext.applicationId}", name).toString

  /** SHA-256 hex of the fixture directory's canonical path and each file
    * under it: relative name, size, last-modified nanos. The whole
    * directory, so no caller can name the wrong source table. */
  def fixtureKey(d: String): String = {
    val root = canonical(d)
    val files = Files.walk(root)
    val lines =
      try files.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
        s"${root.relativize(p)}\u0000${Files.size(p)}\u0000" +
          Files.getLastModifiedTime(p).to(TimeUnit.NANOSECONDS)
      }.toVector.sorted
      finally files.close()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (root.toString +: lines).foreach(l => md.update(s"$l\n".getBytes(UTF_8)))
    md.digest.map(b => f"$b%02x").mkString
  }

  private def canonical(d: String): Path = Paths.get(d).toRealPath()

  /** The parquet directory holding `build`, written once per (fixture
    * content, `name`) and shared across JVMs. It is written in this
    * session's [[runDir]] and renamed into place, so no reader sees a
    * partial directory; `_SUCCESS` gates reuse. */
  def fixtureDir(s: SparkSession, d: String, name: String)(
      build: => DataFrame): String = {
    val dir = Paths.get(tmp, s"graft_fixture_${fixtureKey(d)}", name)
    if (!Files.isRegularFile(dir.resolve("_SUCCESS"))) {
      val staging = Paths.get(runDir(s, s"fixture_$name"))
      build.write.mode("overwrite").parquet(staging.toString)
      Files.createDirectories(dir.getParent)
      // losing the rename to another JVM is fine: its bytes are the same
      try Files.move(staging, dir, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.io.IOException
            if Files.isRegularFile(dir.resolve("_SUCCESS")) => ()
      }
    }
    dir.toString
  }

  private val memo = new ConcurrentHashMap[(Path, String), (String, AnyRef)]

  /** `f`, computed once per (fixture content, `name`) in this JVM. A
    * rewritten fixture gets a fresh value, which replaces the old entry:
    * one entry per (fixture directory, name). */
  def fixtureMemo[T <: AnyRef](d: String, name: String)(f: => T): T = {
    val key = fixtureKey(d)
    memo.compute((canonical(d), name), (_, old) =>
      if (old != null && old._1 == key) old else (key, f))._2.asInstanceOf[T]
  }
}
