package graft.sources

import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Single-file JSON/CSV export: write `coalesce(1)` to a staging dir next
  * to the destination, move the lone part-file to the final destination,
  * clean up the staging dir.
  *
  * Mirrors the reference's `cp_file_temp` (utils.py:226-252,
  * write_to_volume.py:13-16) with two deliberate deviations: a missing
  * part-file raises a clear IllegalStateException instead of the
  * reference's latent NameError (SURVEY.md §5), and the move is atomic
  * where the filesystem allows.
  *
  * Scale note: `coalesce(1)` funnels the whole result through one task —
  * correct for the reference's tiny gold exports, and deliberately
  * confined to this terminal sink; never use it mid-pipeline.
  */
object SingleFileSink {

  def json(df: DataFrame, dest: String): Unit =
    write(df, dest, "json")(_.json(_))

  def csv(df: DataFrame, dest: String, header: Boolean = true): Unit =
    write(df, dest, "csv")(
      (w, p) => w.option("header", header.toString).csv(p))

  /** Stages the `coalesce(1)` output in `.<dest name>.staging`, a
    * sibling of `dest`, so the final move is a same-filesystem rename;
    * the staging dir is removed whether or not the write succeeds. */
  private def write(df: DataFrame, dest: String, ext: String)(
      sink: (org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row], String) => Unit): Unit = {
    val destPath = Paths.get(dest).toAbsolutePath
    val staging = destPath.resolveSibling(s".${destPath.getFileName}.staging")
    try {
      sink(df.coalesce(1).write.mode("overwrite"), staging.toString)
      val part = firstPartFile(staging, ext).getOrElse(
        throw new IllegalStateException(
          s"no part-file *.$ext produced under $staging"))
      Files.move(part, destPath, StandardCopyOption.REPLACE_EXISTING)
    } finally deleteRecursively(staging)
  }

  private def firstPartFile(dir: Path, ext: String): Option[Path] = {
    val stream = Files.list(dir)
    try stream.iterator.asScala
      .filter(p => p.getFileName.toString.startsWith("part-")
        && p.getFileName.toString.endsWith(s".$ext"))
      .toSeq.sortBy(_.getFileName.toString).headOption
    finally stream.close()
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val stream = Files.list(p)
      try stream.iterator.asScala.toSeq.foreach(deleteRecursively)
      finally stream.close()
    }
    Files.deleteIfExists(p)
  }
}
