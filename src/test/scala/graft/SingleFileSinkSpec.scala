package graft

import graft.sources.SingleFileSink
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class SingleFileSinkSpec extends SparkSpec {
  import spark.implicits._

  test("json sink produces exactly one file at the destination path") {
    val dest = Files.createTempDirectory("sfs").resolve("out.json")
    SingleFileSink.json(Seq((1, "a"), (2, "b")).toDF("id", "v"), dest.toString)
    assert(Files.isRegularFile(dest))
    val back = spark.read.json(dest.toString)
    assert(back.count() == 2)
  }

  test("csv sink writes header and is re-readable") {
    val dest = Files.createTempDirectory("sfs").resolve("out.csv")
    SingleFileSink.csv(Seq((1, "a")).toDF("id", "v"), dest.toString)
    val lines = Files.readAllLines(dest)
    assert(lines.get(0) == "id,v")
    assert(lines.size == 2)
  }

  test("overwrite replaces an existing destination file") {
    val dest = Files.createTempDirectory("sfs").resolve("out.csv")
    SingleFileSink.csv(Seq((1, "a")).toDF("id", "v"), dest.toString)
    SingleFileSink.csv(Seq((9, "z")).toDF("id", "v"), dest.toString)
    val lines = Files.readAllLines(dest)
    assert(lines.get(1) == "9,z")
  }

  test("a failed write leaves neither a staging dir nor a destination file") {
    import org.apache.spark.sql.functions.{col, lit, raise_error, when}
    val dir = Files.createTempDirectory("sfs")
    val failing = spark.range(4).select(
      when(col("id") >= 0, raise_error(lit("boom"))).otherwise(lit("ok")).as("v"))
    intercept[Exception](SingleFileSink.csv(failing, dir.resolve("out.csv").toString))
    val left = Files.list(dir)
    try assert(left.iterator.asScala.toSeq.isEmpty)
    finally left.close()
  }
}
