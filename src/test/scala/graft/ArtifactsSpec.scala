package graft

import java.nio.file.Files
import graft.operators.Dedup
import graft.queries.LlmOps
import org.apache.spark.storage.StorageLevel

/** Cached fixture artifacts key on the fixture's content, and operator
  * scratch is released per session. */
class ArtifactsSpec extends SparkSpec {

  /** A fixture directory named `name` holding one table, `t`. */
  private def fixture(name: String = "sf"): String = {
    val d = Files.createTempDirectory("graft-artifacts").resolve(name).toString
    writeTable(d, 10)
    d
  }

  /** Rewrite the fixture's table in place with `n` rows. */
  private def writeTable(d: String, n: Int): Unit =
    spark.range(n).toDF("id").write.mode("overwrite").parquet(s"$d/t.parquet")

  test("fixtureDir reuses an unchanged fixture and rebuilds after a rewrite") {
    val d = fixture()
    var builds = 0
    def stage(): String = Artifacts.fixtureDir(spark, d, "ids") {
      builds += 1
      spark.read.parquet(s"$d/t.parquet")
    }
    val first = stage()
    assert(stage() === first)
    assert(builds === 1)
    assert(spark.read.parquet(first).count() === 10)
    writeTable(d, 20)
    val second = stage()
    assert(builds === 2)
    assert(second !== first)
    assert(spark.read.parquet(second).count() === 20)
  }

  test("fixtureMemo serves one instance per fixture content") {
    val d = fixture()
    def rows(): java.lang.Long = Artifacts.fixtureMemo(d, "rows") {
      java.lang.Long.valueOf(spark.read.parquet(s"$d/t.parquet").count())
    }
    val first = rows()
    assert(rows() eq first)
    writeTable(d, 20)
    val second = rows()
    assert(!(second eq first))
    assert(second.longValue === 20L)
    assert(rows() eq second)
  }

  test("fixture dirs with the same last path component get different " +
    "band-index paths, and a rewrite gets a new one") {
    val a = fixture("sf0.01")
    val b = fixture("sf0.01")
    val pathA = LlmOps.bandIndexPath(spark, a)
    assert(LlmOps.bandIndexPath(spark, a) === pathA)
    assert(LlmOps.bandIndexPath(spark, b) !== pathA)
    writeTable(a, 20)
    assert(LlmOps.bandIndexPath(spark, a) !== pathA)
  }

  test("releaseScratch drops only the scratch of the session it is given") {
    val other = spark.newSession()
    val mine = Dedup.scratchPersist(spark.range(1000).selectExpr("id * 3 AS v"))
    val theirs = Dedup.scratchPersist(other.range(1000).selectExpr("id * 7 AS v"))
    mine.count()
    theirs.count()
    Dedup.releaseScratch(spark)
    assert(mine.storageLevel === StorageLevel.NONE)
    assert(theirs.storageLevel !== StorageLevel.NONE)
    Dedup.releaseScratch(other)
    assert(theirs.storageLevel === StorageLevel.NONE)
  }
}
