package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path

/** The build-once protocol behind every staged store
  * ([[Tables.buildOnce]]): the `_staged` marker commits after the
  * build, so a writer killed mid-build leaves a store the next call
  * rebuilds, and a marked store is read back without building. */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  test("buildOnce: a killed writer's partial store is rebuilt, reads " +
    "back equal to a fresh build, and is then read without building") {
    def fresh(prefix: String) = Files.createTempDirectory(prefix).toString
    def marked(dir: String) = {
      val marker = new Path(s"$dir/_staged")
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .exists(marker)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("k").as[(Long, String)].collect().toSeq
    val full = Seq((1L, "a"), (2L, "b"), (3L, "c"))
    val dir = fresh("graft-buildonce-killed")
    // the killed writer: part of the data landed, then the build died
    // before the marker could commit
    intercept[IllegalStateException] {
      Tables.stagedParquet(spark, dir) {
        full.take(1).toDF("k", "v").write.mode("overwrite")
          .parquet(s"$dir/data")
        throw new IllegalStateException("writer killed")
      }
    }
    assert(!marked(dir))
    assert(spark.read.parquet(s"$dir/data").count() == 1L)
    var builds = 0
    val back = Tables.stagedParquet(spark, dir) {
      builds += 1
      full.toDF("k", "v")
    }
    assert(builds == 1 && marked(dir))
    val clean = Tables.stagedParquet(spark, fresh("graft-buildonce-clean")) {
      full.toDF("k", "v")
    }
    assert(rows(back) == full)
    assert(rows(back) == rows(clean))
    // marked: read back as built, the build never runs again
    val again = Tables.stagedParquet(spark, dir) {
      throw new IllegalStateException("a marked store must not rebuild")
    }
    assert(rows(again) == full)
  }
}
