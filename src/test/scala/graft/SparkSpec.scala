package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. It shares with Verify/Bench
  * ([[GraftSession.build]]) the time zone, the extensions, nanosAsLong,
  * the codegen confs, the `file://` FileSystem
  * ([[GraftSession.LocalFileSystemConf]]) and the lean Hadoop
  * configuration ([[GraftSession.leanHadoopConf]]). It does NOT share
  * three settings:
  *   - `spark.sql.join.preferSortMergeJoin` stays at Spark's default
  *     (true), where the engine sets false; BucketedJoinSpec asserts
  *     `SortMergeJoinExec`;
  *   - `spark.cleaner.periodicGC.interval` stays at Spark's default;
  *   - shuffle partitions are a fixed 4 on `local[4]`, not derived from
  *     the input size.
  * It also records no LSH corpus hint, so specs plan ann queries with the
  * default LSH geometry.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSpec.session

  def sf(dir: String): String = s"/root/testdata/$dir"
}

object SparkSpec {
  // One session per JVM: forked test JVM reuses it across suites.
  lazy val session: SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftSparkExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // the codegen cache's size (static: the suite's working set of
      // generated classes is far above Spark's default of 100) and the
      // two confs that keep one class per source (GraftSession.CodegenConfs)
      .config(GraftSession.CodegenConfs)
      // file:// sets permissions without forking chmod
      // (PosixLocalFileSystemSpec)
      .config(Map(GraftSession.LocalFileSystemConf))
      // HadoopConfSpec: a spark.hadoop.* key survives the lean conf (this
      // one restates core-default.xml's own value)
      .config("spark.hadoop.fs.permissions.umask-mode", "022")
      // static conf: bucketed-table specs write managed tables here
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    GraftSession.leanHadoopConf(spark)
    spark
  }
}
