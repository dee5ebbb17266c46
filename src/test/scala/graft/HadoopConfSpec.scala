package graft

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.mapred.JobConf
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration

import graft.sources.Ingest
import graft.sources.bulksink.BulkTransports

/** [[GraftSession.leanHadoopConf]] on the shared session: the Hadoop
  * configuration every file task carries stays small through an f1-shaped
  * chain of reads and writes, keeps what is not a packaged default, and
  * leaves other configurations in the JVM alone.
  */
class HadoopConfSpec extends SparkSpec {

  private val MaxEntries = 100
  private val MaxBytes = 16 * 1024

  /** Bytes of the conf as Spark ships it in a task or broadcast. */
  private def serializedBytes(conf: Configuration): Int = {
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(new SerializableConfiguration(conf))
    out.close()
    bytes.size
  }

  private def assertLean(): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    assert(conf.size <= MaxEntries, s"${conf.size} entries")
    val bytes = serializedBytes(conf)
    assert(bytes < MaxBytes, s"$bytes serialized bytes")
  }

  test("the session's Hadoop conf holds at most 100 entries in under 16 KB") {
    assertLean()
  }

  test("the conf stays lean through an f1-shaped chain of reads and writes") {
    val dir = Files.createTempDirectory("hadoop-conf-spec")
    val json = dir.resolve("results.json")
    Files.writeString(json, "[\n  {\"id\": 1, \"name\": \"a\"},\n  {\"id\": 2, \"name\": \"b\"}\n]\n")
    val csv = dir.resolve("weather.csv")
    Files.writeString(csv, "id,name\n3,c\n4,d\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val rows = Ingest.json(spark, json.toString, schema, multiLine = true)
      .unionByName(Ingest.csv(spark, csv.toString, schema))
    val out = dir.resolve("formatted").toString
    Ingest.writeParquet(rows, out)
    // no declared schema: Spark runs a footer-inference job
    val back = spark.read.parquet(out)
    assert(back.count() === 4L)
    BulkTransports.register("hadoop-conf-spec") { _ => () }
    back.write.format("graft.sources.bulksink.BulkSink")
      .option("transport.id", "hadoop-conf-spec").mode("append").save()
    assertLean()
  }

  test("a dropped default leaves no source record behind") {
    // unset keeps a key's source record, and every copy of the conf
    // (one per newHadoopConf()) would copy it too
    for (conf <- Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())) {
      assert(conf.get("hadoop.tmp.dir") === null)
      assert(conf.getPropertySources("hadoop.tmp.dir") === null)
      assert(conf.getPropertySources("fs.AbstractFileSystem.file.impl") != null,
        "a kept key keeps its record")
    }
  }

  test("a spark.hadoop.* key survives") {
    // SparkSpec restates core-default.xml's value under spark.hadoop.*
    val conf = spark.sessionState.newHadoopConf()
    assert(conf.get("fs.permissions.umask-mode") === "022")
    assert(conf.get("hadoop.tmp.dir") === null, "packaged defaults are dropped")
  }

  test("streaming checkpoints keep the FileContext-based manager") {
    val path = new Path(Files.createTempDirectory("hadoop-conf-ckpt").toUri)
    val manager = CheckpointFileManager.create(path, spark.sessionState.newHadoopConf())
    assert(manager.isInstanceOf[FileContextBasedCheckpointFileManager],
      manager.getClass.getName)
  }

  test("a fresh Configuration in the same JVM still loads the defaults") {
    val fresh = new Configuration()
    assert(fresh.size > 300, s"${fresh.size} entries")
    assert(fresh.get("hadoop.tmp.dir") != null)
    assert(fresh.getPropertySources("hadoop.tmp.dir").toSeq === Seq("core-default.xml"))
  }

  test("the conf stays lean when FileSystem.getLocal or new JobConf() runs after the trim") {
    FileSystem.getLocal(new Configuration())
    FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    new JobConf()
    assertLean()
  }
}
