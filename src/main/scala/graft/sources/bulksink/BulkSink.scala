package graft.sources.bulksink

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType, LongType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 WRITE path for the reference's Elasticsearch bulk sink
  * (SURVEY.md S8, `Lucas files/Code Big Data Project.py:401-454`),
  * upgrading [[graft.sources.Ingest.bulkIndex]]'s `foreachPartition`
  * helper to a first-class `df.write.format(...)` connector:
  *
  *   - rows serialize to JSON documents and POST in `batchSize` bulks,
  *     with `maxAttempts` retries per bulk and failed-bulk QUARANTINE
  *     (a poison batch is counted and skipped, not a job abort — the
  *     reference's pipeline keeps indexing the rest);
  *   - per-task counts travel as native DSv2 custom metrics (visible in
  *     the Spark UI / listener bus like any file sink's) AND aggregate
  *     into a job-level [[BulkSink.lastReport]] at commit;
  *   - the transport is configuration, not code: `transport.id` resolves
  *     a test-registered collector ([[BulkTransports.register]], same-JVM
  *     local mode), `transport.class` reflectively instantiates a
  *     [[BulkTransport]] on each executor (the production shape — the
  *     same class-name-configured client pattern elasticsearch-hadoop
  *     uses). Zero-egress sandbox: no live HTTP client ships, by design.
  *
  * 100 TB shape: embarrassingly parallel — one writer per partition, no
  * shuffle, no driver data path; batch size bounds executor memory and
  * the bulk payload; retries/quarantine bound the blast radius of a bad
  * shard to one bulk.
  */
object BulkSink {
  /** Job-level aggregate of the last committed write in this JVM. */
  final case class Report(docs: Long, batches: Long, retries: Long,
      failedBatches: Long, failedDocs: Long)

  val lastReport = new AtomicReference[Report](Report(0, 0, 0, 0, 0))
}

/** Executor-side transport: one call per bulk, throw to signal failure. */
trait BulkTransport extends Serializable {
  def post(batch: Seq[String]): Unit
}

/** Same-JVM transport registry for `transport.id` (tests / local mode). */
object BulkTransports {
  private val registry = new ConcurrentHashMap[String, Seq[String] => Unit]()
  def register(id: String)(f: Seq[String] => Unit): Unit = registry.put(id, f)
  def resolve(id: String): Seq[String] => Unit = {
    val f = registry.get(id)
    require(f != null, s"no transport registered under id '$id'")
    f
  }
}

final class BulkSink extends TableProvider {
  // write-only source: the schema is whatever frame is written — Spark
  // passes it through getTable when supportsExternalMetadata is true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new BulkSinkTable(schema)
}

final class BulkSinkTable(schema: StructType) extends Table with SupportsWrite {
  override def name(): String = "bulksink"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new BulkWrite(info.schema(),
        info.options())
    }
}

/** The sink's five counters as DSv2 sum metrics. When Spark aggregates a
  * custom metric it re-creates it from its class name through a
  * zero-argument constructor, so each counter is its own public class.
  */
sealed abstract class BulkSinkMetric(metricName: String)
    extends CustomSumMetric {
  override def name(): String = metricName
  override def description(): String = s"bulk sink $metricName"
}
final class BulkDocsMetric extends BulkSinkMetric("docs")
final class BulkBatchesMetric extends BulkSinkMetric("batches")
final class BulkRetriesMetric extends BulkSinkMetric("retries")
final class BulkFailedBatchesMetric extends BulkSinkMetric("failedBatches")
final class BulkFailedDocsMetric extends BulkSinkMetric("failedDocs")

private final case class BulkTaskMetric(name: String, value: Long)
    extends CustomTaskMetric

final class BulkWrite(schema: StructType, options: CaseInsensitiveStringMap)
    extends Write with BatchWrite {

  override def toBatch: BatchWrite = this
  override def description(): String = s"bulksink(batchSize=$batchSize)"

  private val batchSize = options.getInt("batchSize", 500)
  private val maxAttempts = options.getInt("maxAttempts", 3)
  require(batchSize > 0, s"batchSize must be positive, got $batchSize")
  require(maxAttempts > 0, s"maxAttempts must be positive, got $maxAttempts")

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new BulkDocsMetric, new BulkBatchesMetric, new BulkRetriesMetric,
      new BulkFailedBatchesMetric, new BulkFailedDocsMetric)

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new BulkWriterFactory(schema, batchSize, maxAttempts,
      Option(options.get("transport.id")),
      Option(options.get("transport.class")))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ms = messages.collect { case m: BulkCommit => m }
    BulkSink.lastReport.set(BulkSink.Report(
      ms.map(_.docs).sum, ms.map(_.batches).sum, ms.map(_.retries).sum,
      ms.map(_.failedBatches).sum, ms.map(_.failedDocs).sum))
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class BulkCommit(docs: Long, batches: Long, retries: Long,
    failedBatches: Long, failedDocs: Long) extends WriterCommitMessage

final class BulkWriterFactory(schema: StructType, batchSize: Int,
    maxAttempts: Int, transportId: Option[String],
    transportClass: Option[String]) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    val post: Seq[String] => Unit = (transportId, transportClass) match {
      case (Some(id), _) => BulkTransports.resolve(id)
      case (None, Some(cn)) =>
        val t = Class.forName(cn).getDeclaredConstructor()
          .newInstance().asInstanceOf[BulkTransport]
        t.post _
      case (None, None) =>
        throw new IllegalArgumentException(
          "bulksink requires transport.id (registry) or transport.class")
    }
    new BulkWriter(schema, batchSize, maxAttempts, post)
  }
}

/** Serializes rows to JSON documents, bulks them, retries, quarantines.
  * Primitive columns only (string/long/int/double/boolean — the shape of
  * every result table the reference indexes); anything else fails loudly
  * at the first row rather than silently mangling documents.
  */
final class BulkWriter(schema: StructType, batchSize: Int, maxAttempts: Int,
    post: Seq[String] => Unit) extends DataWriter[InternalRow] {

  private val buf = scala.collection.mutable.ArrayBuffer.empty[String]
  private var docs = 0L
  private var batches = 0L
  private var retries = 0L
  private var failedBatches = 0L
  private var failedDocs = 0L

  private def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  private def json(row: InternalRow): String =
    schema.fields.zipWithIndex.map { case (f, i) =>
      val v =
        if (row.isNullAt(i)) "null"
        else f.dataType match {
          case StringType => "\"" + esc(row.getUTF8String(i).toString) + "\""
          case LongType => row.getLong(i).toString
          case IntegerType => row.getInt(i).toString
          case DoubleType =>
            val d = row.getDouble(i)
            if (d.isNaN || d.isInfinite) "null" else d.toString
          case BooleanType => row.getBoolean(i).toString
          case other => throw new IllegalArgumentException(
            s"bulksink: unsupported column type $other for field ${f.name}")
        }
      "\"" + esc(f.name) + "\": " + v
    }.mkString("{", ", ", "}")

  private def flush(): Unit = if (buf.nonEmpty) {
    val batch = buf.toSeq
    buf.clear()
    var attempt = 1
    var done = false
    while (!done) {
      try {
        post(batch)
        done = true
        batches += 1
        docs += batch.size
      } catch {
        case scala.util.control.NonFatal(_) if attempt < maxAttempts =>
          attempt += 1
          retries += 1
        case scala.util.control.NonFatal(_) =>
          done = true // quarantine: count and continue, never abort the job
          failedBatches += 1
          failedDocs += batch.size
      }
    }
  }

  override def write(row: InternalRow): Unit = {
    buf += json(row)
    if (buf.size >= batchSize) flush()
  }

  // Spark hands a task its whole partition here and reads the task's
  // metrics before commit(): post the last partial bulk now, so the
  // metrics count it
  override def writeAll(rows: java.util.Iterator[InternalRow]): Unit = {
    while (rows.hasNext) write(rows.next())
    flush()
  }

  override def currentMetricsValues(): Array[CustomTaskMetric] =
    Array(BulkTaskMetric("docs", docs), BulkTaskMetric("batches", batches),
      BulkTaskMetric("retries", retries),
      BulkTaskMetric("failedBatches", failedBatches),
      BulkTaskMetric("failedDocs", failedDocs))

  override def commit(): WriterCommitMessage = {
    flush()
    BulkCommit(docs, batches, retries, failedBatches, failedDocs)
  }
  override def abort(): Unit = buf.clear()
  override def close(): Unit = ()
}
