package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, EOFException, File, FileInputStream, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.{Map => JMap, UUID}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 TRANSACTIONAL SINK (+ read-back path) — the write half
  * of the DSv2 extension rung ([[LatticeSource]] is the read half). The
  * reference publishes its results with an overwrite-a-directory bulk sink
  * (reference: ecs_loader/load_to_postgres.py — DROP + bulk INSERT);
  * [[graft.ops.Materialize]] re-expresses that as versioned parquet with a
  * pointer swap. This source re-expresses the same contract ONE level
  * lower, as Spark's native write protocol, which is what a warehouse-
  * grade sink (Iceberg/Delta-class) actually implements:
  *
  *   df.write.format("graft.sources.LedgerSink")
  *     .option("path", dir).option("clusterBy", "k").option("orderBy", "s")
  *     .mode("append" | "overwrite").save()
  *
  *   - **Staged-file commit protocol**: each task's `DataWriter` streams
  *     rows to a uniquely-named data file (partition + task + UUID — safe
  *     under speculative duplicate attempts) and reports it in its
  *     `WriterCommitMessage`; NOTHING is visible until the driver's
  *     `BatchWrite.commit` writes `manifest.json` via temp-file +
  *     ATOMIC_MOVE. Readers resolve ONLY manifest-listed files, so a
  *     crashed/aborted job — even one that wrote every data file — leaves
  *     the previous table version intact (the S3-safe pattern: data files
  *     need no rename; the manifest is the single atomic point).
  *   - **Abort path**: `BatchWrite.abort` deletes the staged files of
  *     every task that reported in; uncommitted stragglers are invisible
  *     garbage by construction (a production deployment GCs them by age,
  *     like `Materialize.gc`).
  *   - **`RequiresDistributionAndOrdering`**: the sink DECLARES clustered
  *     distribution on `clusterBy` and a per-partition sort on `orderBy`,
  *     and Spark plans the exchange + sort — the consumer-driven layout
  *     contract (each key in exactly one output file, rows ordered within)
  *     that makes the written table range-readable without a compaction
  *     pass. At 100 TB this is the difference between a sink that
  *     receives whatever layout the query ended with and one that
  *     guarantees its own read performance.
  *   - **Append vs truncate**: `SupportsTruncate` flags overwrite at the
  *     WriteBuilder; the visibility flip still happens only at manifest
  *     commit (a failed overwrite leaves the old version readable), and
  *     append unions the old manifest's files with the new ones.
  *
  * Values are length-framed binary (long/int/double/bool/string + null
  * flags); the manifest carries the schema as DDL, so `read` needs no
  * user schema. The read path prunes columns (the writer framing is
  * skippable per field). Row-group stats / predicate pushdown are
  * deliberately out of scope — [[LatticeSource]] demonstrates the full
  * read-side pushdown ladder.
  */
class LedgerSink extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = LedgerSink.requirePath(options.asCaseSensitiveMap())
    LedgerSink.readManifest(path) match {
      case Some(m) => StructType.fromDDL(m.schemaDdl)
      case None => throw new IllegalArgumentException(
        s"LedgerSink: no committed manifest at $path — nothing to read")
    }
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new LedgerTable(schema, LedgerSink.requirePath(properties),
      opts.getOrDefault("clusterby", ""), opts.getOrDefault("orderby", ""),
      opts.getOrDefault("poisonvalue", ""))
  }
}

object LedgerSink {
  final case class Manifest(schemaDdl: String, files: Seq[(String, Long)])

  private[sources] def requirePath(properties: JMap[String, String]): String = {
    val p = new CaseInsensitiveStringMap(properties).get("path")
    require(p != null && p.nonEmpty, "LedgerSink requires .option(\"path\", ...)")
    p
  }

  /** Minimal flat-JSON manifest codec (schema DDL + (file, rows) list) —
    * no JSON library in the classpath contract, and the grammar here is a
    * closed set this codec fully controls (strings are base64'd, so no
    * escaping cases exist). */
  private[sources] def writeManifest(dir: String, m: Manifest): Unit = {
    val enc = java.util.Base64.getEncoder
    def b64(s: String) = enc.encodeToString(s.getBytes(StandardCharsets.UTF_8))
    val files = m.files.map { case (f, n) => s"""["${b64(f)}",$n]""" }
      .mkString("[", ",", "]")
    val body = s"""{"schema":"${b64(m.schemaDdl)}","files":$files}"""
    val tmp = Paths.get(dir, s".manifest-${UUID.randomUUID()}.tmp")
    Files.createDirectories(Paths.get(dir))
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(dir, "manifest.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  private[sources] def readManifest(dir: String): Option[Manifest] = {
    val p = Paths.get(dir, "manifest.json")
    if (!Files.exists(p)) return None
    val dec = java.util.Base64.getDecoder
    def unb64(s: String) = new String(dec.decode(s), StandardCharsets.UTF_8)
    val body = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    val schema = unb64("\"schema\":\"([A-Za-z0-9+/=]*)\"".r
      .findFirstMatchIn(body).get.group(1))
    val files = "\\[\"([A-Za-z0-9+/=]*)\",(\\d+)\\]".r.findAllMatchIn(body)
      .map(m => (unb64(m.group(1)), m.group(2).toLong)).toSeq
    Some(Manifest(schema, files))
  }

  private[sources] def supportedType(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | DoubleType | BooleanType | StringType => true
    case _ => false
  }
}

private[sources] class LedgerTable(schema0: StructType, path: String,
                                   clusterBy: String, orderBy: String,
                                   poison: String)
  extends Table with SupportsWrite with SupportsRead {
  require(schema0.fields.forall(f => LedgerSink.supportedType(f.dataType)),
    s"LedgerSink supports long/int/double/boolean/string columns, got ${schema0.toDDL}")

  override def name(): String = s"ledger(`$path`)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new LedgerWriteBuilder(info.schema(), path, clusterBy, orderBy, poison)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LedgerScanBuilder(schema0, path)
}

private[sources] class LedgerWriteBuilder(schema: StructType, path: String,
                                          clusterBy: String, orderBy: String,
                                          poison: String)
  extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = new RequiresDistributionAndOrdering {
    private def cols(spec: String): Array[String] =
      spec.split(",").map(_.trim).filter(_.nonEmpty)

    override def requiredDistribution(): Distribution = {
      val c = cols(clusterBy)
      if (c.isEmpty) Distributions.unspecified()
      else Distributions.clustered(c.map(Expressions.identity(_): org.apache.spark.sql.connector.expressions.Expression))
    }
    override def requiredOrdering(): Array[SortOrder] =
      // cluster keys lead the ordering so equal keys are contiguous even
      // within a file; orderBy refines inside each key run
      (cols(clusterBy) ++ cols(orderBy)).map(c =>
        Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
    override def requiredNumPartitions(): Int = 0 // let AQE size the exchange

    override def toBatch: BatchWrite =
      new LedgerBatchWrite(schema, path, truncateFirst, poison)
    override def description(): String = s"LedgerSink write to $path"
  }
}

private[sources] case class LedgerCommit(file: String, rows: Long)
  extends WriterCommitMessage

private[sources] class LedgerBatchWrite(schema: StructType, path: String,
                                        truncateFirst: Boolean, poison: String)
  extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new LedgerWriterFactory(schema, path,
      if (poison.isEmpty) None else Some(poison.toLong))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val fresh = messages.collect { case LedgerCommit(f, n) if n > 0 => (f, n) }
    val prior =
      if (truncateFirst) Seq.empty
      else LedgerSink.readManifest(path).map(_.files).getOrElse(Seq.empty)
    LedgerSink.writeManifest(path,
      LedgerSink.Manifest(schema.toDDL, prior ++ fresh))
    // truncate: old files become unreferenced the instant the new manifest
    // lands; delete them after (readers mid-scan on local FS keep their
    // open handles — at scale this is an age-based GC, like Materialize's)
    if (truncateFirst) {
      val keep = (fresh.map(_._1) :+ "manifest.json").toSet
      val d = new File(path)
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && !keep.contains(f.getName) && !f.getName.endsWith(".tmp"))
        .foreach(_.delete())
    }
    // zero-row tasks staged empty files nothing references: drop them now
    messages.collect { case LedgerCommit(f, 0L) => f }
      .foreach(f => new File(path, f).delete())
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case LedgerCommit(f, _) => new File(path, f).delete(); ()
      case _ => ()
    }
}

private[sources] class LedgerWriterFactory(schema: StructType, path: String,
                                           poison: Option[Long])
  extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new LedgerWriter(schema, path, partitionId, taskId, poison)
}

/** Streams framed rows to a staged file named uniquely per (partition,
  * task, UUID) — duplicate speculative attempts write distinct files and
  * only the attempt whose message reaches commit becomes visible (the
  * driver-side commit coordinator guarantees one winner). */
private[sources] class LedgerWriter(schema: StructType, dir: String,
                                    partitionId: Int, taskId: Long,
                                    poison: Option[Long])
  extends DataWriter[InternalRow] {
  private val fileName =
    f"part-$partitionId%05d-$taskId-${UUID.randomUUID().toString.take(8)}.ledger"
  Files.createDirectories(Paths.get(dir))
  private val out = new DataOutputStream(new BufferedOutputStream(
    new FileOutputStream(new File(dir, fileName))))
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    poison.foreach { bad =>
      if (!row.isNullAt(0) && schema.fields(0).dataType == LongType &&
          row.getLong(0) == bad)
        throw new IllegalStateException(s"LedgerWriter: poisoned row value $bad")
    }
    var i = 0
    while (i < schema.length) {
      val isNull = row.isNullAt(i)
      out.writeBoolean(isNull)
      if (!isNull) schema.fields(i).dataType match {
        case LongType => out.writeLong(row.getLong(i))
        case IntegerType => out.writeInt(row.getInt(i))
        case DoubleType => out.writeDouble(row.getDouble(i))
        case BooleanType => out.writeBoolean(row.getBoolean(i))
        case StringType =>
          val b = row.getUTF8String(i).getBytes
          out.writeInt(b.length); out.write(b)
        case dt => throw new IllegalStateException(s"unsupported $dt")
      }
      i += 1
    }
    rows += 1L
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    LedgerCommit(fileName, rows)
  }
  override def abort(): Unit = {
    out.close()
    new File(dir, fileName).delete()
    ()
  }
  override def close(): Unit = out.close()
}

// ---------- read path ----------

private[sources] class LedgerScanBuilder(schema: StructType, path: String)
  extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = schema
  private var countPushed = false
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Ungrouped COUNT(*) is answered FROM THE MANIFEST — the per-file row
    * counts each task reported at commit — with zero data files opened.
    * COMPLETE pushdown: the scan's single metadata row IS the result.
    * This is the warehouse-sink property (Iceberg/Delta answer the same
    * query from their manifests); `LedgerSinkSpec` proves it by deleting
    * a data file and counting anyway. */
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val ok = agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions()(0)
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (ok) countPushed = true
    ok
  }
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    pushAggregation(agg)

  override def build(): Scan = new Scan with Batch with SupportsReportStatistics {
    override def readSchema(): StructType =
      if (countPushed) StructType(Seq(StructField("count(*)", LongType, nullable = false)))
      else required
    override def toBatch: Batch = this

    /** EXACT statistics from the commit manifest — the same per-file row
      * counts that answer the pushed COUNT(*), summed at planning time
      * with zero data files opened (the Iceberg/Delta manifest-stats
      * property). sizeInBytes prorates the on-disk bytes of
      * manifest-listed files by the pruned-column width, so a join
      * against a small ledger table auto-broadcasts; without this a DSv2
      * relation reports `spark.sql.defaultSizeInBytes` (Long.Max) and
      * never wins a broadcast decision. */
    override def estimateStatistics(): Statistics = {
      val manifest = LedgerSink.readManifest(path)
      val rows: Long =
        if (countPushed) 1L
        else manifest.map(_.files.map(_._2).sum).getOrElse(0L)
      val diskBytes = manifest.map(_.files.map { case (f, _) =>
        new File(path, f).length()
      }.sum).getOrElse(0L)
      val full = math.max(schema.defaultSize, 1)
      val pruned = math.max(readSchema().defaultSize, 1)
      val bytes =
        if (countPushed) 16L
        else if (diskBytes > Long.MaxValue / pruned) Long.MaxValue
        else math.max(diskBytes * pruned / full, rows)
      new Statistics {
        override def sizeInBytes(): java.util.OptionalLong =
          java.util.OptionalLong.of(bytes)
        override def numRows(): java.util.OptionalLong =
          java.util.OptionalLong.of(rows)
      }
    }
    override def description(): String =
      s"LedgerSink scan of $path${if (countPushed) " pushedAgg=[COUNT(*) from manifest]" else ""}"
    override def planInputPartitions(): Array[InputPartition] =
      if (countPushed)
        Array(LedgerCountPartition(
          LedgerSink.readManifest(path).map(_.files.map(_._2).sum).getOrElse(0L)))
      else
        LedgerSink.readManifest(path).map(_.files).getOrElse(Seq.empty)
          .map(f => LedgerFilePartition(path, f._1): InputPartition).toArray
    override def createReaderFactory(): PartitionReaderFactory =
      if (countPushed) new LedgerCountReaderFactory
      else new LedgerReaderFactory(schema, required)
  }
}

private[sources] case class LedgerCountPartition(total: Long) extends InputPartition

private[sources] class LedgerCountReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val total = partition.asInstanceOf[LedgerCountPartition].total
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): InternalRow = {
        val row = new GenericInternalRow(1); row.update(0, total); row
      }
      override def close(): Unit = ()
    }
}

private[sources] case class LedgerFilePartition(dir: String, file: String)
  extends InputPartition

private[sources] class LedgerReaderFactory(full: StructType, required: StructType)
  extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LedgerFilePartition]
    new LedgerReader(new File(p.dir, p.file), full, required)
  }
}

private[sources] class LedgerReader(file: File, full: StructType,
                                    required: StructType)
  extends PartitionReader[InternalRow] {
  private val in = new DataInputStream(new BufferedInputStream(
    new FileInputStream(file)))
  // project while decoding: wanted(i) = output slot of full-schema field i
  private val wanted: Array[Int] =
    full.fields.map(f => required.fieldNames.indexOf(f.name))
  private var row: GenericInternalRow = _

  override def next(): Boolean = {
    val r = new GenericInternalRow(required.length)
    var i = 0
    try {
      while (i < full.length) {
        val isNull = in.readBoolean()
        val slot = wanted(i)
        val dt = full.fields(i).dataType
        if (isNull) { if (slot >= 0) r.update(slot, null) }
        else dt match {
          case LongType =>
            val v = in.readLong(); if (slot >= 0) r.update(slot, v)
          case IntegerType =>
            val v = in.readInt(); if (slot >= 0) r.update(slot, v)
          case DoubleType =>
            val v = in.readDouble(); if (slot >= 0) r.update(slot, v)
          case BooleanType =>
            val v = in.readBoolean(); if (slot >= 0) r.update(slot, v)
          case StringType =>
            val n = in.readInt(); val b = new Array[Byte](n); in.readFully(b)
            if (slot >= 0) r.update(slot, UTF8String.fromBytes(b))
          case other => throw new IllegalStateException(s"unsupported $other")
        }
        i += 1
      }
    } catch {
      case _: EOFException if i == 0 => return false
    }
    row = r
    true
  }
  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}
