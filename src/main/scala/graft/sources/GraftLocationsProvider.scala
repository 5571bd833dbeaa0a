package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite,
  Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation,
  CountStar}
import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection,
  SortOrder => V2SortOrder}
import org.apache.spark.sql.connector.expressions.NullOrdering
import org.apache.spark.sql.connector.read.{Batch, InputPartition,
  PartitionReader, PartitionReaderFactory, Scan, ScanBuilder,
  SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownLimit,
  SupportsPushDownRequiredColumns, SupportsPushDownTopN}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter,
  DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.sources.{EqualNullSafe, EqualTo, Filter, In, IsNotNull,
  IsNull, Not}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType,
  StringType, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** A REAL custom DataSource-V2 connector hosting the reference's two store
  * shapes — the architectural element the reference implements as hardcoded
  * Cassandra/CosmosDB endpoints (heatmap.py:131–150). Registered as
  * `graft-locations` (META-INF/services), it serves delimited line files in
  * a directory; `option("table", ...)` picks the store:
  *
  *   - `locations` (default): `latitude,longitude,source,user_id,epochMillis`
  *     in `*.loc` files — the read side of the reference's batch job,
  *   - `heatmaps`: `id<TAB>heatmapJSON` in `*.hm` files — the append sink of
  *     op #13 (heatmap.py:149–150 writes `['id','heatmap']` rows back to the
  *     same Cassandra cluster it read from).
  *
  * The wire format is deliberately trivial; what it demonstrates is the
  * engine hosting a NON-built-in source through the full DSv2 seam:
  *
  *   - `TableProvider`/`Table` with fixed contract schemas,
  *   - one `InputPartition` per file → parallel, executor-side reads (no
  *     driver materialization; at scale, files = the unit of work exactly
  *     like a real log-store connector),
  *   - `SupportsPushDownRequiredColumns`: column pruning reaches the reader,
  *     which converts ONLY the requested fields,
  *   - `SupportsPushDownFilters`: string equality/null-test predicates (the
  *     reference's canonical pushdown miss is `source != 'background'`,
  *     heatmap.py:28, filtered AFTER the fan-out — SURVEY §4.1) are applied
  *     at parse time, before rows are ever materialized,
  *   - `SupportsPushDownLimit`: LIMIT reaches the reader, which stops
  *     consuming its file after the pushed row count (partial pushdown —
  *     per partition; Spark keeps the global limit),
  *   - `SupportsPushDownTopN`: ORDER BY + LIMIT over stored columns keeps a
  *     BOUNDED HEAP of n rows per file instead of surfacing every row for an
  *     engine-side sort (partial pushdown — Spark still merges the per-file
  *     candidates, but the scan emits ≤ n·files rows, not the whole store),
  *   - `SupportsPushDownAggregates`: an ungrouped COUNT(*) (optionally atop
  *     pushed filters) collapses to ONE long per file — lines are counted
  *     at parse level, rows are never typed or materialized, and Spark just
  *     sums the per-partition counts (partial pushdown),
  *   - `SupportsWrite` (append): a two-phase commit — tasks write to a
  *     query-scoped temp dir and the driver renames on global commit — so
  *     speculative/retried tasks never leave partial output visible,
  *   - epoch-millis → TimestampType conversion inside the reader, so
  *     downstream plans see the contract schema directly.
  */
class GraftLocationsProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-locations"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftStore.forName(options.getOrDefault("table", "locations")).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    // options must resolve case-insensitively here exactly as they do in
    // inferSchema's CaseInsensitiveStringMap — a raw properties.get("table")
    // would miss e.g. option("Table", ...) and silently pair the heatmaps
    // SCHEMA with the locations STORE
    val opts = new CaseInsensitiveStringMap(properties)
    new GraftLocationsTable(
      Option(opts.get("path")).getOrElse(throw new IllegalArgumentException(
        "graft-locations requires a path")),
      GraftStore.forName(opts.getOrDefault("table", "locations")))
  }
}

/** A store hosted by the connector: contract schema + wire format. Strings
  * must not contain the delimiter or a line break (enforced on write, so
  * reads never see ambiguous lines). */
final case class GraftStore(name: String, extension: String, delimiter: Char,
    schema: StructType) extends Serializable

object GraftStore {
  /** The locations contract (FIXTURES.md §A) — timestamp surfaces as a real
    * TimestampType even though the wire format carries epoch millis. */
  val Locations: GraftStore = GraftStore("locations", ".loc", ',',
    new StructType()
      .add("latitude", DoubleType)
      .add("longitude", DoubleType)
      .add("source", StringType)
      .add("user_id", StringType)
      .add("timestamp", TimestampType))

  /** The heatmaps contract (heatmap.py:158 `['id','heatmap']`). JSON blobs
    * contain commas, so this store is tab-delimited (our JSON serializer
    * never emits a raw tab). */
  val Heatmaps: GraftStore = GraftStore("heatmaps", ".hm", '\t',
    new StructType()
      .add("id", StringType)
      .add("heatmap", StringType))

  def forName(name: String): GraftStore = name match {
    case "locations" => Locations
    case "heatmaps"  => Heatmaps
    case other => throw new IllegalArgumentException(
      s"graft-locations: unknown table '$other' (expected locations|heatmaps)")
  }
}

object GraftLocationsTable {
  /** Kept as the stable public name for the locations contract schema. */
  val tableSchema: StructType = GraftStore.Locations.schema
}

class GraftLocationsTable(path: String, store: GraftStore) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-locations(`$path`).${store.name}"
  override def schema(): StructType = store.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLocationsScanBuilder(path, store)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftLocationsWriteBuilder(path, store, info)
}

class GraftLocationsScanBuilder(path: String, store: GraftStore)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters with SupportsPushDownLimit
    with SupportsPushDownTopN with SupportsPushDownAggregates {
  private var required: StructType = store.schema
  private var pushed: Array[Filter] = Array.empty
  private var limit: Int = -1
  private var topN: Option[(Array[SortKey], Int)] = None

  /** Per-partition limit: each file reader stops after `l` surviving rows.
    * Partial pushdown (isPartiallyPushed stays true): with one partition
    * per file the source cannot bound the GLOBAL row count, so Spark keeps
    * its own limit above the scan — but each reader now stops parsing its
    * file early instead of draining it. */
  override def pushLimit(l: Int): Boolean = { limit = l; true }

  /** Both limit and TopN pushdowns are PARTIAL — one partition per file
    * means the source can never bound the global result (Scala requires the
    * explicit override: both parent traits default it). */
  override def isPartiallyPushed(): Boolean = true

  /** ORDER BY + LIMIT: accepted when every sort key is a plain stored
    * column (any of the contract types — their wire values compare with
    * engine-identical semantics, see [[SortKey]]). Partial pushdown
    * (isPartiallyPushed stays true): each file reader keeps a bounded heap
    * of the n best rows and Spark merge-sorts the per-file candidates — at
    * a million-row file and n=100 the scan surfaces 100 rows, not 10⁶. */
  override def pushTopN(orders: Array[V2SortOrder], n: Int): Boolean = {
    val keys = orders.map { o =>
      o.expression() match {
        case ref: NamedReference if ref.fieldNames().length == 1 &&
            store.schema.fieldNames.contains(ref.fieldNames()(0)) =>
          Some(SortKey(store.schema.fieldIndex(ref.fieldNames()(0)),
            o.direction() == SortDirection.DESCENDING,
            o.nullOrdering() == NullOrdering.NULLS_FIRST))
        case _ => None
      }
    }
    if (n > 0 && keys.nonEmpty && keys.forall(_.isDefined)) {
      topN = Some((keys.map(_.get), n)); true
    } else false
  }

  private var countStar = false

  /** Ungrouped COUNT(*) only — the one aggregate a line store can answer
    * without typing a single field (pushed filters still apply: they read
    * raw string fields). Partial pushdown (supportCompletePushDown stays
    * false): the scan emits one count per FILE and Spark sums them. */
  override def pushAggregation(agg: Aggregation): Boolean = {
    countStar = agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head.isInstanceOf[CountStar]
    countStar
  }

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accepts string-typed equality and null tests — exactly the predicates
    * the line reader can evaluate on raw fields with engine-identical
    * semantics (3-valued logic: a NULL predicate drops the row, so
    * `Not(EqualTo)` keeps only non-null differing values, while the
    * null-safe `Not(EqualNullSafe)` also keeps nulls). Everything else
    * stays residual and Spark evaluates it after the scan. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, residual) = filters.partition(LineFilter.supports(store, _))
    pushed = sup
    residual
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    if (countStar) new GraftLocationsCountScan(path, store, pushed)
    else topN match {
      case Some((keys, n)) =>
        new GraftLocationsTopNScan(path, store, required, pushed, keys, n)
      case None => new GraftLocationsScan(path, store, required, pushed, limit)
    }
}

/** One pushed sort key: stored-column index, direction, null placement.
  * Null ordering is absolute (Catalyst resolves NULLS FIRST/LAST before
  * handing the order over), so it applies BEFORE the descending flip. */
final case class SortKey(fieldIdx: Int, descending: Boolean, nullsFirst: Boolean)

/** Shared file-listing and raw-line parsing for the row scan and the
  * COUNT(*) scan — one definition, so the two paths can never diverge on
  * what counts as a file or a well-formed line. */
object GraftLines {
  /** One partition per file: sorted `store.extension` entries of `path`. */
  def listPartitions(path: String, store: GraftStore): Array[InputPartition] = {
    val dir = new java.io.File(path)
    require(dir.isDirectory, s"graft-locations path is not a directory: $path")
    val files = Option(dir.listFiles((_, n) => n.endsWith(store.extension)))
      .getOrElse(throw new java.io.IOException(s"graft-locations cannot list $path"))
    files.sortBy(_.getName)
      .map(f => GraftLocationsPartition(f.getAbsolutePath): InputPartition)
  }

  /** Split a line into raw optional fields (empty = null), failing loudly
    * with file/line context on arity mismatch. */
  def parse(store: GraftStore, line: String, file: String, idx: Int): Array[Option[String]] = {
    // getLines() is readLine-based: \n, \r\n, and lone \r terminators are
    // already stripped, so fields never carry line-ending characters
    val p = line.split(store.delimiter.toString, -1)
    require(p.length == store.schema.size,
      s"malformed ${store.name} line $file:${idx + 1}: expected ${store.schema.size} fields, " +
        s"got ${p.length} in '$line'")
    p.map(s => if (s.isEmpty) None else Some(s))
  }
}

/** Raw-fields → typed-value conversion, shared by the row reader and the
  * TopN reader (projection AND sort keys) so the paths can never diverge on
  * typing or on the malformed-line error shape. */
final class GraftRowConverter(store: GraftStore, fields: Array[String])
    extends Serializable {
  private val outIdx = fields.map(store.schema.fieldIndex)

  /** One stored field as its Catalyst-internal value (null for an empty
    * wire field) — the single definition of the wire→type mapping. */
  def fieldValue(raw: Array[Option[String]], fieldIdx: Int): Any = {
    val v = raw(fieldIdx)
    store.schema.fields(fieldIdx).dataType match {
      case DoubleType => v.map(s => s.toDouble: java.lang.Double).orNull
      case StringType => v.map(UTF8String.fromString).orNull
      case TimestampType => // ms → µs
        v.map(s => (s.toLong * 1000L): java.lang.Long).orNull
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }
  }

  def convert(raw: Array[Option[String]]): InternalRow =
    InternalRow.fromSeq(outIdx.map(fieldValue(raw, _)).toIndexedSeq)

  /** Wrap conversion failures with file/line context (shared error shape). */
  def withLineContext[A](file: String, idx: Int, line: String)(body: => A): A =
    try body
    catch {
      case e: NumberFormatException => throw new IllegalArgumentException(
        s"malformed ${store.name} line $file:${idx + 1}: ${e.getMessage} in '$line'", e)
    }

  def convertOrFail(raw: Array[Option[String]], file: String,
      idx: Int, line: String): InternalRow =
    withLineContext(file, idx, line)(convert(raw))
}

/** Parse-time evaluation of pushed filters over the raw (string) fields of a
  * line. Supported shapes are whitelisted in [[supports]]; [[keep]] then
  * mirrors Catalyst's null semantics exactly — a row survives only when every
  * pushed predicate is definitely true. */
object LineFilter {
  private def stringCol(store: GraftStore, attr: String): Boolean =
    store.schema.fields.exists(f => f.name == attr && f.dataType == StringType)

  def supports(store: GraftStore, f: Filter): Boolean = f match {
    case EqualTo(a, v: String) => stringCol(store, a) && v != null
    case Not(EqualTo(a, v: String)) => stringCol(store, a) && v != null
    case Not(EqualNullSafe(a, v: String)) => stringCol(store, a) && v != null
    case In(a, vs) => stringCol(store, a) && vs != null &&
      vs.forall(_.isInstanceOf[String])
    case IsNotNull(a) => store.schema.fieldNames.contains(a)
    case IsNull(a) => store.schema.fieldNames.contains(a)
    case _ => false
  }

  def keep(store: GraftStore, raw: Array[Option[String]], f: Filter): Boolean = {
    def field(a: String): Option[String] = raw(store.schema.fieldIndex(a))
    f match {
      case EqualTo(a, v: String) => field(a).contains(v)
      case Not(EqualTo(a, v: String)) => field(a).exists(_ != v)
      case Not(EqualNullSafe(a, v: String)) => !field(a).contains(v)
      case In(a, vs) => field(a).exists(x => vs.contains(x))
      case IsNotNull(a) => field(a).isDefined
      case IsNull(a) => field(a).isEmpty
      case other => throw new IllegalStateException(s"unpushable filter $other")
    }
  }
}

class GraftLocationsScan(path: String, store: GraftStore,
    required: StructType, pushed: Array[Filter], limit: Int)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-locations $path [${required.fieldNames.mkString(",")}]" +
      (if (pushed.isEmpty) "" else s" PushedFilters: [${pushed.mkString(", ")}]") +
      (if (limit < 0) "" else s" PushedLimit: $limit")

  /** One partition per file — executors read files independently, the
    * driver only lists names (the same split model as a file-store or
    * log-segment connector; at 100 TB the listing itself would page). */
  override def planInputPartitions(): Array[InputPartition] =
    GraftLines.listPartitions(path, store)

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLocationsReaderFactory(store, required.fieldNames, pushed, limit)
}

case class GraftLocationsPartition(file: String) extends InputPartition

class GraftLocationsReaderFactory(store: GraftStore, fields: Array[String],
    pushed: Array[Filter], limit: Int) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftLocationsReader(
      partition.asInstanceOf[GraftLocationsPartition].file, store, fields,
      pushed, limit)
}

/** Line-at-a-time reader: parses raw fields, applies the PUSHED filters
  * before any type conversion or row materialization (rows skipped here are
  * never allocated), then converts and projects ONLY the pruned columns.
  * Empty fields read as null; a malformed line fails loudly with file/line
  * context. */
class GraftLocationsReader(file: String, store: GraftStore,
    fields: Array[String], pushed: Array[Filter], limit: Int = -1)
    extends PartitionReader[InternalRow] {
  private var emitted = 0
  private val src = scala.io.Source.fromFile(file, "UTF-8")
  private val lines = src.getLines().zipWithIndex
    .filter { case (l, _) => l.nonEmpty }
  private val converter = new GraftRowConverter(store, fields)
  private var current: InternalRow = _

  override def next(): Boolean = {
    // pushed limit: stop BEFORE touching further lines — later lines are
    // never read, parsed, or validated (the early-stop the pushdown buys)
    if (limit >= 0 && emitted >= limit) return false
    while (lines.hasNext) {
      val (line, idx) = lines.next()
      val raw = GraftLines.parse(store, line, file, idx)
      if (pushed.forall(LineFilter.keep(store, raw, _))) {
        current = converter.convertOrFail(raw, file, idx, line)
        emitted += 1
        return true
      }
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = src.close()
}

/** TopN scan: the row scan's split model with a bounded per-file heap. */
class GraftLocationsTopNScan(path: String, store: GraftStore,
    required: StructType, pushed: Array[Filter], keys: Array[SortKey], n: Int)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String = {
    val order = keys.map(k => store.schema.fields(k.fieldIdx).name +
      (if (k.descending) " DESC" else " ASC") +
      (if (k.nullsFirst) " NULLS FIRST" else " NULLS LAST")).mkString(", ")
    s"graft-locations $path [${required.fieldNames.mkString(",")}]" +
      (if (pushed.isEmpty) "" else s" PushedFilters: [${pushed.mkString(", ")}]") +
      s" PushedTopN: ORDER BY [$order] LIMIT $n"
  }

  override def planInputPartitions(): Array[InputPartition] =
    GraftLines.listPartitions(path, store)

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLocationsTopNReaderFactory(store, required.fieldNames, pushed, keys, n)
}

class GraftLocationsTopNReaderFactory(store: GraftStore, fields: Array[String],
    pushed: Array[Filter], keys: Array[SortKey], n: Int)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftLocationsTopNReader(
      partition.asInstanceOf[GraftLocationsPartition].file, store, fields,
      pushed, keys, n)
}

/** Per-file bounded-heap TopN: drains the file once (pushed filters applied
  * at parse time, exactly like the row reader), keeping only the `n` best
  * rows under the pushed order — memory is O(n), never O(file). Sort-key
  * comparison mirrors Catalyst on the stored types: doubles via
  * `Double.compare` (NaN greatest), strings via UTF8String's binary order,
  * timestamps as µs longs; null placement follows the pushed NULLS
  * FIRST/LAST, applied before the DESC flip. Emits its survivors in pushed
  * order — Spark's global TopN above (partial pushdown) merges the per-file
  * candidates. */
class GraftLocationsTopNReader(file: String, store: GraftStore,
    fields: Array[String], pushed: Array[Filter], keys: Array[SortKey], n: Int)
    extends PartitionReader[InternalRow] {
  private val converter = new GraftRowConverter(store, fields)

  // sort keys go through the converter's single wire→type mapping, so key
  // comparison can never disagree with the projected values
  private def keyValues(raw: Array[Option[String]]): Array[Any] =
    keys.map(k => converter.fieldValue(raw, k.fieldIdx))

  private val ordering = new java.util.Comparator[(Array[Any], Array[Option[String]], String, Int)] {
    override def compare(a: (Array[Any], Array[Option[String]], String, Int),
        b: (Array[Any], Array[Option[String]], String, Int)): Int = {
      var i = 0
      while (i < keys.length) {
        val k = keys(i)
        val (av, bv) = (a._1(i), b._1(i))
        val c =
          if (av == null && bv == null) 0
          else if (av == null) { if (k.nullsFirst) -1 else 1 }
          else if (bv == null) { if (k.nullsFirst) 1 else -1 }
          else {
            val base = (av, bv) match {
              case (x: Double, y: Double) => java.lang.Double.compare(x, y)
              case (x: UTF8String, y: UTF8String) => x.compareTo(y)
              case (x: Long, y: Long) => java.lang.Long.compare(x, y)
              case other => throw new IllegalStateException(s"unreachable: $other")
            }
            if (k.descending) -base else base
          }
        if (c != 0) return c
        i += 1
      }
      0
    }
  }

  // max-heap on the pushed order: the root is the WORST survivor, evicted
  // whenever a better row arrives once the heap holds n
  private lazy val survivors: Iterator[InternalRow] = {
    val heap = new java.util.PriorityQueue[(Array[Any], Array[Option[String]], String, Int)](
      n + 1, ordering.reversed())
    val src = scala.io.Source.fromFile(file, "UTF-8")
    try {
      src.getLines().zipWithIndex.foreach { case (line, idx) =>
        if (line.nonEmpty) {
          val raw = GraftLines.parse(store, line, file, idx)
          if (pushed.forall(LineFilter.keep(store, raw, _))) {
            heap.offer((converter.withLineContext(file, idx, line)(keyValues(raw)),
              raw, line, idx))
            if (heap.size > n) heap.poll()
          }
        }
      }
    } finally src.close()
    val out = new Array[(Array[Any], Array[Option[String]], String, Int)](heap.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = heap.poll(); i -= 1 } // drain worst-first → ascending
    // Full conversion happens only for the n SURVIVORS (sort keys were
    // validated for every row by keyValues above): a malformed value in a
    // projected non-key field of an EVICTED row is therefore never
    // surfaced, whereas the plain row scan would fail on that line. This
    // divergence is deliberate and mirrors limit pushdown, which never
    // parses lines past the cutoff at all: pushdown contracts bound how
    // much of the store a scan must OBSERVE, and error surfacing follows
    // observation. Uniform corrupt-store detection belongs to the unpushed
    // full scan, not the bounded one.
    out.iterator.map { case (_, raw, line, idx) =>
      converter.convertOrFail(raw, file, idx, line)
    }
  }

  private var current: InternalRow = _
  override def next(): Boolean =
    if (survivors.hasNext) { current = survivors.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** COUNT(*) scan: same one-partition-per-file split, but each reader emits
  * a single (count) row — raw lines are parsed only far enough to evaluate
  * pushed filters; no type conversion, no per-row InternalRow allocation. */
class GraftLocationsCountScan(path: String, store: GraftStore,
    pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = new StructType().add("count", LongType)
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-locations $path PushedAggregation: count(*)" +
      (if (pushed.isEmpty) "" else s" PushedFilters: [${pushed.mkString(", ")}]")

  override def planInputPartitions(): Array[InputPartition] =
    GraftLines.listPartitions(path, store)

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLocationsCountReaderFactory(store, pushed)
}

class GraftLocationsCountReaderFactory(store: GraftStore, pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftLocationsCountReader(
      partition.asInstanceOf[GraftLocationsPartition].file, store, pushed)
}

class GraftLocationsCountReader(file: String, store: GraftStore,
    pushed: Array[Filter]) extends PartitionReader[InternalRow] {
  private val src = scala.io.Source.fromFile(file, "UTF-8")
  private var emitted = false
  private var count = 0L

  override def next(): Boolean = {
    if (emitted) return false
    src.getLines().zipWithIndex.foreach { case (line, idx) =>
      if (line.nonEmpty) {
        if (pushed.isEmpty) count += 1 // no parse needed at all
        else {
          val raw = GraftLines.parse(store, line, file, idx)
          if (pushed.forall(LineFilter.keep(store, raw, _))) count += 1
        }
      }
    }
    emitted = true
    true
  }

  override def get(): InternalRow = InternalRow(count)
  override def close(): Unit = src.close()
}

// ---------------------------------------------------------------------------
// Write path (append) — two-phase commit:
//   task  : renders rows to <path>/_tmp-<queryId>/part-<split>-<task><ext>
//   commit: driver renames every committed temp file into <path> and drops
//           the temp dir; abort deletes the temp dir wholesale.
// Speculative or retried tasks write distinct temp files and only the
// committed task's message reaches BatchWrite.commit (Spark's output commit
// coordinator), so the visible directory gains files atomically per query.
// ---------------------------------------------------------------------------

class GraftLocationsWriteBuilder(path: String, store: GraftStore,
    info: LogicalWriteInfo) extends WriteBuilder {
  override def build(): Write = {
    val got = info.schema()
    require(got.fields.map(f => (f.name, f.dataType)).sameElements(
      store.schema.fields.map(f => (f.name, f.dataType))),
      s"graft-locations append to '${store.name}' requires schema " +
        s"${store.schema.simpleString}, got ${got.simpleString}")
    new Write {
      override def toBatch: BatchWrite =
        new GraftLocationsBatchWrite(path, store, info.queryId())
      override def description(): String = s"graft-locations $path append"
    }
  }
}

class GraftLocationsBatchWrite(path: String, store: GraftStore, queryId: String)
    extends BatchWrite {
  private def tempDir = new java.io.File(path, s"_tmp-$queryId")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val dir = new java.io.File(path)
    require(dir.isDirectory || dir.mkdirs(),
      s"graft-locations cannot create sink directory $path")
    require(tempDir.isDirectory || tempDir.mkdirs(),
      s"graft-locations cannot create temp directory $tempDir")
    new GraftLocationsWriterFactory(tempDir.getAbsolutePath, store, queryId)
  }

  // NOTE: this driver-side rename commit assumes driver and executors share
  // one filesystem (true in local mode, where this connector runs); a
  // cluster deployment would need an HDFS-style OutputCommitter whose
  // task-attempt files live on storage the driver can see — the same caveat
  // the read side carries for its local-path listing.
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    messages.foreach { case GraftLocationsCommit(tmp, fileName) =>
      val from = java.nio.file.Paths.get(tmp)
      val to = java.nio.file.Paths.get(path, fileName)
      java.nio.file.Files.move(from, to,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    abort(Array.empty) // drop the (now empty) temp dir
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val d = tempDir
    Option(d.listFiles()).foreach(_.foreach(_.delete()))
    d.delete(): Unit
  }
}

case class GraftLocationsCommit(tempFile: String, fileName: String)
  extends WriterCommitMessage

class GraftLocationsWriterFactory(tempDir: String, store: GraftStore,
    queryId: String) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftLocationsWriter(tempDir, store, partitionId, taskId, queryId)
}

/** Renders rows back to the wire format the reader parses: one line per row,
  * empty field = null, epoch millis for timestamps, shortest-round-trip
  * doubles (Double.toString ↔ String.toDouble is exact). Strings containing
  * the delimiter or a line break are rejected loudly — silently writing them
  * would corrupt the store for every future reader. */
class GraftLocationsWriter(tempDir: String, store: GraftStore,
    partitionId: Int, taskId: Long, queryId: String) extends DataWriter[InternalRow] {
  // the query id (a UUID) makes names unique ACROSS applications: Spark task
  // ids restart at 0 per SparkContext, so part-<pid>-<tid> alone collides on
  // the second run of an append job and commit's ATOMIC_MOVE would silently
  // replace the first run's files — append must ADD, never overwrite
  private val fileName = f"part-$partitionId%05d-$taskId-$queryId${store.extension}"
  private val tempFile = new java.io.File(tempDir, fileName)
  private val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
    new java.io.FileOutputStream(tempFile), java.nio.charset.StandardCharsets.UTF_8))

  private def render(row: InternalRow, i: Int): String =
    if (row.isNullAt(i)) ""
    else store.schema.fields(i).dataType match {
      case DoubleType => row.getDouble(i).toString
      case TimestampType =>
        // the wire format is epoch MILLIS; a sub-ms timestamp cannot round-
        // trip, and silently truncating would corrupt data the same way an
        // embedded delimiter would — reject loudly like the string path
        val micros = row.getLong(i)
        require(micros % 1000L == 0,
          s"graft-locations ${store.name}.${store.schema.fields(i).name} " +
            s"timestamp has sub-millisecond precision ($micros µs) and cannot " +
            "round-trip through the ms wire format")
        (micros / 1000L).toString
      case StringType =>
        val s = row.getUTF8String(i).toString
        require(s.indexOf(store.delimiter) < 0 && s.indexOf('\n') < 0 &&
          s.indexOf('\r') < 0,
          s"graft-locations ${store.name}.${store.schema.fields(i).name} value " +
            s"contains the field delimiter or a line break: '$s'")
        s
      case other => throw new IllegalArgumentException(s"unsupported type $other")
    }

  override def write(row: InternalRow): Unit = {
    out.write((0 until store.schema.size).map(render(row, _))
      .mkString(store.delimiter.toString))
    out.write('\n')
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    GraftLocationsCommit(tempFile.getAbsolutePath, fileName)
  }

  override def abort(): Unit = {
    out.close()
    tempFile.delete(): Unit
  }

  override def close(): Unit = ()
}
