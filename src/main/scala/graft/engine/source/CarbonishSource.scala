package graft.engine.source

import graft.engine.GraftTable
import graft.engine.format._

import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{LocalScan, Scan, ScanBuilder}
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{AggregatePushDownUtils, DataSourceStrategy, InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, InsertableRelation}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.hadoop.fs.Path

import java.util
import scala.jdk.CollectionConverters._

/** `format("carbonish")` — the segment-managed table source.
  *
  * Reference semantics: CarbonSource + CarbonScanRDD + the
  * CarbonInputFormat pruning ladder (SURVEY §2.1, §3.1). Spark-first
  * design: the table resolves its *visible segment* file set from the
  * tablestatus commit log, applies segment-level min/max skip in a
  * custom FileIndex, and then delegates the actual columnar scan to
  * Spark's vectorized Parquet reader via ParquetScanBuilder — so filter
  * pushdown, nested-column pruning, row-group/page skipping and
  * whole-stage codegen are all inherited rather than re-implemented.
  */
class CarbonishSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.CreatableRelationProvider {
  override def shortName(): String = "carbonish"
  override def supportsExternalMetadata(): Boolean = true

  /** `df.write.format("carbonish").save(path)` on a FRESH path routes
    * through the V1 CreatableRelationProvider hook (the DSv2 path needs
    * an inferable schema, which a fresh table doesn't have): create the
    * table from the frame's schema — `.option("sort_columns", "a,b")`
    * declares the sort — then insert per SaveMode. */
  override def createRelation(
      sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode,
      parameters: Map[String, String],
      data: DataFrame): org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = data.sparkSession
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException("carbonish: 'path' option required"))
    val layout = new TableLayout(path, spark.sessionState.newHadoopConf())
    val exists = layout.exists
    if (exists && mode == SaveMode.ErrorIfExists)
      throw new IllegalStateException(s"carbonish table already exists at $path")
    if (!(exists && mode == SaveMode.Ignore)) {
      val t =
        if (exists) GraftTable.at(spark, path)
        else {
          val sortCols = parameters.get("sort_columns").toSeq
            .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
          GraftTable.create(spark, path, data.schema, sortCols)
        }
      t.insert(data, overwrite = mode == SaveMode.Overwrite)
    }
    val outerCtx = sqlContext
    new org.apache.spark.sql.sources.BaseRelation {
      override def sqlContext: SQLContext = outerCtx
      override def schema: StructType = data.schema
    }
  }

  private def tablePath(options: CaseInsensitiveStringMap): String = {
    val p = Option(options.get("path")).getOrElse {
      val paths = Option(options.get("paths")).getOrElse(
        throw new IllegalArgumentException("carbonish: 'path' option required"))
      paths
    }
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val spark = SparkSession.active
    val layout = new TableLayout(tablePath(options), spark.sessionState.newHadoopConf())
    DataType.fromJson(layout.readTableMeta().schemaJson).asInstanceOf[StructType]
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new CarbonishTable(tablePath(new CaseInsensitiveStringMap(properties)), schema)
}

class CarbonishTable(path: String, tableSchema: StructType,
    /** TIME TRAVEL (r17): Some(v) pins every scan to the commit-log
      * reconstruction of version v (GraftCatalog.loadTable's `VERSION
      * AS OF` / `TIMESTAMP AS OF` hand-off). Writes are unaffected —
      * Spark never routes DML through a time-travel relation. */
    asOfVersion: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  def tablePath: String = path
  override def name(): String =
    s"carbonish.`$path`" + asOfVersion.map(v => s" VERSION AS OF $v").getOrElse("")
  override def schema(): StructType = tableSchema
  // append/truncate/filter-overwrite run through the V1 write (the
  // planner dispatches per Write instance); BATCH_WRITE+OVERWRITE_DYNAMIC
  // exist for the one plan that hard-requires a real BatchWrite —
  // INSERT OVERWRITE in dynamic partition mode (DynamicOverwriteWrite)
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER, TableCapability.OVERWRITE_DYNAMIC).asJava

  private def graftTable: graft.engine.GraftTable =
    graft.engine.GraftTable.at(SparkSession.active, path)

  /** Surface the table's own metadata to catalog commands — SHOW CREATE
    * TABLE renders `USING carbonish` from `provider` plus the sort spec
    * and user properties; DESCRIBE EXTENDED lists the same. */
  override def properties(): util.Map[String, String] = {
    val layout = new TableLayout(path, SparkSession.active.sessionState.newHadoopConf())
    val m = layout.readTableMeta()
    val sortProps =
      (if (m.sortColumns.nonEmpty) Map("sort_columns" -> m.sortColumns.mkString(","))
       else Map.empty[String, String]) ++
        (if (m.sortScope != "GLOBAL_SORT") Map("sort_scope" -> m.sortScope)
         else Map.empty[String, String])
    (Map("provider" -> "carbonish") ++ sortProps ++ m.properties).asJava
  }

  /** Declared partitioning from the table's own metadata: hive-style
    * identity transforms, plus the bucket transform when the table is
    * hash-bucketed. */
  override def partitioning(): Array[Transform] = {
    val layout = new TableLayout(path, SparkSession.active.sessionState.newHadoopConf())
    val m = layout.readTableMeta()
    val ids = m.partitionColumns
      .map(org.apache.spark.sql.connector.expressions.Expressions.identity)
    val bucket = Buckets.specOf(m).map(bs =>
      org.apache.spark.sql.connector.expressions.Expressions.bucket(bs.count, bs.columns: _*))
    (ids ++ bucket).toArray
  }

  // ---------------------------------------------- partition management
  // (SHOW PARTITIONS / ALTER TABLE ADD|DROP PARTITION via Spark's v2
  // commands; mechanics in graft.engine.PartitionOps)

  override def partitionSchema(): StructType = {
    val t = graftTable
    graft.engine.PartitionOps.partitionSchema(t.meta, t.schema)
  }

  override def createPartition(ident: InternalRow, properties: util.Map[String, String]): Unit = {
    require(properties == null || properties.isEmpty,
      "carbonish partitions carry no per-partition properties")
    val t = graftTable
    graft.engine.PartitionOps.createPartition(t,
      graft.engine.PartitionOps.partitionSchema(t.meta, t.schema), ident)
  }

  override def dropPartition(ident: InternalRow): Boolean = {
    val t = graftTable
    graft.engine.PartitionOps.dropPartition(t,
      graft.engine.PartitionOps.partitionSchema(t.meta, t.schema), ident)
  }

  override def purgePartition(ident: InternalRow): Boolean = dropPartition(ident)

  override def replacePartitionMetadata(ident: InternalRow, properties: util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("carbonish partitions carry no per-partition properties")

  override def loadPartitionMetadata(ident: InternalRow): util.Map[String, String] = {
    if (!partitionExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchPartitionException(
        path, ident, partitionSchema())
    new util.HashMap[String, String]()
  }

  override def listPartitionIdentifiers(names: Array[String], ident: InternalRow): Array[InternalRow] = {
    val t = graftTable
    graft.engine.PartitionOps.listPartitions(t,
      graft.engine.PartitionOps.partitionSchema(t.meta, t.schema), names, ident)
  }

  /** `DELETE FROM <catalog table> WHERE <cond>` through Spark's own
    * DeleteFromTable plan (the analyzer translates the condition to
    * source filters and calls back here). Routed to the copy-on-write
    * mutation path — only segments containing matching rows are
    * rewritten; at 100 TB a point delete touches ~1 segment. */
  override def deleteWhere(filters: Array[Filter]): Unit = {
    val spark = SparkSession.active
    val cond = filters.map(filterToColumn).reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    GraftTable.at(spark, path).delete(cond)
  }

  override def truncateTable(): Boolean = {
    GraftTable.at(SparkSession.active, path).truncate()
    true
  }

  private def filterToColumn(f: Filter): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit => l}
    import org.apache.spark.sql.sources._
    f match {
      case EqualTo(a, v) => col(a) === l(v)
      case EqualNullSafe(a, v) => col(a) <=> l(v)
      case GreaterThan(a, v) => col(a) > l(v)
      case GreaterThanOrEqual(a, v) => col(a) >= l(v)
      case LessThan(a, v) => col(a) < l(v)
      case LessThanOrEqual(a, v) => col(a) <= l(v)
      case In(a, vs) => col(a).isin(vs.toIndexedSeq: _*)
      case IsNull(a) => col(a).isNull
      case IsNotNull(a) => col(a).isNotNull
      case And(x, y) => filterToColumn(x) && filterToColumn(y)
      case Or(x, y) => filterToColumn(x) || filterToColumn(y)
      case Not(x) => !filterToColumn(x)
      case StringStartsWith(a, v) => col(a).startsWith(v)
      case StringEndsWith(a, v) => col(a).endsWith(v)
      case StringContains(a, v) => col(a).contains(v)
      case AlwaysTrue() => l(true)
      case AlwaysFalse() => l(false)
      case other => throw new UnsupportedOperationException(
        s"DELETE condition not translatable: $other")
    }
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val spark = SparkSession.active
    val layout = new TableLayout(path, spark.sessionState.newHadoopConf())
    val status = asOfVersion.map(layout.statusAt).getOrElse(layout.readStatus())
    // `insegment('0,2')`-style pinned reads (reference CarbonEnv.scala:100)
    val pinned = Option(options.get("segments")).map(_.split(",").map(_.trim.toLong).toSet)
    // A pinned read (insegment / readSegments / readFiles / SI) names
    // explicit segment ids: resolve them against the full commit log,
    // not just the currently-visible set. A compaction that commits
    // between the caller's resolve and this plan RETIRES those ids but
    // keeps their files until CLEAN FILES — retention exists for
    // exactly this snapshot stability — so the pinned read stays
    // consistent (the retired segments' own delete deltas still apply)
    // instead of silently dropping rows. Uncommitted (IN_PROGRESS) and
    // user-deleted (MARKED_FOR_DELETE) segments stay excluded: the
    // former is not yet data, the latter's content was explicitly
    // removed and must not resurface through a pin.
    val segVisible = pinned match {
      case None => status.visible
      case Some(ids) => status.segments.filter(s => ids.contains(s.id) &&
        (s.isVisible || s.status == SegmentStatus.Compacted))
    }
    // position-grain reads (the SI pushdown target — reference
    // BroadCastSIFilterPushJoin ships matched block positions into the
    // main scan the same way): "files" restricts the scan to the named
    // "segId:relativePath" entries; a segment left with no named files
    // drops out entirely
    val filePin = Option(options.get("files"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val visible = filePin match {
      case None => segVisible
      case Some(fp) =>
        segVisible.map(s => s.copy(files = s.files.filter(f => fp.contains(s"${s.id}:$f"))))
          .filter(_.files.nonEmpty)
    }
    // mixed-format tables (ADD SEGMENT csv/json/orc, reference
    // MixedFormatHandler.scala:56,155): one sub-scan per format, their
    // partitions concatenated — SELECT … FROM graft.ns.t serves the union
    val foreign = visible.filter(_.format != "parquet")
    if (foreign.nonEmpty)
      return new MixedScanBuilder(spark, layout, visible, tableSchema, options)
    // metadata count(*) is only sound when every visible segment carries
    // an exact row count (external ADD SEGMENT files may not), and never
    // on a file-pinned read (segment rowCount covers ALL its files)
    val totalRows =
      if (filePin.isEmpty && visible.forall(_.rowCount >= 0))
        Some(visible.map(_.rowCount).sum)
      else None
    new CarbonishScanBuilder(spark, layout, visible, tableSchema, options, totalRows)
  }

  /** Append / truncate-overwrite / filter-overwrite (the v2 plan for
    * `INSERT OVERWRITE … PARTITION (p=v)` static mode) — all routed to
    * the segment commit protocol. Filter overwrites are atomic
    * retire-and-append swaps via
    * [[graft.engine.Mutation.insertOverwriteWhere]]. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      private var mode: String = "append"
      private var overwriteFilters: Array[Filter] = Array.empty
      override def truncate(): WriteBuilder = { mode = "truncate"; this }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        import org.apache.spark.sql.sources.AlwaysTrue
        if (filters.forall(_.isInstanceOf[AlwaysTrue])) mode = "truncate"
        else { mode = "filter"; overwriteFilters = filters }
        this
      }
      override def overwriteDynamicPartitions(): WriteBuilder = { mode = "dynamic"; this }
      override def build(): Write =
        if (mode == "dynamic") {
          // hive semantics: with no (hive) partition columns, dynamic
          // overwrite degenerates to a whole-table overwrite — notably
          // for bucket-only tables, whose bucket transform makes Spark
          // plan OverwritePartitionsDynamic (and whose layout the V1
          // segment writer preserves, unlike the BatchWrite path)
          val layout = new TableLayout(path, SparkSession.active.sessionState.newHadoopConf())
          if (layout.exists && layout.readTableMeta().partitionColumns.isEmpty) {
            mode = "truncate"; buildV1
          } else new DynamicOverwriteWrite(path, info)
        }
        else buildV1
      private def buildV1: Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ignored: Boolean): Unit = {
              val spark = data.sparkSession
              val layout = new TableLayout(path, spark.sessionState.newHadoopConf())
              // `df.write.format("carbonish").save(path)` on a fresh path
              // creates the table, like any Spark file source; declare
              // sort columns via .option("sort_columns", "a,b")
              val t =
                if (layout.exists) GraftTable.at(spark, path)
                else {
                  def optList(key: String): Seq[String] =
                    Option(info.options().get(key)).toSeq
                      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
                  GraftTable.create(spark, path, data.schema, optList("sort_columns"),
                    partitionColumns = optList("partition_columns"))
                }
              mode match {
                case "append" => t.insert(data, overwrite = false)
                case "truncate" => t.insert(data, overwrite = true)
                case "filter" =>
                  val cond = overwriteFilters.map(filterToColumn).reduceOption(_ && _)
                    .getOrElse(org.apache.spark.sql.functions.lit(true))
                  t.insertOverwriteWhere(cond, data)
              }
            }
          }
      }
    }
}

/** FileIndex over the visible segments' parquet files with segment-level
  * min/max pruning — rung 1 of the ladder (rungs 2–3, row-group stats and
  * page/bloom skip, happen inside the delegated parquet reader). */
class SegmentFileIndex(
    spark: SparkSession,
    layout: TableLayout,
    visible: Seq[SegmentMeta],
    schema: StructType,
    runtimeFilters: Seq[Filter] = Nil)
  extends InMemoryFileIndex(
    spark,
    // ZERO plan-time filesystem IO (r15, VERDICT r14 Next #2): the
    // commit log already records every managed file's exact byte length
    // (fileMeta, lifted from the parquet footer at write time), so the
    // listing is synthesized from METADATA below — the super class gets
    // no roots to stat. The previous form passed every file path as a
    // root, and InMemoryFileIndex's eager listing stat'ed each one:
    // ~0.45 ms/file made planning over a 100k-segment table take 45 s
    // before a single byte of data was read (the reference grew its
    // Index Server for exactly this driver-side wall; here the
    // tablestatus IS the index). Files without fileMeta (streaming
    // batches, external ADD SEGMENT, legacy) fall back to one
    // getFileStatus each — bounded by THOSE segments' file counts.
    Nil,
    Map.empty[String, String],
    Some(schema)) {

  /** FileStatus for one (segment, rel, absolute path) — metadata-built
    * when the footer byte length is recorded, stat fallback otherwise.
    * mtime = segment createdAt (stable across planner runs). */
  private def statusOf(s: SegmentMeta, rel: String, abs: String)
      : org.apache.hadoop.fs.FileStatus =
    s.fileMeta.get(rel) match {
      case Some(fm) =>
        new org.apache.hadoop.fs.FileStatus(
          fm.bytes, false, 1, 128L * 1024 * 1024, s.createdAt,
          layout.fs.makeQualified(new Path(abs)))
      case None => layout.fs.getFileStatus(new Path(abs))
    }

  private lazy val bucketSpec: Option[Buckets.BucketSpec] =
    try Buckets.specOf(layout.readTableMeta())
    catch { case scala.util.control.NonFatal(_) => None }

  /** Bucket ids that can satisfy the conjunction of `filters`, when the
    * bucket columns are pinned by equality — a point lookup on a
    * bucketed 100 TB table reads exactly one bucket's files. None =
    * not derivable (keep all). */
  private def allowedBuckets(filters: Seq[Filter]): Option[Set[Int]] = {
    import org.apache.spark.sql.sources._
    bucketSpec.flatMap { bs =>
      val dts = bs.columns.flatMap(c => schema.fields.find(_.name == c).map(c -> _.dataType)).toMap
      if (dts.size != bs.columns.size) None
      else if (bs.columns.size == 1) {
        val c = bs.columns.head
        val dt = dts(c)
        def id(v: Any): Int = Buckets.bucketIdExternal(bs.count, Seq((v, dt)))
        val sets = filters.flatMap {
          case EqualTo(a, v) if a == c && v != null => Some(Set(id(v)))
          case EqualNullSafe(a, v) if a == c => Some(Set(id(v)))
          case In(a, vs) if a == c && vs.nonEmpty && !vs.contains(null) =>
            Some(vs.map(id).toSet)
          case IsNull(a) if a == c => Some(Set(id(null)))
          case _ => None
        }
        sets.reduceOption(_ intersect _)
      } else {
        // multi-column buckets need every column pinned by equality
        val pinned = bs.columns.map(c => filters.collectFirst {
          case EqualTo(a, v) if a == c && v != null => (v, dts(c))
          case EqualNullSafe(a, v) if a == c => (v, dts(c))
        })
        if (pinned.exists(_.isEmpty)) None
        else Some(Set(Buckets.bucketIdExternal(bs.count, pinned.map(_.get))))
      }
    }
  }

  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[PartitionDirectory] = {
    // runtimeFilters: DPP-derived key sets handed to this index at
    // execution time (SupportsRuntimeFiltering) — merged here so they
    // prune at FILE grain through the same ladder as pushed filters
    val filters: Seq[Filter] =
      dataFilters.flatMap(e => org.apache.spark.sql.graft.Shims.translateFilter(e)) ++
        runtimeFilters
    // segment rung FIRST, then materialize statuses only for survivors:
    // the per-file work (file-grain pseudo metas, bucket tags, stat
    // fallbacks) is O(kept files), never O(table) — a point query on a
    // 100k-segment table pays one metadata pass plus its own files
    val keptSegs =
      if (filters.isEmpty || visible.isEmpty) visible
      else SegmentPruner.prune(visible, filters)
    val buckets = if (filters.isEmpty) None else allowedBuckets(filters)
    var fileSkipped = 0
    val files = keptSegs.flatMap { s =>
      s.files.zip(layout.segmentFilePaths(s)).collect {
        case (rel, abs) if {
          // file rung: segment stats ∩ footer file stats ∩ path-encoded
          // partition tuple, then the hash-bucket tag
          val fileOk =
            if (filters.isEmpty) true
            else if (s.fileMeta.contains(rel) || rel.contains("=")) {
              val pm = Partitions.fileAsSegment(s, rel, schema)
              filters.forall(SegmentPruner.mayMatch(pm, _))
            } else true
          val keep = fileOk &&
            buckets.forall(ok => Buckets.tagOf(rel).forall(ok.contains))
          if (!keep) fileSkipped += 1
          keep
        } => statusOf(s, rel, abs)
      }
    }
    if (filters.nonEmpty && visible.nonEmpty) {
      logInfo(s"[graft] min/max skip: kept ${keptSegs.size}/${visible.size} segments, " +
        s"skipped $fileSkipped more files (partition/footer/bucket grain) for " +
        s"filters ${filters.mkString("[", ", ", "]")}")
      graft.engine.ExplainCollector.record(
        s"min/max skip: kept ${keptSegs.size}/${visible.size} segments, " +
          s"skipped $fileSkipped more files (partition/footer/bucket grain)")
    }
    if (files.isEmpty) Nil
    else Seq(PartitionDirectory(
      org.apache.spark.sql.catalyst.InternalRow.empty, files.toArray))
  }

  /** Full metadata-built listing (agg-pushdown schema checks and stats
    * estimation paths) — CPU-only, no filesystem calls for managed files. */
  override def allFiles(): Seq[org.apache.hadoop.fs.FileStatus] =
    visible.flatMap { s =>
      s.files.zip(layout.segmentFilePaths(s)).map { case (rel, abs) =>
        statusOf(s, rel, abs)
      }
    }

  override def inputFiles: Array[String] =
    visible.flatMap(layout.segmentFilePaths).toArray

  override def sizeInBytes: Long = visible.map(_.sizeBytes).sum

  override def refresh(): Unit = ()

  // Identity (r19): InMemoryFileIndex.equals/hashCode compare the
  // rootPaths SETS — and this index passes NO roots, so every
  // SegmentFileIndex compared EQUAL regardless of which segments it
  // serves. Downstream, HadoopFsRelation is a case class over the
  // location, so two scans over DIFFERENT segment subsets of the same
  // table canonicalized equal and AQE's exchange reuse silently served
  // one subset's rows for both (readChanges' two exceptAll legs came
  // back identical → empty diff). Identity here = table + the exact
  // served-rows fingerprint per segment + runtime filters; two indexes
  // over the SAME subset still compare equal, so legitimate stage
  // reuse (the same as-of read appearing twice in one plan) keeps
  // working.
  // The fingerprint is folded ONCE into a 128-bit digest at index
  // construction: equality probes run on every plan-canonicalization
  // check, and in a 20-client serving mix every client scans the SAME
  // snapshot — equal indexes are the COMMON case, so a structural
  // compare would walk O(files) on every probe. (tablePath, digest)
  // comparison is O(1); [[graft.engine.format.Fp128]] (r20, advisor
  // r19: MessageDigest MD5 throws on FIPS-hardened JVMs, failing every
  // scan for a non-cryptographic token) keeps an accidental collision
  // between two DIFFERENT subsets of one table a non-concern at 2^-64
  // scale.
  private val servedFingerprintDigest: (String, (Long, Long)) = {
    val h = new graft.engine.format.Fp128
    visible.foreach { s =>
      h.add(s.id.toString)
      s.files.foreach(h.add)
      s.deltas.toSeq.sortBy(_._1).foreach { case (k, vs) => h.add(k); vs.foreach(h.add) }
      s.externalPath.foreach(h.add)
      h.add(s.format)
      h.mark(1)
    }
    runtimeFilters.foreach(f => h.add(f.toString))
    (layout.tablePath, h.result)
  }

  // KNOWN ASYMMETRY (r20, advisor r19 — documented constraint): the
  // equals below is one-directional. A PLAIN InMemoryFileIndex
  // compares rootPaths SETS, and this index passes Nil roots (the
  // zero-plan-time-IO design above) — so while
  // SegmentFileIndex.equals(vanilla) is always false, a vanilla index
  // that itself carried ZERO rootPaths would compare equal to every
  // SegmentFileIndex in the reverse direction. Direction-proofing was
  // evaluated and rejected: rootPaths is a concrete `val` in
  // InMemoryFileIndex (not overridable with a guarded def/lazy val in
  // Scala), a real override val is read by the superclass constructor
  // before subclass init (NPE), and passing a synthetic marker root to
  // the super constructor re-triggers the eager listing this class
  // exists to avoid (FileNotFoundException on a fake root,
  // or a recursive _meta/log walk on a real one). The exposure is
  // theoretical: Spark never constructs an InMemoryFileIndex over an
  // EMPTY path list (DataSource errors on zero paths before reaching
  // the index), so a no-root vanilla index cannot appear in a plan to
  // alias against. If one ever does, its relation serves zero files
  // and the aliasing direction is vanilla→ours only.
  override def equals(other: Any): Boolean = other match {
    case o: SegmentFileIndex => servedFingerprintDigest == o.servedFingerprintDigest
    case _ => false
  }

  override def hashCode(): Int = servedFingerprintDigest.hashCode()
}

/** ParquetScanBuilder (delegated) + metadata-only count(*).
  *
  * Reference: CarbonCountStar answers `SELECT count(*)` from segment
  * metadata without touching data (CarbonCountStar.scala:44-50). Here:
  * if Spark pushes a bare CountStar aggregation and no filters are
  * pushed, we answer from the tablestatus row counts with a driver-local
  * scan — zero files opened. Everything else falls through to the
  * built-in parquet aggregate/filter pushdown (composition, because
  * ParquetScanBuilder.build() narrows its return type to ParquetScan).
  */
class CarbonishScanBuilder(
    spark: SparkSession,
    layout: TableLayout,
    visible: Seq[SegmentMeta],
    schema: StructType,
    options: CaseInsensitiveStringMap,
    totalRows: Option[Long])
  extends ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownLimit
  with org.apache.spark.sql.connector.read.SupportsPushDownTopN
  with org.apache.spark.internal.Logging {

  private val fileIndex = new SegmentFileIndex(spark, layout, visible, schema)
  private val delegate = ParquetScanBuilder(spark, fileIndex, schema, schema, options)
  /** Any visible merge-on-read delete deltas? Scans must then emit the
    * parquet row index (for the anti-filter), parquet footer aggregate
    * pushdown becomes unsound (footers count deleted rows), and
    * metadata MIN/MAX answers are disabled (stats may describe deleted
    * rows). Metadata COUNT(*) stays sound: rowCount/fileMeta are LIVE
    * counts, decremented at delta commit. */
  private val hasDeltas = visible.exists(_.deltas.nonEmpty)
  private def withRowIndex(s: StructType): StructType =
    if (s.fieldNames.contains(org.apache.spark.sql.graft.Shims.rowIndexTempName)) s
    else s.add(org.apache.spark.sql.graft.Shims.rowIndexTempField)
  private var metaAgg: Option[(Seq[Seq[Any]], StructType)] = None
  // any predicate at all (pushed or residual) disables the metadata count
  private var sawFilters = false
  private var requiredSchema: Option[StructType] = None
  private var limit: Option[Int] = None
  private var topNSegs: Option[Seq[SegmentMeta]] = None
  private lazy val builderMeta: Option[TableMeta] =
    try Some(layout.readTableMeta())
    catch { case scala.util.control.NonFatal(_) => None }
  // memo: supportCompletePushDown and pushAggregation both consult the
  // grouped-metadata result for the same Aggregation — compute once
  private var groupRowsCache: Option[(Aggregation, Option[Seq[Seq[Any]]])] = None
  private def metadataGroupRowsCached(agg: Aggregation): Option[Seq[Seq[Any]]] =
    groupRowsCache match {
      case Some((a, r)) if a eq agg => r
      case _ =>
        val r = metadataGroupRows(agg)
        groupRowsCache = Some((agg, r))
        r
    }

  override def pushFilters(
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    sawFilters ||= filters.nonEmpty
    delegate.pushFilters(filters)
  }
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters
  override def pruneColumns(requested: StructType): Unit = {
    requiredSchema = Some(requested)
    delegate.pruneColumns(if (hasDeltas) withRowIndex(requested) else requested)
  }

  /** Unordered LIMIT: scan only a prefix of segments whose committed row
    * counts already cover the limit (the reference's head-read idea,
    * CarbonTakeOrderedAndProjectExec.scala:86, for the no-sort case).
    * Returns false = partial: Spark still applies the limit exactly. */
  override def pushLimit(n: Int): Boolean = {
    if (!sawFilters && visible.nonEmpty && visible.forall(_.rowCount >= 0)) limit = Some(n)
    false
  }

  /** ORDER BY c [DESC] LIMIT k over a table with segment stats on c: keep
    * only segments that can hold top-k rows (the reference's sorted-
    * segment head read, CarbonTakeOrderedAndProjectExec.scala:35).
    * Sound selection from stats alone: order segments by their leading
    * edge (min for ASC, max for DESC), take the shortest prefix P whose
    * committed row counts cover k, bound = trailing edge over P — any
    * segment strictly beyond the bound cannot contribute to the top-k
    * (ties included; later ORDER BY columns only refine order among rows
    * already ≤ the bound on the first column). Partial push: Spark still
    * runs the exact sort+limit over what the scan returns. */
  override def pushTopN(orders: Array[org.apache.spark.sql.connector.expressions.SortOrder],
      n: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference, SortDirection}
    if (sawFilters || visible.isEmpty || orders.isEmpty) return false
    val colName = orders.head.expression() match {
      case nr: NamedReference if nr.fieldNames.length == 1 => nr.fieldNames()(0)
      case _ => return false
    }
    val dt = schema.fields.find(_.name == colName).map(_.dataType).getOrElse(return false)
    val desc = orders.head.direction() == SortDirection.DESCENDING
    // every visible segment needs exact row counts and null-free min/max
    // stats on the column (a null sorts outside the min/max range, so any
    // null makes stats-only selection unsound)
    val withStats = visible.map { s =>
      s.stats.get(colName).flatMap(cs =>
        if (cs.nullCount == 0 && s.rowCount >= 0)
          for { mn <- cs.min; mx <- cs.max } yield (s, mn, mx)
        else None)
    }
    if (withStats.exists(_.isEmpty)) return false
    val ss = withStats.flatten
    def cmp(a: String, b: String): Option[Int] = StatValue.compareStored(dt, a, b)
    def lt(a: String, b: String): Boolean = cmp(a, b).exists(_ < 0)
    if (ss.exists(s => cmp(s._2, s._3).isEmpty)) return false // incomparable stats
    val sorted =
      if (!desc) ss.sortWith((a, b) => lt(a._2, b._2))
      else ss.sortWith((a, b) => lt(b._3, a._3))
    var acc = 0L
    val prefix = sorted.takeWhile { s => val need = acc < n; acc += s._1.rowCount; need }
    if (acc < n) return false // table smaller than k: nothing to prune
    val bound =
      if (!desc) prefix.map(_._3).reduce((a, b) => if (lt(a, b)) b else a)
      else prefix.map(_._2).reduce((a, b) => if (lt(a, b)) a else b)
    val keep = sorted.filter(s =>
      if (!desc) !cmp(s._2, bound).exists(_ > 0) else !cmp(s._3, bound).exists(_ < 0))
    if (keep.size < visible.size) {
      topNSegs = Some(keep.map(_._1))
      logInfo(s"[graft] topN pushdown: ${keep.size}/${visible.size} segments " +
        s"cover ORDER BY $colName${if (desc) " DESC" else ""} LIMIT $n")
      true
    } else false
  }
  override def isPartiallyPushed(): Boolean = true

  /** Answer a grouping-free COUNT(*)/MIN/MAX-only aggregation from the
    * tablestatus segment stats — zero files opened (the reference's
    * CarbonCountStar family; min/max is the same trick over the stats
    * ladder's top rung). Returns the metadata values, or None when any
    * segment lacks exact counts / comparable null-free-or-ignorable
    * stats for a referenced column. */
  private def metadataAggValues(aggregation: Aggregation): Option[Seq[Any]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{Max => VMax, Min => VMin}
    // a file-pinned (position-grain) read must never answer from
    // segment-level stats: they describe ALL the segment's files,
    // including the excluded ones
    if (sawFilters || visible.isEmpty || options.containsKey("files")) return None
    if (aggregation.groupByExpressions.nonEmpty) return None
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames.length == 1 => Some(nr.fieldNames()(0))
        case _ => None
      }
    // SQL MIN/MAX ignore nulls, matching stats that track non-null bounds;
    // a column that is entirely null in some segment has min=None there
    // and the fold bails (conservative). A 0-row segment (an empty
    // insert) has no value to contribute and is left out; an unknown
    // row count (-1) is not
    val nonEmpty = visible.filter(_.rowCount != 0)
    def bound(name: String, wantMin: Boolean): Option[Any] = {
      val dt = schema.fields.find(_.name == name).map(_.dataType).getOrElse(return None)
      val perSeg = nonEmpty.map(_.stats.get(name).flatMap(cs =>
        if (wantMin) cs.min else cs.max))
      if (perSeg.isEmpty || perSeg.exists(_.isEmpty)) return None
      val folded = perSeg.flatten.reduceLeft[String] { (a, b) =>
        StatValue.compareStored(dt, a, b) match {
          case Some(c) => if ((c <= 0) == wantMin) a else b
          case None => return None
        }
      }
      StatValue.decode(dt, folded)
    }
    val vals = aggregation.aggregateExpressions.toSeq.map {
      case _: CountStar => totalRows
      // stats may describe rows masked by delete deltas — a metadata
      // MIN/MAX could answer with a deleted value
      case m: VMin if !hasDeltas => colOf(m.column).flatMap(bound(_, wantMin = true))
      case m: VMax if !hasDeltas => colOf(m.column).flatMap(bound(_, wantMin = false))
      case _ => None
    }
    if (vals.exists(_.isEmpty)) None else Some(vals.map(_.get))
  }

  /** GROUP BY ⊆ partition columns with COUNT(*) aggregates: one result
    * row per partition tuple, counts summed from footer row counts —
    * `SELECT dt, count(*) FROM t GROUP BY dt` on a 100 TB table opens
    * zero files (the classic metastore-count trick, done from the
    * path-encoded tuples). Sound only when every visible file carries
    * both its tuple and an exact footer count. */
  private def metadataGroupRows(aggregation: Aggregation): Option[Seq[Seq[Any]]] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    if (sawFilters || visible.isEmpty) return None
    if (aggregation.groupByExpressions.isEmpty) return None
    if (aggregation.aggregateExpressions.isEmpty ||
        !aggregation.aggregateExpressions.forall(_.isInstanceOf[CountStar])) return None
    val pCols = builderMeta.map(_.partitionColumns).getOrElse(return None)
    if (pCols.isEmpty) return None
    val groupCols = aggregation.groupByExpressions.toSeq.map {
      case nr: NamedReference if nr.fieldNames.length == 1 => nr.fieldNames()(0)
      case _ => return None
    }
    if (!groupCols.forall(pCols.contains)) return None
    val groupDts = groupCols.map(c => schema.fields.find(_.name == c).getOrElse(return None).dataType)

    // every visible file must carry a full tuple + exact footer rows
    val perFile: Seq[(Seq[Option[String]], Long)] = visible.flatMap { s =>
      if (s.format != "parquet") return None
      s.files.map { rel =>
        val byName = Partitions.tupleFromPath(rel).toMap
        val raw = groupCols.map(c => byName.get(c).getOrElse(return None))
        val rows = s.fileMeta.get(rel).map(_.rows).getOrElse(return None)
        (raw, rows)
      }
    }
    val grouped = perFile.groupBy(_._1).toSeq.map { case (raw, xs) =>
      val key = raw.zip(groupDts).map {
        case (None, _) => null
        case (Some(r), dt) => Partitions.castRaw(r, dt).getOrElse(return None)
      }
      (key, xs.map(_._2).sum)
    }
    // (groupKey values..., count) per tuple; the caller lays the row out
    // to the pushed-agg schema by field name
    Some(grouped.map { case (key, cnt) => key :+ cnt })
  }

  override def supportCompletePushDown(aggregation: Aggregation): Boolean =
    metadataAggValues(aggregation).isDefined ||
      metadataGroupRowsCached(aggregation).isDefined ||
      (!hasDeltas && delegate.supportCompletePushDown(aggregation))

  override def pushAggregation(aggregation: Aggregation): Boolean =
    metadataAggValues(aggregation) match {
      case Some(values) =>
        AggregatePushDownUtils.getSchemaForPushedAggregation(
          aggregation, schema, Set.empty[String], Seq.empty) match {
          case Some(aggSchema) =>
            graft.engine.ExplainCollector.record(
              "aggregate answered from segment metadata (zero file IO)")
            metaAgg = Some((Seq(values), aggSchema)); true
          case None => !hasDeltas && delegate.pushAggregation(aggregation)
        }
      case None => metadataGroupRowsCached(aggregation) match {
        case Some(rows) =>
          val pCols = builderMeta.map(_.partitionColumns).getOrElse(Nil)
          AggregatePushDownUtils.getSchemaForPushedAggregation(
            aggregation, schema, pCols.toSet, Seq.empty) match {
            case Some(aggSchema) =>
              // rows above are (groupKey..., count); reorder per the
              // pushed schema's field layout
              val groupCols = aggregation.groupByExpressions.toSeq.map(
                _.asInstanceOf[org.apache.spark.sql.connector.expressions.NamedReference]
                  .fieldNames()(0))
              val reordered = rows.map { r =>
                val key = groupCols.zip(r.init).toMap
                aggSchema.fields.toSeq.map { f =>
                  key.getOrElse(f.name, r.last) // non-group field = the count
                }
              }
              metaAgg = Some((reordered, aggSchema)); true
            case None => !hasDeltas && delegate.pushAggregation(aggregation)
          }
        case None => !hasDeltas && delegate.pushAggregation(aggregation)
      }
    }

  /** Scan over a reduced segment set, preserving column pruning. */
  private def segmentSubsetScan(segs: Seq[SegmentMeta]): Scan = {
    val reduced = ParquetScanBuilder(
      spark, new SegmentFileIndex(spark, layout, segs, schema),
      schema, schema, options)
    val req = requiredSchema.getOrElse(schema)
    reduced.pruneColumns(if (hasDeltas) withRowIndex(req) else req)
    reduced.build()
  }

  private def wrap(s: Scan, segs: Seq[SegmentMeta]): Scan = s match {
    case ps: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan =>
      CarbonishScan(spark, layout, segs, schema, ps, options)
    case other => other
  }

  override def build(): Scan = metaAgg match {
    case Some((values, aggSchema)) => MetadataAggScan(values, aggSchema)
    case None =>
      // a delta-bearing scan must carry the row-index column even if
      // Spark never called pruneColumns (defensive — V2 pushdown
      // normally always prunes)
      if (hasDeltas && requiredSchema.isEmpty) delegate.pruneColumns(withRowIndex(schema))
      (topNSegs, limit) match {
        case (Some(segs), _) => wrap(segmentSubsetScan(segs), segs)
        case (None, Some(n)) =>
          // minimal segment prefix covering n rows
          var acc = 0L
          val prefix = visible.sortBy(_.id).takeWhile { s =>
            val need = acc < n; acc += s.rowCount; need
          }
          if (prefix.size >= visible.size) wrap(delegate.build(), visible)
          else {
            logInfo(s"[graft] limit pushdown: scanning ${prefix.size}/${visible.size} segments for LIMIT $n")
            wrap(segmentSubsetScan(prefix), prefix)
          }
        case _ => wrap(delegate.build(), visible)
      }
  }
}

/** DSv2 scan with runtime (DPP-style) SEGMENT pruning: Spark's dynamic
  * pruning hands the build-side join keys to `filter()` at execution
  * time, the segment pruner drops provably-disjoint segments, and batch
  * planning re-lists from the reduced index — so a broadcast dim filter
  * prunes fact segments before any fact IO (the reference runs its
  * index pruning inside getSplits the same way; Spark's own v2 file
  * sources only runtime-filter hive PARTITION columns, which carbonish
  * tables don't have). Pushed static filters and column pruning are
  * preserved: the reduction swaps only the inner scan's file index. */
case class CarbonishScan(
    spark: SparkSession,
    layout: TableLayout,
    visible: Seq[SegmentMeta],
    tableSchema: StructType,
    inner: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan,
    scanOptions: CaseInsensitiveStringMap)
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportOrdering
  with org.apache.spark.internal.Logging {

  @volatile private var current: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = inner

  private lazy val tableMeta: TableMeta = layout.readTableMeta()

  // Resolve a planned file path to (segment, segment-relative path)
  // WITHOUT materializing a table-wide map: managed files live under
  // segments/<id>/<rel>, so the id parses straight out of the path and
  // the rel is the suffix — O(1) per lookup, O(#segments) setup. The
  // previous whole-table Map build was a top profile frame at 100k
  // segments (r15 MetaScaleProbe: ~1.2 s per scan). External ADD
  // SEGMENT entries (rare) keep a prefix list.
  //
  // The O(#segments) setup itself is shared (r16): an UNPINNED scan's
  // `visible` is the snapshot's own memoized Seq (identity-checked), so
  // every scan of an unchanged table reuses ONE id map instead of
  // building its own (~95 ms/100k segments per scan, MetaScaleProbe).
  // Pinned/changed-snapshot scans keep their private plan-time build.
  private lazy val segById: Map[Long, SegmentMeta] = {
    val st = layout.readStatus()
    if (visible eq st.visible) st.visibleById
    else visible.iterator.map(s => s.id -> s).toMap
  }
  private lazy val externalPrefixes: Seq[(String, SegmentMeta)] =
    visible.filter(_.externalPath.nonEmpty).map { s =>
      layout.fs.makeQualified(new Path(s.externalPath.get)).toString -> s
    }
  private lazy val segmentsRootQ: String =
    layout.fs.makeQualified(layout.segmentsDir).toString
  /** Lazily-built per-segment membership sets for segRelOf's `files`
    * check (segments without fileMeta — streaming/external/legacy). */
  private val filesSetMemo =
    new java.util.concurrent.ConcurrentHashMap[Long, Set[String]]()
  private def filesSetOf(s: SegmentMeta): Set[String] =
    filesSetMemo.computeIfAbsent(s.id, _ => s.files.toSet)

  private def segRelOf(normPath: String): Option[(SegmentMeta, String)] =
    if (normPath.startsWith(segmentsRootQ + "/")) {
      val rest = normPath.substring(segmentsRootQ.length + 1)
      val slash = rest.indexOf('/')
      if (slash <= 0) None
      else rest.substring(0, slash).toLongOption
        .flatMap(segById.get)
        .map(s => (s, rest.substring(slash + 1)))
        // the rel must be one the commit log actually lists — a stale
        // plan over a since-rewritten file must miss, like the old map.
        // fileMeta (a Map) first; the Seq fallback memoizes a per-segment
        // Set so many-file segments stay O(1) per lookup (advisor r15)
        .filter { case (s, rel) => s.fileMeta.contains(rel) || filesSetOf(s)(rel) }
    } else externalPrefixes.collectFirst {
      case (pre, s) if normPath.startsWith(pre + "/") =>
        (s, normPath.substring(pre.length + 1))
    }

  /** qualified data-file path -> absolute merge-on-read delta paths
    * (empty when the table has none — the scan then stays columnar). */
  private lazy val deltaOfFile: Map[String, Seq[String]] =
    visible.filter(_.deltas.nonEmpty).flatMap { s =>
      val dir = layout.segmentDir(s.id)
      s.deltas.map { case (rel, dRels) =>
        layout.fs.makeQualified(new Path(dir, rel)).toString ->
          dRels.map(dr => new Path(dir, dr).toString)
      }
    }.toMap

  /** Footer min/max of the leading sort column for one planned file
    * (None = stats missing → ordering can't be claimed through it).
    * Lookup goes through hadoop Path normalization: planned files print
    * SparkPath URIs ("file:///…") while the index keys are Path strings
    * ("file:/…"). */
  private def leadStats(path: String): Option[(String, String, Long)] =
    for {
      (seg, rel) <- segRelOf(new Path(path).toString)
      lead <- tableMeta.sortColumns.headOption
      fm <- seg.fileMeta.get(rel)
      cs <- fm.stats.get(lead)
      mn <- cs.min; mx <- cs.max
    } yield (mn, mx, cs.nullCount)

  /** Bucket layout this scan can expose as KeyGroupedPartitioning:
    * requires the session opt-in (`spark.sql.sources.v2.bucketing
    * .enabled`, same gate Spark's own SPJ uses) and every visible file
    * bucket-tagged — a legacy or external segment without tags makes the
    * claim unsound, so it is dropped entirely. */
  private lazy val reportableBuckets: Option[Buckets.BucketSpec] = {
    val conf = spark.sessionState.conf
    if (!conf.getConf(org.apache.spark.sql.internal.SQLConf.V2_BUCKETING_ENABLED)) None
    else Buckets.specOf(tableMeta).filter { bs =>
      // outstanding deltas force per-file partitions for the row-level
      // anti-filter, which breaks the one-partition-per-bucket contract
      // — SPJ resumes once compaction folds the deltas
      visible.nonEmpty && visible.forall(s =>
        s.format == "parquet" && s.deltas.isEmpty &&
          s.files.forall(f => Buckets.tagOf(f).exists(b => b >= 0 && b < bs.count)))
    }
  }

  // ------------------------------------------------------------ ordering

  private def leadDt: Option[DataType] =
    tableMeta.sortColumns.headOption.flatMap(c =>
      tableSchema.fields.find(_.name == c).map(_.dataType))

  /** Reorder a partition's files by leading-sort-column min (footer
    * stats) — file order inside an InputPartition is semantically free,
    * and a min-ordered chain is what makes the write-time sort visible
    * as scan output ordering. No-op when stats are missing/incomparable. */
  private def orderChain(
      files: Array[org.apache.spark.sql.execution.datasources.PartitionedFile])
      : Array[org.apache.spark.sql.execution.datasources.PartitionedFile] = {
    val dt = leadDt.getOrElse(return files)
    val stats = files.map(f => leadStats(f.filePath.toString))
    if (files.length < 2 || stats.exists(_.isEmpty)) return files
    var ok = true
    val sorted =
      try files.zip(stats.map(_.get)).sortWith { case ((_, a), (_, b)) =>
        StatValue.compareStored(dt, a._1, b._1) match {
          case Some(c) => c < 0
          case None => ok = false; false
        }
      }.map(_._1)
      catch { case _: IllegalArgumentException => ok = false; files }
    if (ok) sorted else files
  }

  /** SupportsReportOrdering: claim the write-time sort when every
    * planned partition's file chain provably concatenates sorted —
    * consecutive files' leading-sort-column ranges must not overlap
    * (footer stats), nulls confined to the chain head (ASC NULLS FIRST).
    * Strict boundaries ⇒ the full lexicographic sortColumns order;
    * touching boundaries ⇒ only the leading column. Unsound cases
    * (missing stats, mixed sort specs, pruned-out sort column) report
    * nothing — a wrong claim would silently drop a needed Sort. */
  /** Ordered chains captured when an ordering claim is made: runtime
    * filtering must keep this grouping (a repack could interleave two
    * overlapping files into one partition AFTER the Sort was elided). */
  @volatile private var claimedChains
      : Option[Array[Array[org.apache.spark.sql.execution.datasources.PartitionedFile]]] = None

  override def outputOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] = {
    import org.apache.spark.sql.connector.expressions.{Expressions, NullOrdering, SortDirection}
    val sortCols = tableMeta.sortColumns
    if (sortCols.isEmpty || visible.isEmpty) return Array.empty
    if (!visible.forall(s => s.sortColumns == sortCols && s.format == "parquet"))
      return Array.empty
    if (visible.forall(_.fileMeta.isEmpty)) return Array.empty
    val readable = current.readSchema().fieldNames.toSet
    if (!readable(sortCols.head)) return Array.empty
    val dt = leadDt.getOrElse(return Array.empty)

    val chains = plannedPartitions().map {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp.files
      case b: BucketedFilePartition => b.filePartition.files
      case d: DeltaFilePartition => d.filePartition.files
      case _ => return Array.empty
    }
    var strict = true
    for (files <- chains) {
      val stats = files.map(f => leadStats(f.filePath.toString))
      if (stats.exists(_.isEmpty)) return Array.empty
      var i = 0
      while (i < files.length - 1) {
        if (stats(i + 1).get._3 > 0) return Array.empty // nulls past chain head
        StatValue.compareStored(dt, stats(i).get._2, stats(i + 1).get._1) match {
          case Some(c) if c < 0 => ()
          case Some(0) => strict = false
          case _ => return Array.empty
        }
        i += 1
      }
    }
    val claim = (if (strict) sortCols else sortCols.take(1)).takeWhile(readable)
    if (claim.nonEmpty) claimedChains = Some(chains)
    claim.map(c => Expressions.sort(
      Expressions.column(c), SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray
  }

  /** Storage-partitioned-join contract: one InputPartition per bucket id
    * (ALL `count` of them, empty buckets included, so the key set — and
    * with it `numPartitions` — is invariant under static AND runtime
    * pruning), each carrying that bucket's post-pruning files. */
  override def outputPartitioning(): org.apache.spark.sql.connector.read.partitioning.Partitioning =
    reportableBuckets match {
      case Some(bs) =>
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(org.apache.spark.sql.connector.expressions.Expressions.bucket(
            bs.count, bs.columns: _*)),
          bs.count)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  // forward size estimates or the relation falls back to
  // defaultSizeInBytes (Long.MaxValue) and auto-broadcast never fires
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    current.estimateStatistics()

  /** The live delegated scan (tests unwrap through this). */
  def currentInner: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = current

  /** `spark.readStream.format("carbonish").load(path)` — committed
    * segments become micro-batches (see [[SegmentMicroBatchStream]]). */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SegmentMicroBatchStream(spark, layout, tableSchema, scanOptions)

  override def readSchema(): StructType = {
    // the row-index temp column is reader plumbing for the delta
    // anti-filter — never part of the scan's declared output
    val s = current.readSchema()
    val tmp = org.apache.spark.sql.graft.Shims.rowIndexTempName
    if (s.fieldNames.contains(tmp)) StructType(s.fields.filterNot(_.name == tmp)) else s
  }
  override def description(): String = s"carbonish ${current.description()}"

  // Spark materializes the Batch before applying runtime filters, so the
  // batch must consult the CURRENT state at plan time, not capture it
  /** Isolate each delta-bearing data file into its own
    * [[DeltaFilePartition]] (all its splits together, tagged with its
    * delta paths) so the reader can attribute row indexes to the right
    * position set; clean files keep their planned packing. Subsets of
    * a sorted chain stay sorted, so ordering claims survive the split. */
  private def deltaSplit(
      parts: Array[org.apache.spark.sql.connector.read.InputPartition])
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    if (deltaOfFile.isEmpty) return parts
    val out = Array.newBuilder[org.apache.spark.sql.connector.read.InputPartition]
    var i = 0
    parts.foreach {
      case fp: FilePartition =>
        val (hit, clean) = fp.files.partition(f =>
          deltaOfFile.contains(new Path(f.filePath.toString).toString))
        if (hit.isEmpty) { out += fp }
        else {
          if (clean.nonEmpty) { out += FilePartition(i, clean); i += 1 }
          hit.groupBy(f => new Path(f.filePath.toString).toString).foreach {
            case (qp, slices) =>
              out += DeltaFilePartition(FilePartition(i, slices), deltaOfFile(qp))
              i += 1
          }
        }
      case other => out += other // bucketed partitions never coexist with deltas
    }
    out.result()
  }

  /** Memoized split planning, keyed on the live delegated scan instance:
    * `outputOrdering()` (called during pushdown finalization) and the
    * executed Batch both need the planned partitions, and EnsureRequirements
    * may consult ordering repeatedly — without the memo each call re-ran
    * file listing + split planning + per-file footer-stat lookups
    * (O(files) driver CPU per call; real at 100k-file tables). A runtime
    * filter() swaps `current`, which invalidates the cache by identity.
    * Safe to reuse across the ordering claim: with `current eq inner`
    * both pre- and post-claim planning take the orderChain branch, so
    * the cached result is byte-identical. */
  @volatile private var plannedCache
      : Option[(AnyRef, Array[org.apache.spark.sql.connector.read.InputPartition])] = None
  /** Times the underlying plan actually ran (spec-asserted — the memo
    * must make one executed scan plan exactly once). */
  val planInvocations = new java.util.concurrent.atomic.AtomicInteger(0)

  private def plannedPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val cur = current
    plannedCache match {
      case Some((key, parts)) if key eq cur => parts
      case _ =>
        val parts = planPartitions()
        plannedCache = Some((cur, parts))
        parts
    }
  }

  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    new org.apache.spark.sql.connector.read.Batch {
      override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
        plannedPartitions()
      override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory = {
        val delegate = current.toBatch.createReaderFactory()
        // gate on the TEMP COLUMN, not the delta map: a limit/topN
        // subset scan may cover only delta-free segments while the
        // builder (which saw deltas table-wide) already injected the
        // column — it must still be stripped from every row
        if (current.readSchema().fieldNames.contains(
            org.apache.spark.sql.graft.Shims.rowIndexTempName))
          DeltaAwareReaderFactory(delegate, current.readSchema(),
            new SerializableHadoopConf(spark.sessionState.newHadoopConf()))
        else if (reportableBuckets.isEmpty) delegate
        else BucketUnwrapReaderFactory(delegate)
      }
    }

  /** Allowed row-group byte spans per "segId:relPath" from the "ranges"
    * option (set by [[graft.engine.GraftTable.readFilesRanges]] — the
    * fine-grain index pushdown). Files not named here scan whole. */
  private lazy val allowedRanges: Map[String, Seq[(Long, Long)]] =
    Option(scanOptions.get("ranges")).filterNot(_.isEmpty).map { enc =>
      enc.split(",").map { e =>
        val Array(seg, rel, spec) = e.split(":", 3)
        s"$seg:$rel" -> spec.split(";").toSeq.map { r =>
          val Array(st, ln) = r.split("\\+", 2)
          (st.toLong, ln.toLong)
        }
      }.toMap
    }.getOrElse(Map.empty)

  /** Clip planned splits of range-restricted files to their allowed
    * row-group byte spans. Parquet's reader keeps exactly the row
    * groups whose midpoint (startingPos + compressedSize/2) lies inside
    * a split, so a split clipped to a row group's own span reads that
    * row group and nothing else; splits that overlap no allowed span
    * drop out. Row indexes stay file-global (the parquet footer carries
    * each row group's first row index), so MoR delta attribution and
    * `_metadata.row_index` survive the clip. */
  private def clipToRanges(
      parts: Array[org.apache.spark.sql.connector.read.InputPartition])
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    if (allowedRanges.isEmpty) return parts
    parts.flatMap {
      case fp: FilePartition =>
        val clipped = fp.files.flatMap { f =>
          segRelOf(new Path(f.filePath.toString).toString) match {
            case Some((s, rel)) =>
              allowedRanges.get(s"${s.id}:$rel") match {
                case Some(rs) => rs.flatMap { case (st, ln) =>
                  val lo = math.max(f.start, st)
                  val hi = math.min(f.start + f.length, st + ln)
                  if (hi > lo) Some(f.copy(start = lo, length = hi - lo)) else None
                }
                case None => Seq(f)
              }
            case None => Seq(f)
          }
        }
        if (clipped.isEmpty) None
        else Some(FilePartition(fp.index, clipped)
          : org.apache.spark.sql.connector.read.InputPartition)
      case other => Some(other)
    }
  }

  /** EXPLAIN-only bloom skip preview (reference BloomCoarseGrainIndex's
    * EXPLAIN contribution): the parquet bloom tier prunes row groups at
    * TASK time, invisible to plan output — so under an active
    * [[graft.engine.ExplainCollector]] (never on the hot path) rerun
    * parquet's own row-group filter driver-side for the planned files,
    * once stats-only and once with blooms, and record the delta. Only
    * eq/IN pushed filters on `bloom_columns` participate (the shapes a
    * bloom can answer); bounded to small plans so EXPLAIN over a
    * 100k-file table stays cheap. */
  private def recordBloomSkip(
      parts: Array[org.apache.spark.sql.connector.read.InputPartition]): Unit = try {
    import org.apache.parquet.filter2.predicate.{FilterApi, FilterPredicate}
    val bloomCols = tableMeta.properties.get("bloom_columns")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .getOrElse(return)
    def leaf(name: String, v: Any): Option[FilterPredicate] = v match {
      case l: Long => Some(FilterApi.eq(FilterApi.longColumn(name), Long.box(l)))
      case i: Int => Some(FilterApi.eq(FilterApi.intColumn(name), Int.box(i)))
      case s: String => Some(FilterApi.eq(FilterApi.binaryColumn(name),
        org.apache.parquet.io.api.Binary.fromString(s)))
      case _ => None
    }
    def ors(ps: Seq[FilterPredicate]): FilterPredicate = ps.reduce(FilterApi.or)
    val preds: Seq[FilterPredicate] = current.pushedFilters.toSeq.flatMap {
      case org.apache.spark.sql.sources.EqualTo(c, v) if bloomCols(c) => leaf(c, v)
      case org.apache.spark.sql.sources.In(c, vs)
          if bloomCols(c) && vs.nonEmpty =>
        val ls = vs.toSeq.flatMap(leaf(c, _))
        if (ls.size == vs.length) Some(ors(ls)) else None
      case _ => None
    }
    if (preds.isEmpty) return
    val pred = preds.reduce(FilterApi.and)
    val files = parts.flatMap {
      case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
        fp.files.map(_.filePath.toString)
      case _ => Array.empty[String]
    }.distinct
    if (files.isEmpty) return
    if (files.length > 64) {
      graft.engine.ExplainCollector.record(
        s"bloom row-group preview elided (${files.length} files)")
      return
    }
    val conf = spark.sessionState.newHadoopConf()
    def kept(f: String, bloom: Boolean): Int = {
      val opts = org.apache.parquet.HadoopReadOptions.builder(conf)
        .withRecordFilter(org.apache.parquet.filter2.compat.FilterCompat.get(pred))
        .useStatsFilter(true)
        .useDictionaryFilter(false)
        .useColumnIndexFilter(false)
        .useBloomFilter(bloom)
        .build()
      val r = new org.apache.parquet.hadoop.ParquetFileReader(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(f), conf), opts)
      try r.getRowGroups.size finally r.close()
    }
    var statsKept = 0; var bloomKept = 0; var total = 0
    files.foreach { f =>
      statsKept += kept(f, bloom = false)
      bloomKept += kept(f, bloom = true)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(f), conf))
      try total += r.getFooter.getBlocks.size finally r.close()
    }
    graft.engine.ExplainCollector.record(
      s"bloom row-group skip: blooms keep $bloomKept/$total row group(s) " +
        s"(min-max stats alone keep $statsKept) across ${files.length} file(s)")
  } catch { case scala.util.control.NonFatal(_) => () }

  private def planPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    planInvocations.incrementAndGet()
    val planned = clipToRanges(current.toBatch.planInputPartitions())
    if (graft.engine.ExplainCollector.enabled) recordBloomSkip(planned)
    deltaSplit(reportableBuckets match {
      case None =>
        claimedChains match {
          case Some(chains) if current ne inner =>
            // ordering was claimed and a runtime filter re-planned
            // the scan: the delegate would REPACK the surviving
            // files, possibly interleaving two overlapping files
            // into one partition after the Sort was already elided.
            // Keep the claimed chain grouping instead — a subset of
            // a sorted chain stays sorted. (Bucketed scans keep
            // their per-bucket grouping structurally.)
            val survivors = planned.flatMap {
              case fp: FilePartition =>
                fp.files.map(f => new Path(f.filePath.toString).toString)
              case _ => Array.empty[String]
            }.toSet
            chains.map(_.filter(f =>
                survivors(new Path(f.filePath.toString).toString)))
              .filter(_.nonEmpty).zipWithIndex
              .map { case (fs, i) =>
                FilePartition(i, fs): org.apache.spark.sql.connector.read.InputPartition
              }
          case _ =>
            // min-order each partition's chain so the write-time sort
            // is reportable as output ordering (outputOrdering above)
            planned.map {
              case fp: FilePartition => FilePartition(fp.index, orderChain(fp.files))
              case other => other
            }
        }
      case Some(bs) =>
        // regroup the delegate's post-pruning files by bucket tag:
        // partition i = bucket i (HasPartitionKey), all `count`
        // buckets present so the reported key set always holds
        val files = planned.flatMap {
          case fp: FilePartition => fp.files
          case other => throw new IllegalStateException(
            s"unexpected non-file partition under a bucketed scan: $other")
        }
        val byBucket = files.groupBy { f =>
          f.filePath.toString.split('/').find(_.startsWith(Buckets.TagPrefix))
            .flatMap(s => s.substring(Buckets.TagPrefix.length).toIntOption)
            .getOrElse(throw new IllegalStateException(
              s"untagged file in bucketed scan: ${f.filePath}"))
        }
        Array.tabulate[org.apache.spark.sql.connector.read.InputPartition](bs.count) { b =>
          BucketedFilePartition(b,
            FilePartition(b, orderChain(byBucket.getOrElse(b, Array.empty))))
        }
    })
  }

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only columns present in the (pruned) read schema: Spark resolves
    // these against the scan output and THROWS on a miss
    val readable = current.readSchema().fieldNames.toSet
    tableSchema.fields
      .filter(f => readable(f.name) && SegmentWriter.statsSupported(f.dataType))
      .map(f => org.apache.spark.sql.connector.expressions.Expressions.column(f.name))
  }

  override def filter(filters: Array[Filter]): Unit = {
    val fs = filters.toIndexedSeq
    if (fs.isEmpty) return
    val kept = SegmentPruner.prune(visible, fs)
    // file-grain refinement: per-file footer stats (and path-encoded
    // partition tuples) can drop files INSIDE kept segments — a DPP key
    // set rarely aligns with segment boundaries at 100 TB, so segment
    // grain alone leaves most of the win on the table. The precheck is
    // driver metadata math (same compares listFiles would do).
    val fileDrops = kept.exists { s =>
      s.files.exists { rel =>
        (s.fileMeta.contains(rel) || rel.contains("=")) && {
          val pm = Partitions.fileAsSegment(s, rel, tableSchema)
          !fs.forall(f => SegmentPruner.mayMatch(pm, f))
        }
      }
    }
    // bucket grain: footer stats on a hash-bucketed column span the full
    // range (hashing doesn't cluster values), so the footer precheck
    // above can't see the win — but an equality/IN runtime filter on a
    // bucket column pins files to |values| buckets. Over-triggering is
    // just a rebuild; listFiles decides the exact file set.
    val bucketPin = {
      import org.apache.spark.sql.sources._
      (try Buckets.specOf(tableMeta) catch { case scala.util.control.NonFatal(_) => None })
        .exists { bs =>
          val cols = bs.columns.toSet
          fs.exists {
            case EqualTo(a, _) => cols(a)
            case EqualNullSafe(a, _) => cols(a)
            case In(a, _) => cols(a)
            case IsNull(a) => cols(a)
            case _ => false
          }
        }
    }
    if (kept.size < visible.size || fileDrops || bucketPin) {
      val grain =
        (if (fileDrops) Seq("file-grain refinement active") else Nil) ++
          (if (bucketPin) Seq("bucket pin active") else Nil)
      logInfo(s"[graft] runtime segment skip: kept ${kept.size}/${visible.size} " +
        s"segments${if (grain.isEmpty) "" else grain.mkString(" + ", " + ", "")} for " +
        s"${filters.mkString("[", ", ", "]")}")
      graft.engine.ExplainCollector.record(
        s"runtime (DPP) segment skip: kept ${kept.size}/${visible.size} segments" +
          (if (grain.nonEmpty) grain.mkString(" (", ", ", ")") else ""))
      // the rebuilt index carries the runtime filters so listFiles
      // applies the partition/footer/bucket file skip to them too
      current = inner.copy(fileIndex =
        new SegmentFileIndex(spark, layout, kept, tableSchema, fs))
    }
  }
}

/** Driver-local scan carrying metadata-answered aggregates: one row for
  * grouping-free count(*)/min/max, one row per partition tuple for
  * GROUP BY partition-columns — zero file IO either way. */
case class MetadataAggScan(rowValues: Seq[Seq[Any]], aggSchema: StructType) extends LocalScan {
  override def rows(): Array[InternalRow] =
    rowValues.map(vs => InternalRow(vs: _*)).toArray
  override def readSchema(): StructType = aggSchema
  override def description(): String =
    s"GraftMetadataAggScan(${rowValues.size} rows)"
}

/** One bucket's files as an InputPartition keyed by the bucket id —
  * the HasPartitionKey half of the storage-partitioned-join contract. */
case class BucketedFilePartition(
    bucketId: Int,
    filePartition: org.apache.spark.sql.execution.datasources.FilePartition)
  extends org.apache.spark.sql.connector.read.InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucketId))
  override def preferredLocations(): Array[String] =
    filePartition.preferredLocations()
}

/** Routes [[BucketedFilePartition]]s to the delegated parquet reader
  * factory (which pattern-matches on FilePartition). */
case class BucketUnwrapReaderFactory(
    delegate: org.apache.spark.sql.connector.read.PartitionReaderFactory)
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  private def unwrap(p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.InputPartition = p match {
    case b: BucketedFilePartition => b.filePartition
    case other => other
  }
  override def createReader(p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] =
    delegate.createReader(unwrap(p))
  override def createColumnarReader(p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    delegate.createColumnarReader(unwrap(p))
  override def supportColumnarReads(p: org.apache.spark.sql.connector.read.InputPartition): Boolean =
    delegate.supportColumnarReads(unwrap(p))
}

// --------------------------------------------------- mixed-format scans

/** Catalog-name reads of tables holding non-parquet segments (reference
  * MixedFormatHandler.scala:56,155,219-221 serves foreign segments
  * through its one relation): one sub-scan per format — the parquet
  * segments keep the FULL carbonish scan (segment stats pruning, delta
  * masking), each foreign format gets Spark's own DSv2 scan over that
  * format's segment files — and the batch concatenates their
  * partitions. Filters are NOT pushed (Spark re-applies every filter
  * above a scan that declines them — correctness first; foreign
  * segments are ADD SEGMENT adjuncts by design); column pruning IS
  * pushed to every sub-scan. */
class MixedScanBuilder(
    spark: SparkSession,
    layout: TableLayout,
    visible: Seq[SegmentMeta],
    schema: StructType,
    options: CaseInsensitiveStringMap)
  extends ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var required: StructType = schema
  override def pruneColumns(requested: StructType): Unit = required = requested
  override def build(): Scan =
    new MixedScan(spark, layout, visible, schema, required, options)
}

class MixedScan(
    spark: SparkSession,
    layout: TableLayout,
    visible: Seq[SegmentMeta],
    schema: StructType,
    required: StructType,
    options: CaseInsensitiveStringMap) extends Scan {

  override def readSchema(): StructType = required
  override def description(): String = {
    val counts = visible.groupBy(_.format).view.mapValues(_.size).toMap
    s"carbonish mixed ${counts.map { case (f, n) => s"$f:$n" }.mkString(",")}"
  }

  private def subScan(format: String, segs: Seq[SegmentMeta]): Scan = {
    import org.apache.spark.sql.execution.datasources.v2.csv.CSVScanBuilder
    import org.apache.spark.sql.execution.datasources.v2.json.JsonScanBuilder
    import org.apache.spark.sql.execution.datasources.v2.orc.OrcScanBuilder
    val idx = new SegmentFileIndex(spark, layout, segs, schema)
    val b: ScanBuilder = format match {
      case "parquet" =>
        // the full carbonish ladder for the managed segments
        new CarbonishScanBuilder(spark, layout, segs, schema, options, None)
      case "csv" =>
        // match GraftTable.readForeignSegment: header'd CSV
        val opts = new CaseInsensitiveStringMap(
          (options.asScala ++ Map("header" -> "true")).asJava)
        CSVScanBuilder(spark, idx, schema, schema, opts)
      case "json" => JsonScanBuilder(spark, idx, schema, schema, options)
      case "orc" => OrcScanBuilder(spark, idx, schema, schema, options)
      case other => throw new IllegalStateException(s"segment format $other")
    }
    b match {
      case p: org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =>
        p.pruneColumns(required)
      case _ =>
    }
    b.build()
  }

  private lazy val subs: Seq[Scan] =
    visible.groupBy(_.format).toSeq.sortBy(_._1)
      .map { case (f, segs) => subScan(f, segs) }

  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    new org.apache.spark.sql.connector.read.Batch {
      override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
        subs.zipWithIndex.flatMap { case (s, i) =>
          s.toBatch.planInputPartitions().map(p =>
            SubScanPartition(i, p): org.apache.spark.sql.connector.read.InputPartition)
        }.toArray
      override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
        SubScanReaderFactory(subs.map(_.toBatch.createReaderFactory()))
    }
}

/** An InputPartition tagged with the index of the sub-scan it belongs
  * to, so the dispatching reader factory routes it to the right reader. */
case class SubScanPartition(
    subIndex: Int, inner: org.apache.spark.sql.connector.read.InputPartition)
  extends org.apache.spark.sql.connector.read.InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

/** Row-based everywhere: formats differ in columnar support, and Spark
  * requires all partitions of one scan to agree. */
case class SubScanReaderFactory(
    factories: Seq[org.apache.spark.sql.connector.read.PartitionReaderFactory])
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  override def supportColumnarReads(
      p: org.apache.spark.sql.connector.read.InputPartition): Boolean = false
  override def createColumnarReader(p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] =
    throw new UnsupportedOperationException("mixed-format scans are row-based")
  override def createReader(p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[SubScanPartition]
    factories(sp.subIndex).createReader(sp.inner)
  }
}
