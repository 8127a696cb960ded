package graft.engine.index

import graft.engine.GraftTable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Secondary index (reference index/secondary-index + the SI filter→join
  * rewrite, CarbonSITransformationRule / BroadCastSIFilterPushJoin,
  * SURVEY §2.3 #15).
  *
  * Spark-first shape: the SI is itself a carbonish table mapping indexed
  * value → (segment id, file), sorted by value (so SI lookups prune via
  * segment stats). A query filtering on the indexed column first
  * consults the SI (a tiny scan), then reads only the main-table FILES
  * that contain the value — position-grain, like the reference's
  * BroadCastSIFilterPushJoin shipping matched block/blocklet positions
  * into the main scan (joins/BroadCastSIFilterPushJoin.scala:60); row
  * groups within a matched file then self-prune via parquet footer
  * stats. At 100 TB the SI is ~|distinct values × files| rows —
  * still negligible next to the fact table, and a selective lookup over
  * a few huge segments now opens a few files, not the segments.
  */
object Si {

  private def siPathsKey(column: String) = s"si.$column"

  private val segIdFromPath: Column =
    regexp_extract(col("_metadata.file_path"), "/segments/([0-9]+)/", 1).cast("long")

  /** Relative path within the segment dir — the same form as
    * `SegmentMeta.files` entries (incl. partition subdirs). */
  private val fileFromPath: Column =
    regexp_extract(col("_metadata.file_path"), "/segments/[0-9]+/(.*)$", 1)

  /** Which base segments an index table has folded in (its coverage
    * ledger) — segments outside this set must be scanned unindexed or
    * the index would silently drop their rows. */
  private[engine] def indexedSegments(idx: GraftTable): Set[Long] =
    idx.meta.properties.get("indexed_segments").toSet[String]
      .flatMap(_.split(",")).filter(_.nonEmpty).map(_.toLong)

  private[index] def recordIndexedSegments(idx: GraftTable, ids: Set[Long]): Unit =
    idx.setProperties(Map("indexed_segments" -> ids.toSeq.sorted.mkString(",")))

  /** Index GC riding the base table's CLEAN FILES (r13): rows for
    * physically-reclaimed base segments can never serve again (lookups
    * already visibility-filter them), so drop them and shrink the
    * coverage ledger. Without this a long-lived table's indexes bloat
    * with dead rows and the file-grain over-cap check — which must
    * count RAW rows (see readWhereIn) — degrades lookups to segment
    * grain spuriously. Shared by SI and text index (same ledger). */
  private[engine] def vacuumIndexTable(idx: GraftTable, removed: Set[Long]): Unit =
    if (removed.nonEmpty) {
      idx.delete(col("seg_id").isin(removed.toSeq: _*))
      recordIndexedSegments(idx, indexedSegments(idx) -- removed)
    }

  /** CREATE INDEX … AS 'carbondata' (SI) on `column`, stored at `siPath`.
    * `deferred` (WITH DEFERRED REFRESH, reference
    * index-management.md:87): the SI table is created EMPTY with zero
    * coverage — every lookup falls back to unindexed scans (the
    * coverage model's natural "disabled") until REFRESH INDEX builds
    * it. */
  def create(t: GraftTable, column: String, siPath: String,
      deferred: Boolean = false): GraftTable = {
    require(t.schema.fieldNames.contains(column), s"no such column $column")
    val snapshot =
      if (deferred) Set.empty[Long] else t.status.visible.map(_.id).toSet
    GraftTable.drop(t.spark, siPath)
    val si =
      if (deferred)
        GraftTable.create(t.spark, siPath,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("v",
              t.schema(column).dataType),
            org.apache.spark.sql.types.StructField("seg_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("file",
              org.apache.spark.sql.types.StringType)) ++
            RowGroups.schemaFields),
          sortColumns = Seq("v"))
      else
        GraftTable.createAsSelect(t.spark, siPath, buildRows(t, column),
          sortColumns = Seq("v"))
    recordIndexedSegments(si, snapshot)
    t.layout.updateTableMeta(m => m.copy(
      properties = m.properties + (siPathsKey(column) -> siPath)))
    si
  }

  /** Index rows at ROW-GROUP grain (r13 — the same fine-grain upgrade
    * as the text index; the reference's SI stores blocklet positions,
    * secondary-index/.../SecondaryIndexUtil): each (value, segment,
    * file) row carries the row group holding the value and its byte
    * span, tagged via a broadcast range join against the footer
    * geometry (see [[RowGroups]]). Unreadable footers degrade to
    * null-rg rows (file grain), never to a wrong answer. */
  private def buildRows(t: GraftTable, column: String,
      segments: Option[Seq[graft.engine.format.SegmentMeta]] = None): DataFrame = {
    val segs = segments.getOrElse(t.status.visible)
    val files = segs.flatMap(t.layout.segmentFilePaths)
    val base = t.spark.read.schema(t.schema).parquet(files: _*)
      .select(col(column).as("v"), segIdFromPath.as("seg_id"),
        fileFromPath.as("file"), col("_metadata.row_index").as("ri"))
    RowGroups.geometryDf(t, segs) match {
      case None => RowGroups.nullTagged(base)
      case Some(geo) => RowGroups.tag(base, geo)
        .select(col("v"), col("seg_id"), col("file"), col("rg"),
          col("rg_start"), col("rg_len"))
        .distinct()
    }
  }

  /** A pre-r13 index lacks the rg columns; appending/overwriting with
    * the 6-column build would schema-mismatch. REFRESH/REINDEX upgrade
    * it transparently by rebuilding in place (same path, new schema) —
    * this is also the documented route from "grain: file" to
    * "grain: row-group" in SHOW INDEXES. */
  private def legacySchema(idx: GraftTable): Boolean =
    !idx.schema.fieldNames.contains("rg_start")

  /** REFRESH INDEX: full rebuild against the current segment set. */
  def refresh(t: GraftTable, column: String): Unit = {
    val siPath = t.meta.properties.getOrElse(siPathsKey(column),
      throw new IllegalArgumentException(s"no SI on $column"))
    val si = GraftTable.at(t.spark, siPath)
    if (legacySchema(si)) { create(t, column, siPath); return }
    val snapshot = t.status.visible.map(_.id).toSet
    si.insert(buildRows(t, column), overwrite = true)
    recordIndexedSegments(si, snapshot)
  }

  /** REINDEX (reference IndexRepairCommand, parser :750-760):
    * INCREMENTAL repair — only segments missing from the coverage
    * ledger (optionally restricted to `segIds`) are scanned and their
    * rows appended, so repairing a 100 TB table after a few loads reads
    * the new segments, not the table. REFRESH remains the full
    * rebuild. */
  def repair(t: GraftTable, column: String, segIds: Option[Seq[Long]] = None): Unit = {
    val siPath = t.meta.properties.getOrElse(siPathsKey(column),
      throw new IllegalArgumentException(s"no SI on $column"))
    val si = GraftTable.at(t.spark, siPath)
    if (legacySchema(si)) { create(t, column, siPath); return } // upgrade
    val covered = indexedSegments(si)
    val visible = t.status.visible
    val want = segIds.map(_.toSet).getOrElse(visible.map(_.id).toSet)
    val missing = visible.filter(s => want.contains(s.id) && !covered.contains(s.id))
    if (missing.nonEmpty) {
      si.insert(buildRows(t, column, Some(missing)))
      recordIndexedSegments(si, covered ++ missing.map(_.id))
    }
  }

  /** SHOW INDEXES. */
  def show(t: GraftTable): Seq[(String, String)] =
    t.meta.properties.collect {
      case (k, v) if k.startsWith("si.") => (k.stripPrefix("si."), v)
    }.toSeq

  /** DROP INDEX. */
  def drop(t: GraftTable, column: String): Unit = {
    t.meta.properties.get(siPathsKey(column)).foreach(p => GraftTable.drop(t.spark, p))
    t.layout.writeTableMeta(t.meta.copy(
      properties = t.meta.properties - siPathsKey(column)))
  }

  /** A selective lookup names few (segment, file) hits; past this many
    * the per-file option encoding stops paying for itself and the read
    * degrades to segment grain (loud in the plan, not in results). */
  private val FileGrainMaxHits = 10000

  /** Driver-side probe memo: the SI consult inside [[SiRewriteRule]]
    * runs during optimization, and fixed-point optimizer batches can
    * plan the same filter more than once per query (and concurrent
    * queries often repeat hot lookup values). Keyed by the INDEX
    * table's commit version, so any refresh/repair/vacuum or base-load
    * coverage change invalidates naturally; bounded LRU — entries are
    * metadata-sized hit lists. */
  private val probeMemo = new java.util.LinkedHashMap[
      (String, Long, (Long, Long), Seq[String], Seq[Any]),
      Array[org.apache.spark.sql.Row]](64, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (String, Long, (Long, Long), Seq[String], Seq[Any]),
        Array[org.apache.spark.sql.Row]]): Boolean = size() > 128
  }
  private def memoProbe(si: GraftTable, cols: Seq[String], values: Seq[Any])(
      run: => Array[org.apache.spark.sql.Row]): Array[org.apache.spark.sql.Row] = {
    // version + file stamp: version alone collides across drop/recreate
    // incarnations of the same index path (numbering restarts)
    val key = (si.layout.tablePath, si.status.version,
      si.layout.statusStamp(), cols, values)
    val hit = probeMemo.synchronized(Option(probeMemo.get(key)))
    hit.getOrElse {
      val r = run
      probeMemo.synchronized { probeMemo.put(key, r); () }
      r
    }
  }

  /** SI pruning for MUTATION candidate scans (the same rung the read
    * path uses, applied to the find-the-matches scan of UPDATE/DELETE/
    * MERGE): which files of COVERED segments can contain `values`.
    * None = no SI on the column, or the lookup over-caps (no pruning,
    * conservative). Contract for `(covered, hits)`:
    *   - segment outside `covered` (loaded/compacted since the last
    *     refresh, or unknown to this SI snapshot) → keep ALL its files;
    *   - covered, absent from `hits` → provably value-free, drop;
    *   - `hits(id) == None` → segment-grain hit (pre-file SI), keep all;
    *   - `hits(id) == Some(files)` → keep exactly those files. */
  private[engine] def mutationHits(t: GraftTable, column: String, values: Seq[Any],
      maxFileHits: Int = FileGrainMaxHits)
      : Option[(Set[Long], Map[Long, Option[Set[String]]])] =
    t.meta.properties.get(siPathsKey(column)).flatMap(siAt(t, _)).flatMap { si =>
      val covered = indexedSegments(si)
      if (!si.schema.fieldNames.contains("file")) {
        val hits = si.read.filter(col("v").isin(values: _*))
          .select("seg_id").distinct().collect().map(_.getLong(0)).toSet
        Some((covered,
          (hits & covered).map(_ -> (None: Option[Set[String]])).toMap))
      } else {
        // RAW-count overflow check, same invariant as readWhereIn
        val raw = si.read.filter(col("v").isin(values: _*))
          .select("seg_id", "file").distinct()
          .limit(maxFileHits + 1).collect()
        if (raw.length > maxFileHits) None
        else Some((covered, raw.toSeq
          .map(r => (r.getLong(0), r.getString(1)))
          .filter { case (sId, _) => covered.contains(sId) }
          .groupBy(_._1)
          .map { case (k, v) =>
            k -> (Some(v.map(_._2).toSet): Option[Set[String]]) }))
      }
    }

  /** SI-accelerated equality/IN read: consult the index for the FILES
    * containing any of `values`, then scan only those files with the
    * exact predicate applied (residual) — position-grain, like the
    * reference's BroadCastSIFilterPushJoin. SIs built before the file
    * column, and lookups matching more than [[FileGrainMaxHits]] files,
    * use segment-grain pruning. Falls back to a plain filtered read when
    * no SI exists on the column. */
  def readWhereIn(t: GraftTable, column: String, values: Seq[Any],
      maxFileHits: Int = FileGrainMaxHits): DataFrame = {
    val pred = col(column).isin(values: _*)
    pinnedFor(t, column, values, maxFileHits) match {
      case None => t.read.filter(pred)
      case Some(base) => base.filter(pred)
    }
  }

  /** The pinned UNFILTERED base read serving an equality/IN lookup on
    * `column` — a provable superset of the matching rows at the finest
    * grain the SI can serve (row-group → file → segment), or None when
    * the column has no SI. Shared by [[readWhereIn]] (which applies
    * the exact residual) and [[SiRewriteRule]] (which swaps it in
    * under the query's own Filter). */
  /** A registered index path whose table is missing or unreadable (a
    * crash between a legacy-upgrade's drop and rebuild, an external
    * delete) must degrade lookups to the unindexed scan, never fail
    * the query — REFRESH INDEX repairs the registration. */
  private def siAt(t: GraftTable, siPath: String): Option[GraftTable] =
    try Some(GraftTable.at(t.spark, siPath))
    catch {
      case scala.util.control.NonFatal(e) =>
        graft.engine.ExplainCollector.record(
          s"SI at $siPath unreadable (${e.getMessage}); scanning unindexed")
        None
    }

  private[index] def pinnedFor(t: GraftTable, column: String, values: Seq[Any],
      maxFileHits: Int = FileGrainMaxHits): Option[DataFrame] = {
    t.meta.properties.get(siPathsKey(column)).flatMap(siAt(t, _)) match {
      case None => None
      case Some(si) =>
        val visSegs = t.status.visible
        val visible = visSegs.map(_.id).toSet
        // segments the index has never seen (inserted/compacted since the
        // last refresh) must be scanned unindexed — the index can only
        // prune within its coverage; retired seg_ids drop out via the
        // visibility intersection (their rows live in uncovered
        // successors, which are scanned)
        val uncovered = visible -- indexedSegments(si)
        def segmentGrain(): DataFrame = {
          val hits = memoProbe(si, Seq("seg_id"), values) {
            si.read
              .filter(col("v").isin(values: _*))
              .select("seg_id").distinct()
              .collect()
          }.map(_.getLong(0)).toSet
          val target = ((hits & visible) ++ uncovered).toSeq.sorted
          graft.engine.ExplainCollector.record(
            s"SI($column) segment-grain: pinned ${target.size}/${visible.size} " +
              s"segments (${uncovered.size} uncovered scanned unindexed)")
          if (target.isEmpty)
            t.read.limit(0) // provably empty
          else t.readSegments(target)
        }
        if (!si.schema.fieldNames.contains("file")) Some(segmentGrain())
        else Some {
          val rgCapable = si.schema.fieldNames.contains("rg_start")
          val cols =
            if (rgCapable) Seq("seg_id", "file", "rg_start", "rg_len")
            else Seq("seg_id", "file")
          // the hit list is metadata-sized for a selective lookup
          // (bounded by matched files, and hard-capped below); the
          // overflow check runs on the RAW collected count — a stale SI
          // full of retired seg_ids could otherwise consume limit slots,
          // pass the cap after the visibility filter, and proceed with a
          // silently truncated file list
          val raw = memoProbe(si, cols :+ s"#cap=$maxFileHits", values) {
            si.read
              .filter(col("v").isin(values: _*))
              .select(cols.map(col): _*).distinct()
              .limit(maxFileHits + 1)
              .collect()
          }
          if (raw.length > maxFileHits) segmentGrain()
          else {
            val hits = raw.toSeq.map(r => (r.getLong(0), r.getString(1)))
              .filter { case (sId, _) => visible.contains(sId) }.distinct
            // uncovered segments contribute ALL their files; a file the
            // index knew that a partition-drop removed from `files`
            // simply no longer resolves (its rows are gone)
            val uncov = visSegs.filter(s => uncovered.contains(s.id))
              .flatMap(s => s.files.map(f => (s.id, f)))
            val wanted = (hits ++ uncov).groupBy(_._1)
              .view.mapValues(_.map(_._2).distinct.toSeq).toMap
            // ROW-GROUP grain (r13): when every hit row carries rg
            // geometry, clip the pinned files' splits to the value-
            // bearing row groups' byte spans; any null-rg row (degraded
            // build) falls back to whole-file pins — coarser, never
            // wrong. Uncovered segments' files carry no ranges entry
            // and scan whole.
            val ranges: Map[(Long, String), Seq[(Long, Long)]] =
              if (rgCapable && !raw.exists(_.isNullAt(2)))
                raw.toSeq.map(r => ((r.getLong(0), r.getString(1)),
                    (r.getLong(2), r.getLong(3))))
                  .filter { case ((sId, _), _) => visible.contains(sId) }
                  .groupBy(_._1).view.mapValues(_.map(_._2).distinct).toMap
              else Map.empty
            graft.engine.ExplainCollector.record(
              s"SI($column) ${if (ranges.nonEmpty) "row-group" else "file"}-grain: " +
                s"pinned ${wanted.values.map(_.size).sum} " +
                s"file(s) across ${wanted.size} segment(s) " +
                s"of ${visSegs.map(_.files.size).sum} total files" +
                (if (ranges.nonEmpty)
                  s", ${ranges.values.map(_.size).sum} row group(s)"
                else ""))
            if (wanted.isEmpty) t.read.limit(0)
            else if (ranges.nonEmpty) t.readFilesRanges(wanted, ranges)
            else t.readFiles(wanted)
          }
        }
    }
  }
}
