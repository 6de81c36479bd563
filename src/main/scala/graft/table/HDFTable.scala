package graft.table

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge.asNullable
import org.apache.spark.sql.graftx.DriverParquet
import org.apache.spark.sql.sources.{And, Filter, GreaterThanOrEqual, In, LessThanOrEqual, Or}
import org.apache.spark.sql.types.{DataType, LongType, StructType}

import graft.store.{HDFStore, SegmentMeta, TableMeta}

/**
 * A positional table inside an [[HDFStore]] — the Spark-native
 * re-expression of the reference's `HDFTable[T]` (`nimtables.nim:20-28`,
 * operations `:94-236`). Untyped (DataFrame) core; [[TypedTable]] adds the
 * case-class-typed surface.
 *
 * == Positional model ==
 * A table is an ordered Vector of immutable parquet *segments*; row-ids are
 * dense and LOCAL inside each segment, and a segment's global offset is the
 * prefix sum of earlier segments' row counts (all O(#segments) driver-side
 * metadata). Consequences, by reference operation:
 *
 *  - point/slice read (`nimtables.nim:149-171`): only files overlapping
 *    the range are read, with a local `_rowid BETWEEN` filter pushed to
 *    parquet row-group stats — the analog of `H5TBread_records` walking the
 *    chunk B-tree. Bounded reads run on the driver with no Spark job.
 *  - append (`nimtables.nim:173-175`): a brand-new segment; zero rewrite.
 *  - delete/insert (`nimtables.nim:202-233`): only segments intersecting
 *    the position are rewritten; every later segment shifts by METADATA
 *    only (its offset is derived). The reference shifts all trailing
 *    records inside libhdf5 — O(n); this is O(touched data + #segments).
 *  - update (`nimtables.nim:177-200`): rewrite of intersecting segments,
 *    counts unchanged.
 *
 * All mutations are copy-on-write: new segment dirs + one atomic manifest
 * swap; concurrent readers keep a consistent snapshot.
 */
final class HDFTable private[graft] (val store: HDFStore, val name: String) {
  import RowIds.Col

  private def spark = store.spark

  private[graft] def baseName: String = {
    var n = name
    var meta = store.manifest.tables(n)
    while (meta.aliasOf.isDefined) { n = meta.aliasOf.get; meta = store.manifest.tables(n) }
    n
  }
  private[graft] def meta: TableMeta = store.resolved(name)

  /** Data schema (no `_rowid`). */
  def schema: StructType = DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]

  /** O(1) row count from the catalog — ≙ cached `nrecords`
    * (`nimtables.nim:235-236`); never a `df.count()` scan. */
  def nrows: Long = meta.rows

  /** The schema every segment is read with: the catalog's data schema
    * with `_rowid` last — the column order and types every segment write
    * keeps ([[conform]]). Reading with it plans without the Spark job
    * schema inference would run per segment. */
  private[graft] def readSchema: StructType = schema.add(Col, LongType)

  private def segDf(seg: SegmentMeta): DataFrame =
    spark.read.schema(readSchema).parquet(new Path(store.rootPath, seg.dir).toString)

  /** `d` in the layout every segment is written in — the table schema's
    * columns and types in its order, then `_rowid` when `d` carries it —
    * so the manifest schema stays the one reads plan with. A frame
    * already in that layout passes through untouched; otherwise each
    * column is cast. Nullability is left to the rows (file reads are
    * nullable anyway), so the cast target is each type's nullable form. */
  private[graft] def conform(d: DataFrame): DataFrame = {
    val target = if (d.columns.contains(Col)) readSchema else schema
    def layout(s: StructType) = s.fields.toSeq.map(f => (f.name, asNullable(f.dataType)))
    if (layout(d.schema) == layout(target)) d
    else d.select(target.fields.toSeq.map(f =>
      col(f.name).cast(asNullable(f.dataType)).as(f.name)): _*)
  }

  /** Stored ids run `[idBase, idBase+rows)`; global view shifts them to
    * `[off, off+rows)`. */
  private def toGlobal(seg: SegmentMeta, off: Long, d: DataFrame): DataFrame =
    if (off == seg.idBase) d
    else d.withColumn(Col, col(Col) + lit(off - seg.idBase))

  /** Parquet footer row count — metadata read only, no data pass. This is
    * the FALLBACK for segments whose manifest predates `fileRows`; the
    * counter lets tests assert normal mutations never come through here. */
  private def parquetRowCount(f: FileStatus): Long = {
    HDFTable.footerReads.incrementAndGet()
    graft.store.MetaIO.footer(spark.sparkContext.hadoopConfiguration, f)(_.getRecordCount)
  }

  /** Split a directory run into one run PER PARQUET FILE (row counts from
    * the manifest's `fileRows` — recorded at write time — with id bases by
    * prefix sum; file order by task, then counter,
    * [[HDFStore.inIdOrder]], is partition order is id order for our
    * sorted writes). This is what makes mutations file-granular: only
    * files intersecting the mutated range rewrite; every other file keeps
    * its bytes and its stored ids. One directory listing, NO per-file
    * footer reads; segments predating `fileRows` (e.g. cross-store copies
    * of old data) fall back to footers once — their rewrite re-records.
    * Falls back to the whole run if counts disagree with reality (safety).
    * Each run comes with the parquet files it reads. */
  private def fileRuns(seg: SegmentMeta): Vector[(SegmentMeta, Seq[FileStatus])] = {
    val p = new Path(store.rootPath, seg.dir)
    val st = store.fs.getFileStatus(p)
    if (st.isFile) return Vector(seg -> Seq(st))
    val files = HDFStore.inIdOrder(store.fs.listStatus(p).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))).toVector
    if (files.length <= 1) return Vector(seg -> files)
    val counts: Vector[Long] =
      if (seg.fileRows.size == files.length) seg.fileRows
      else files.map(parquetRowCount)
    var base = seg.idBase
    val runs = files.zip(counts).map { case (f, rows) =>
      val sm = SegmentMeta(seg.dir + "/" + f.getPath.getName, rows, base)
      base += rows
      sm -> Seq(f)
    }
    if (base - seg.idBase == seg.rows) runs.filter(_._1.rows > 0) else Vector(seg -> files)
  }

  /** Segment list with every run intersecting `[a, b]` refined to file
    * granularity; untouched runs pass through unchanged. */
  private def refineIntersecting(a: Long, b: Long): Vector[SegmentMeta] = {
    val m = meta
    m.segments.zip(m.offsets).flatMap { case (seg, off) =>
      val hi = off + seg.rows - 1
      if (hi < a || off > b) Vector(seg) else fileRuns(seg).map(_._1)
    }.toVector
  }

  private def offsetsOf(segs: Vector[SegmentMeta]): Vector[Long] =
    segs.scanLeft(0L)(_ + _.rows).init

  /** Above this many segments, [[df]] switches from a per-segment union to
    * ONE multi-path parquet relation + a broadcast (run → id-shift) join:
    * a union of N single-dir relations costs O(N) in the analyzer plus N
    * scan nodes and N listings, which dominates read latency after heavy
    * micro-append (e.g. streaming) ingest. Below it, the plain union keeps
    * the simplest possible plan. */
  private val MultiPathSegments = 32

  /** Full-table view with the GLOBAL `_rowid` column. Lazy; no I/O here. */
  def df: DataFrame = {
    val m = meta
    if (m.segments.isEmpty) return emptyDf(withRowId = true)
    multiPathRead(m.segments, m.offsets).getOrElse {
      m.segments.zip(m.offsets).map { case (seg, off) =>
        toGlobal(seg, off, segDf(seg))
      }.reduce(_ unionByName _)
    }
  }

  /** Flat multi-path scan over many runs with a broadcast per-run id
    * shift — O(1) plan size where a `unionByName` chain is O(#segments)
    * in analysis cost (the 1000-micro-append shape). Fast path needs
    * whole-dir runs with distinct dir names: the scanned file's parent
    * dir identifies its run (stored ids are continuous across the files
    * of one run, so the shift is per-run). None when inapplicable. */
  private def multiPathRead(segs: Vector[SegmentMeta],
                            offs: Seq[Long]): Option[DataFrame] = {
    val bases = segs.map(s => s.dir.substring(s.dir.lastIndexOf('/') + 1))
    if (segs.size > MultiPathSegments &&
        segs.forall(!_.dir.endsWith(".parquet")) &&
        bases.distinct.size == bases.size) {
      val paths = segs.map(s => new Path(store.rootPath, s.dir).toString)
      val raw = spark.read.schema(readSchema).parquet(paths: _*)
        .withColumn("_run", regexp_extract(col("_metadata.file_path"), "/([^/]+)/[^/]+$", 1))
      val shifts = bases.lazyZip(segs).lazyZip(offs).map {
        case (b, seg, off) => (b, off - seg.idBase)
      }
      val outCols = (schema.fields.map(_.name) :+ Col).map(col)
      Some(raw.join(broadcast(spark.createDataFrame(shifts).toDF("_run", "_shift")), "_run")
        .withColumn(Col, col(Col) + col("_shift"))
        .select(outCols: _*))
    } else None
  }

  /** Data columns only — ≙ full scan `toSeq` feeding composition. */
  def dataDf: DataFrame = df.drop(Col)

  private def emptyDf(withRowId: Boolean): DataFrame = {
    val s = if (withRowId) StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(Col, org.apache.spark.sql.types.LongType, false))
      else schema
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)
  }

  // ------------------------------------------------------------- reads

  private def checkBounds(a: Long, b: Long): Unit = {
    require(a >= 0 && b >= a, s"bad positional range [$a, $b]")
    require(b < nrows, s"range [$a, $b] out of bounds for $nrows rows (≙ nimtables.nim bounds assert)")
  }

  /** Inclusive positional slice `[a, b]` — ≙ `table[a..b]`
    * (`nimtables.nim:159-171`). Segment pruning happens HERE (driver-side
    * metadata); the rows are then read on the driver ([[driverRead]]),
    * or, above its bound, by a lazy Spark scan with the residual local
    * `BETWEEN` pushed to parquet.
    *
    * Snapshot: the segment list is resolved at call time either way, and
    * a driver read also reads the rows at call time, so its frame keeps
    * the rows of the call even after a later mutation and `vacuum(0)`,
    * and a missing file fails here, not at `collect`. A Spark-path frame
    * reads its files when it is collected. */
  def slice(a: Long, b: Long): DataFrame = {
    checkBounds(a, b)
    driverSlice(a, b).getOrElse(scanSlice(a, b))
  }

  /** [[slice]] in `_rowid` order: a driver read is built in that order,
    * so only the Spark path pays a sort. */
  private[graft] def sortedSlice(a: Long, b: Long): DataFrame = {
    checkBounds(a, b)
    driverSlice(a, b).getOrElse(scanSlice(a, b).sort(Col))
  }

  /** [[slice]] read on the driver, in `_rowid` order; `None` above the
    * bound. `[a, b]` must lie inside the table. */
  private[graft] def driverSlice(a: Long, b: Long): Option[DataFrame] =
    driverRead(a, b, None)(_ => true)

  /** The rows whose global `_rowid` lies in `[a, b]`, is one of `ids`
    * when given (sorted, distinct) and passes `keep`, read on the driver
    * by Spark's own parquet decoder ([[DriverParquet]]) into a
    * `LocalRelation` frame in `_rowid` order — no Spark job, at read or
    * at collect. Only the files whose id range meets the request are
    * opened, and their stored-id ranges (or id lists) are pushed to
    * row-group statistics and page indexes; the exact predicate is
    * re-applied per row. `None` — take the lazy Spark path — when more
    * than [[HDFTable.DriverReadRows]] rows are requested or the touched
    * files hold more than [[HDFTable.DriverReadBytes]] bytes. */
  private def driverRead(a: Long, b: Long, ids: Option[Array[Long]])
                        (keep: Long => Boolean): Option[DataFrame] = {
    if (ids.fold(b - a + 1)(_.length.toLong) > HDFTable.DriverReadRows) return None
    // does global [lo, hi] hold a requested row
    def wanted(lo: Long, hi: Long): Boolean = lo <= hi && ids.forall(HDFTable.idsIn(_, lo, hi).nonEmpty)
    val m = meta
    // (files, stored-id bounds, stored → global shift, stored ids) per touched run
    val touched = m.segments.zip(m.offsets).flatMap { case (seg, off) =>
      if (!wanted(math.max(a, off), math.min(b, off + seg.rows - 1))) Nil
      else {
        val shift = off - seg.idBase
        fileRuns(seg).flatMap { case (run, files) =>
          val lo = math.max(a, run.idBase + shift)
          val hi = math.min(b, run.idBase + shift + run.rows - 1)
          if (!wanted(lo, hi)) None
          else Some((files, lo - shift, hi - shift, shift,
            ids.map(HDFTable.idsIn(_, lo, hi).map(_ - shift))))
        }
      }
    }
    if (touched.flatMap(_._1).map(_.getLen).sum > HDFTable.DriverReadBytes) return None
    val schema = asNullable(readSchema).asInstanceOf[StructType]
    val idx = schema.fieldIndex(Col)
    // one reader for all runs: it pushes the union of their stored-id
    // filters, and each run re-applies its own exact predicate
    val pushed = touched.map { case (_, lo, hi, _, inRun) =>
      inRun.fold[Filter](And(GreaterThanOrEqual(Col, lo), LessThanOrEqual(Col, hi)))(
        stored => In(Col, stored.map(i => i: Any)))
    }.reduceOption(Or)
    val read = DriverParquet.reader(spark, schema, pushed.toSeq)
    val rows = touched.flatMap { case (files, lo, hi, shift, inRun) =>
      files.flatMap(read(_, { r =>
        val s = r.getLong(idx)
        s >= lo && s <= hi &&
          inRun.forall(st => java.util.Arrays.binarySearch(st, s) >= 0) && keep(s + shift)
      })).map { r => r.setLong(idx, r.getLong(idx) + shift); r }
    }.sortBy(_.getLong(idx))
    Some(DriverParquet.frame(spark, schema, rows))
  }

  /** [[slice]] as a lazy Spark scan: one parquet relation per touched
    * run, the local `_rowid` range pushed to parquet. */
  private[graft] def scanSlice(a: Long, b: Long): DataFrame = {
    val m = meta
    val parts = m.segments.zip(m.offsets).flatMap { case (seg, off) =>
      val hi = off + seg.rows - 1
      if (hi < a || off > b) None
      else {
        val la = math.max(a, off) - off // run-relative range
        val lb = math.min(b, hi) - off
        val base = segDf(seg)
        val filtered = if (la == 0 && lb == seg.rows - 1) base
          else base.filter(col(Col).between(la + seg.idBase, lb + seg.idBase))
        Some(toGlobal(seg, off, filtered))
      }
    }
    if (parts.isEmpty) emptyDf(withRowId = true)
    else parts.reduce(_ unionByName _)
  }

  /** Point read `table[i]` (`nimtables.nim:149-157`). */
  def point(i: Long): DataFrame = slice(i, i)

  /** Backwards index `table[^i]` resolves against the cached row count. */
  def fromEnd(i: Long): DataFrame = point(nrows - i)

  /** Strided positional selection — the 1-D hyperslab
    * (offset/count/stride/block) of `read_hyperslab`
    * (`nimhdf5/datasets.nim:1601-1645`) on the record dimension, expressed
    * as a pure pushdown-friendly predicate (SURVEY §2.2 P4). A driver
    * read ([[slice]]) applies the stride on the driver. */
  def hyperslab(offset: Long, count: Long, stride: Long, block: Long): DataFrame = {
    require(offset >= 0 && count > 0 && stride >= 1 && block >= 1 && block <= stride,
      s"bad hyperslab off=$offset count=$count stride=$stride block=$block")
    val last = offset + (count - 1) * stride + block - 1
    checkBounds(offset, last)
    driverRead(offset, last, None)(i => (i - offset) % stride < block).getOrElse {
      val rel = col(Col) - lit(offset)
      scanSlice(offset, last).filter(rel % lit(stride) < lit(block))
    }
  }

  /** Strided positional WRITE — the record-dimension counterpart of
    * [[hyperslab]], covering the reference's VLEN hyperslab-write branch
    * (`nimhdf5/datasets.nim:1468-1504`): VLEN (array) columns ride the
    * same positional-update path as scalars. `values` carries a 0-based
    * selection position `pos` (row-major over the slab, `0 until
    * count*block`) plus FULL replacement data columns; the position
    * arithmetic maps each pos to its global `_rowid` distributed, then
    * [[applyUpdates]] checks the count and rewrites only the intersecting
    * file runs (file-granular copy-on-write) from one evaluation of the
    * input. */
  def writeHyperslab(offset: Long, count: Long, stride: Long, block: Long,
                     values: DataFrame): Unit = {
    store.checkWritable()
    require(offset >= 0 && count > 0 && stride >= 1 && block >= 1 && block <= stride,
      s"bad hyperslab off=$offset count=$count stride=$stride block=$block")
    val last = offset + (count - 1) * stride + block - 1
    checkBounds(offset, last)
    val dataCols = schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name))
    applyUpdates(values.select(
      (lit(offset) + expr(s"pos div $block") * lit(stride) + expr(s"pos % $block"))
        .cast(LongType).as(Col) +: dataCols: _*), Some(count * block))
  }

  /** Coordinate-list selection ≙ `select_elements` reads
    * (`nimhdf5/datasets.nim:806-860`). Small lists are read on the driver
    * from the files that hold them ([[slice]]'s read and snapshot rule),
    * else inline into an `IN` predicate (pushed to parquet); large ones
    * become a broadcast semi-join so the driver never ships a huge
    * literal. */
  def selectRows(ids: Seq[Long]): DataFrame = {
    ids.foreach(i => checkBounds(i, i))
    val distinctIds = ids.distinct // set semantics on BOTH paths
    if (distinctIds.size <= 1000) {
      val sorted = distinctIds.sorted.toArray
      sorted.headOption.flatMap(lo => driverRead(lo, sorted.last, Some(sorted))(_ => true))
        .getOrElse(df.filter(col(Col).isin(distinctIds: _*)))
    } else {
      val idsDf = broadcast(
        spark.createDataset(distinctIds)(org.apache.spark.sql.Encoders.scalaLong).toDF(Col))
      df.join(idsDf, Col)
    }
  }

  /** Column projection ≙ `H5TBread_fields_name`
    * (`nimhdf5/hl/H5TBpublic.nim:54-81`) — Catalyst prunes the parquet
    * scan to exactly these columns. */
  def select(cols: String*): DataFrame = df.select((Col +: cols).map(col): _*)

  /** Type-converting read ≙ `readAs` (`nimhdf5/datasets.nim:922-971`). */
  def readAs(colName: String, t: DataType): DataFrame =
    df.select(col(Col), col(colName).cast(t).as(colName))

  // ------------------------------------------------------------- writes

  /** Assign dense local ids to incoming rows. If the data carries a
    * `_rowid` column (e.g. the output of a positional read), that column
    * defines the order EXPLICITLY — a multi-file scan's partition order is
    * NOT file order (Spark packs splits by size), so relying on read
    * order would scramble positions. Without `_rowid`, the DataFrame's
    * own deterministic partition order is the contract (createDataset /
    * freshly sorted inputs). A local frame gets its ids, and its sort,
    * on the driver ([[RowIds]]), and stays a `LocalRelation` frame. */
  private def withLocalIds(data: DataFrame): DataFrame =
    if (data.columns.contains(Col)) RowIds.attach(conform(RowIds.sorted(data).drop(Col)))
    else RowIds.attach(conform(data))

  private def swapSegments(newSegs: Vector[SegmentMeta]): Unit = {
    val b = baseName
    store.manifest.tables += b ->
      store.manifest.tables(b).copy(segments = newSegs.filter(_.rows > 0))
    store.commit()
  }

  /** Rewrite `rows` rows as one sorted segment. The mutation callers
    * rewrite ONE refined file-run (file-granular mutation contract), so
    * the total order by _rowid comes from an in-task sort of that run:
    * coalesce(1) + sortWithinPartitions writes the same rows in the same
    * order as a global .sort(Col) but skips its range-partitioner
    * SAMPLING pass and the range exchange — two jobs and a shuffle per
    * rewritten run, at parallelism the single output run could not use
    * anyway (maxRecordsPerFile still splits oversize runs into chunk
    * files sequentially, order preserved).
    *
    * SIZE-ADAPTIVE: the in-task sort is only taken while the rewrite
    * stays a few chunk files' worth of rows — [[compactSmallRuns]] can
    * merge a whole segment GROUP (the 1000-micro-append shape), and at
    * scale funneling that through ONE task would serialize compaction;
    * past the bound the global range sort keeps its full parallelism.
    * Every caller knows `rows` exactly from the manifest (SegmentMeta
    * row counts), so the guard costs no counting job. */
  private def writeSorted(d: DataFrame, rows: Long): SegmentMeta = {
    val m = meta
    val chunk = m.chunkSize.orElse(store.defaultChunkSize)
      .getOrElse(1L << 20)
    val sorted =
      if (rows <= 4L * chunk) d.coalesce(1).sortWithinPartitions(Col)
      else d.sort(Col)
    store.writeSegment(baseName, conform(sorted), m.chunkSize, m.codec)
  }

  /** Append ≙ `append` (`nimtables.nim:173-175`): one new segment, nothing
    * rewritten, all earlier data untouched. */
  def append(data: DataFrame): Unit = appendWithAttr(data, None)

  /** Append + attribute update in ONE atomic manifest commit — the
    * streaming sink's exactly-once hinge: the data and its replay-guard
    * watermark become visible together or not at all. No rows leave no
    * segment, and nothing commits unless a segment or the attribute
    * changed. */
  private[graft] def appendWithAttr(data: DataFrame, attr: Option[(String, Any)]): Unit = {
    store.checkWritable()
    val m = meta
    val added = newSegment(withLocalIds(data), m)
    val cur = store.manifest.attrs.getOrElse(name, Map.empty)
    val attrs = attr.map { case (k, v) => cur + (k -> graft.store.AttrValue.of(v)) }.filter(_ != cur)
    if (added.nonEmpty || attrs.nonEmpty) {
      val b = baseName
      store.manifest.tables += b -> store.manifest.tables(b).copy(segments = m.segments ++ added)
      attrs.foreach(a => store.manifest.attrs += name -> a)
      store.commit()
    }
  }

  /** `ided` written as a new, uncommitted segment; `None` when it holds
    * no rows: a local frame writes nothing, and the empty segment of a
    * distributed one is deleted. */
  private def newSegment(ided: DataFrame, m: TableMeta): Option[SegmentMeta] =
    if (RowIds.localRows(ided).exists(_.isEmpty)) None
    else {
      val seg = store.writeSegment(baseName, ided, m.chunkSize, m.codec)
      if (seg.rows == 0) store.fs.delete(new Path(store.rootPath, seg.dir), true)
      Some(seg).filter(_.rows > 0)
    }

  /** Append + arbitrary catalog-entry update in ONE atomic manifest
    * commit — e.g. an N-D shape bump rides the same commit as its data, so
    * a crash can't leave appended rows visible beyond the recorded shape.
    * `expectRows` validates the block's size BEFORE the commit: for a
    * local frame before any file is written, otherwise after the write
    * (a failed check leaves only an unreferenced segment dir for vacuum). */
  private[graft] def appendWithMeta(data: DataFrame, expectRows: Option[Long],
                                    metaFn: TableMeta => TableMeta): Unit = {
    store.checkWritable()
    val ided = withLocalIds(data)
    for (rows <- RowIds.localRows(ided); n <- expectRows)
      require(rows.size == n, s"append block has ${rows.size} rows, expected $n")
    val seg = store.writeSegment(baseName, ided, meta.chunkSize, meta.codec)
    expectRows.foreach(n => require(seg.rows == n,
      s"append block has ${seg.rows} rows, expected $n"))
    val b = baseName
    store.manifest.tables += b ->
      metaFn(store.manifest.tables(b).copy(
        segments = (meta.segments :+ seg).filter(_.rows > 0)))
    store.commit()
  }

  /** The one rewrite loop of every positional mutation: refine the runs
    * meeting global `[lo, hi]` to file runs, keep each run outside it or
    * rejected by `touches(off, end)`, replace every other by `f(run, off)`
    * (`None` drops it), and commit the list in one manifest swap. Later
    * runs shift by metadata alone. */
  private def rewriteRuns(lo: Long, hi: Long, touches: (Long, Long) => Boolean = (_, _) => true)
                         (f: (SegmentMeta, Long) => Option[SegmentMeta]): Unit = {
    val refined = refineIntersecting(lo, hi)
    swapSegments(refined.zip(offsetsOf(refined)).flatMap { case (seg, off) =>
      val end = off + seg.rows - 1
      if (end < lo || off > hi || !touches(off, end)) Some(seg) else f(seg, off)
    })
  }

  /** One file run rewritten as a new run of `rows` rows in id order: its
    * stored rows that `kept` keeps, their stored ids renumbered to
    * run-local ids by `renumber`, plus the `incoming` rows, already in
    * run-local ids. A written count other than `rows` (duplicate or
    * out-of-range incoming ids) fails before any commit. */
  private def rewriteRun(seg: SegmentMeta, rows: Long, incoming: Option[DataFrame] = None)
                        (kept: DataFrame => DataFrame, renumber: Column => Column): SegmentMeta = {
    val stored = kept(segDf(seg)).withColumn(Col, renumber(col(Col)))
    val written = writeSorted(incoming.fold(stored)(stored.unionByName(_)), rows)
    if (written.rows != rows) throw new IllegalStateException(
      s"rewrite of ${seg.dir} wrote ${written.rows} rows, expected $rows (duplicate or out-of-range ids?)")
    written
  }

  /** `f` of `d` and a summary of its `_rowid`s. Rows on the driver are
    * summarized there, with no job; any other frame is pinned, summarized
    * in one pass, and read from the pin by `f`, so it is evaluated once. */
  private def withIds[T](d: DataFrame)(f: (DataFrame, HDFTable.IdSummary) => T): T =
    RowIds.localRows(d) match {
      case Some(rows) =>
        val i = d.schema.fieldIndex(Col)
        f(d, HDFTable.scanIds(rows.iterator.map(_.getLong(i))))
      case None =>
        val pinned = d.cache()
        try f(pinned, HDFTable.merge(pinned.select(Col).queryExecution.toRdd
          .mapPartitions(rows => Iterator(HDFTable.scanIds(rows.map(_.getLong(0))))).collect().toSeq))
        finally pinned.unpersist()
    }

  /** Positional overwrite of the rows of `data` starting at `at` —
    * ≙ `table[i] = rec` / `table[a..b] = recs` (`nimtables.nim:177-200`):
    * [[applyUpdates]] of `data` with ids counted from `at`. */
  def update(at: Long, data: DataFrame): Unit = {
    store.checkWritable()
    applyUpdates(withLocalIds(data).withColumn(Col, col(Col) + lit(at)))
  }

  /** Scattered positional overwrite: `updates` carries a GLOBAL `_rowid`
    * plus full replacement data columns for an arbitrary id set — the
    * coordinate-list write (`H5Sselect_elements` writes,
    * `nimhdf5/datasets.nim:1167-1275`) generalized. Only the file runs
    * holding an updated id are rewritten; row counts are unchanged. */
  def applyUpdates(updates: DataFrame): Unit = applyUpdates(updates, None)

  /** [[applyUpdates]], failing unless `updates` holds `expectRows` rows.
    * Each rewritten run drops the updated ids from its stored rows: a
    * range of them by `BETWEEN`; other ids, when at most
    * [[HDFTable.IdSetCap]], by an id list; only an unknown id set by an
    * anti-join. */
  private[graft] def applyUpdates(updates: DataFrame, expectRows: Option[Long]): Unit = {
    store.checkWritable()
    withIds(conform(updates)) { (u, ids) =>
      expectRows.foreach(n => require(ids.count == n, s"update set has ${ids.count} rows, expected $n"))
      for (s <- ids.sorted; i <- 1 until s.length)
        require(s(i) != s(i - 1), s"update set holds id ${s(i)} twice")
      if (ids.count > 0) {
        checkBounds(ids.lo, ids.hi)
        // with the ids known, only runs holding one are rewritten: the two
        // corners of an array must not rewrite its middle
        rewriteRuns(ids.lo, ids.hi, (off, end) => ids.sorted.forall(HDFTable.idsIn(_, off, end).nonEmpty)) {
          (seg, off) =>
            val end = off + seg.rows - 1
            val toStored = seg.idBase - off
            val incoming = u.filter(col(Col).between(off, end)).withColumn(Col, col(Col) - off)
            def range(a: Long, b: Long): DataFrame => DataFrame =
              _.filter(!col(Col).between(a + toStored, b + toStored))
            val drop: DataFrame => DataFrame = ids.sorted.map(HDFTable.idsIn(_, off, end)) match {
              case Some(in) if in.last - in.head + 1 == in.length => range(in.head, in.last)
              case Some(in) => _.filter(!col(Col).isInCollection(in.map(_ + toStored)))
              case None if ids.dense => range(math.max(ids.lo, off), math.min(ids.hi, end))
              case None => _.join(incoming.select((col(Col) + seg.idBase).as(Col)), Seq(Col), "left_anti")
            }
            Some(rewriteRun(seg, seg.rows, Some(incoming))(drop, _ - seg.idBase))
        }
      }
    }
  }

  /** Delete positional range `[a, b]` ≙ `delete(table, a..b)`
    * (`nimtables.nim:202-227`). Files fully inside vanish (metadata
    * only); boundary files are rewritten with a closed-form renumber
    * (`id > lb → id - removed`); all later runs shift implicitly. */
  def delete(a: Long, b: Long): Unit = {
    store.checkWritable()
    checkBounds(a, b)
    rewriteRuns(a, b) { (seg, off) =>
      val end = off + seg.rows - 1
      if (off >= a && end <= b) None // fully deleted FILE: no I/O at all
      else {
        val la = math.max(a, off) - off + seg.idBase // stored coordinates
        val lb = math.min(b, end) - off + seg.idBase
        val removed = lb - la + 1
        Some(rewriteRun(seg, seg.rows - removed)(_.filter(!col(Col).between(la, lb)),
          id => when(id > lb, id - removed).otherwise(id) - seg.idBase))
      }
    }
  }

  def delete(i: Long): Unit = delete(i, i)

  /** Insert rows at position `at` ≙ `insert(table, i, data)`
    * (`nimtables.nim:229-233`). Whether `at` is a file-run boundary
    * (incl. 0 and nrows) is read from the manifest before anything is
    * written. At a boundary the rows become one new segment spliced into
    * the list — PURE METADATA for every stored row; inside a file they
    * are spliced into the one rewrite of that file. No rows, no write. */
  def insert(at: Long, data: DataFrame): Unit = {
    store.checkWritable()
    require(at >= 0 && at <= nrows, s"insert position $at out of [0, $nrows]")
    val m = meta
    // refine around the insert point so a mid-SEGMENT insert that lands on
    // a FILE boundary is still pure metadata
    val segs = if (at == 0 || at == nrows) m.segments else refineIntersecting(at - 1, at)
    val offs = offsetsOf(segs)
    val ided = withLocalIds(data)
    segs.indices.find(i => offs(i) < at && at < offs(i) + segs(i).rows) match {
      case None =>
        newSegment(ided, m).foreach(seg => swapSegments(segs.patch(offs.count(_ < at), Seq(seg), 0)))
      case Some(i) =>
        val (seg, local) = (segs(i), at - offs(i))
        val from = local + seg.idBase
        withIds(ided) { (in, ids) =>
          if (ids.count > 0) swapSegments(segs.updated(i, rewriteRun(seg, seg.rows + ids.count,
            Some(in.withColumn(Col, col(Col) + local)))(identity,
            id => when(id >= from, id + ids.count).otherwise(id) - seg.idBase)))
        }
    }
  }

  /** Resize ≙ `resize`/`H5Dset_extent` (`nimhdf5/datasets.nim:1299-1336`):
    * shrink trims (mostly metadata); grow appends zero-filled records
    * (HDF5 extends with fill values). */
  def resizeTo(n: Long): Unit = {
    store.checkWritable()
    require(n >= 0, s"bad size $n")
    val cur = nrows
    if (n < cur) { if (n == 0) swapSegments(Vector.empty) else delete(n, cur - 1) }
    else if (n > cur) {
      val k = n - cur
      val zeros = spark.range(k).select(schema.fields.map { f =>
        zeroLit(f.dataType).cast(f.dataType).as(f.name)
      }: _*)
      append(zeros)
    }
  }

  private def zeroLit(t: DataType): Column = t match {
    case org.apache.spark.sql.types.StringType => lit("")
    case org.apache.spark.sql.types.BooleanType => lit(false)
    case org.apache.spark.sql.types.ArrayType(et, _) => array().cast(org.apache.spark.sql.types.ArrayType(et))
    case st: StructType => struct(st.fields.map(f => zeroLit(f.dataType).cast(f.dataType).as(f.name)): _*)
    case _: org.apache.spark.sql.types.NumericType => lit(0)
    case _ => lit(null)
  }

  /** Merge all segments into one (defragmentation after many mutations).
    * Not a reference operation; housekeeping for long-lived stores. */
  def compact(): Unit = {
    store.checkWritable()
    if (meta.segments.size > 1) {
      val all = df.sort(Col)
      val seg = store.writeSegment(baseName, all, meta.chunkSize, meta.codec)
      swapSegments(Vector(seg))
    }
  }

  /** Incremental compaction: bin-pack ADJACENT runs smaller than
    * `targetRows` into combined segments, leaving every large run's bytes
    * untouched. This is the maintenance pass for streaming ingest (many
    * small per-batch segments) — cost is proportional to the small-run
    * data only, unlike [[compact]] which rewrites the whole table. */
  def compactSmallRuns(targetRows: Long): Unit = {
    store.checkWritable()
    val m = meta
    // group adjacent small runs; groups of ≥2 get merged
    val groups = scala.collection.mutable.ArrayBuffer[Vector[SegmentMeta]]()
    var cur = Vector.empty[SegmentMeta]
    def flush(): Unit = { if (cur.nonEmpty) { groups += cur; cur = Vector.empty } }
    m.segments.foreach { seg =>
      if (seg.rows >= targetRows) { flush(); groups += Vector(seg) }
      else if (cur.map(_.rows).sum + seg.rows > targetRows) { flush(); cur = Vector(seg) }
      else cur :+= seg
    }
    flush()
    if (groups.forall(_.size == 1)) return
    val newSegs = groups.toVector.map { g =>
      if (g.size == 1) g.head
      else {
        // stitch the group with dense group-local ids (prefix sums);
        // many-segment groups (the 1000-micro-append compaction) go
        // through the flat multi-path scan — a unionByName chain here
        // cost O(group size) in ANALYSIS time (129 s for a 1000-segment
        // group, ~1.4 s multi-path)
        val offs = offsetsOf(g)
        val merged = multiPathRead(g, offs).getOrElse {
          g.zip(offs).map { case (seg, off) =>
            segDf(seg).withColumn(Col, col(Col) + lit(off - seg.idBase))
          }.reduce(_ unionByName _)
        }
        writeSorted(merged, g.map(_.rows).sum)
      }
    }
    swapSegments(newSegs)
  }
}

object HDFTable {
  /** Count of driver-side parquet-footer fallback reads (see
    * `parquetRowCount`) — test instrumentation for the "mutations are
    * footer-free" invariant. */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong(0)

  /** Most rows a positional read answers on the driver, and most rows of
    * a local frame a write takes ids for and writes on the driver — the
    * selection size below which `writeHyperslab` already runs as one task. */
  private[graft] val DriverReadRows = 65536L

  /** Most bytes of parquet files a driver-side positional read opens. */
  private[graft] val DriverReadBytes = 64L << 20

  /** Most bytes of local rows (as `UnsafeRow`s) a write takes ids for and
    * writes on the driver. One driver thread encodes what a Spark write
    * spreads over every core: on 4 cores, 8,192 rows of 40 doubles
    * (3 MB) put in 220 ms on the driver and 252 ms by Spark, and 65,536
    * such rows (24 MB) in 873 ms and 693 ms. */
  private[graft] val DriverWriteBytes = 4L << 20

  /** Most incoming ids a mutation keeps on the driver to drop them by an
    * id list and to rewrite only the runs that hold one. */
  private val IdSetCap = 100000

  /** The `_rowid`s of a mutation's incoming rows: their count, min and
    * max, whether they are known to be exactly `[lo, hi]`, and all of
    * them, sorted, when at most [[IdSetCap]]. */
  private[table] final case class IdSummary(count: Long, lo: Long, hi: Long, dense: Boolean,
                                            sorted: Option[Array[Long]])

  /** [[IdSummary]] of `ids` in one pass; dense means strictly ascending
    * without a gap, as `RowIds.attach` numbers each partition. */
  private def scanIds(ids: Iterator[Long]): IdSummary = {
    var (n, lo, hi, ascending) = (0L, Long.MaxValue, Long.MinValue, true)
    val kept = Array.newBuilder[Long]
    ids.foreach { i =>
      if (n < IdSetCap) kept += i
      ascending &&= n == 0 || i > hi
      lo = math.min(lo, i); hi = math.max(hi, i); n += 1
    }
    IdSummary(n, lo, hi, ascending && hi - lo + 1 == n,
      if (n <= IdSetCap) Some(kept.result().sorted) else None)
  }

  /** One [[IdSummary]] of the per-partition summaries `parts`: dense when
    * every part is and they abut. */
  private def merge(parts: Seq[IdSummary]): IdSummary = {
    val live = parts.filter(_.count > 0).sortBy(_.lo)
    val n = live.map(_.count).sum
    IdSummary(n, live.headOption.fold(0L)(_.lo), live.map(_.hi).maxOption.getOrElse(-1L),
      live.forall(_.dense) && live.zip(live.drop(1)).forall { case (p, q) => p.hi + 1 == q.lo },
      if (n <= IdSetCap) Some(live.flatMap(_.sorted.get).toArray.sorted) else None)
  }

  /** The ids of `s` (sorted, distinct) that lie in `[a, b]`. */
  private def idsIn(s: Array[Long], a: Long, b: Long): Array[Long] = {
    def from(x: Long) = { val i = java.util.Arrays.binarySearch(s, x); if (i >= 0) i else -i - 1 }
    s.slice(from(a), from(b + 1))
  }
}

/**
 * Case-class-typed surface over [[HDFTable]] — ≙ the reference's
 * `HDFTable[T]` API (`store[name, T]`, `toSeq`, `table[i]`, `table[a..b]`,
 * `table[^i]`, append/update/insert/delete, `nrows`). The Encoder schema
 * was already validated against the stored layout on open.
 */
final class TypedTable[T <: Product](val table: HDFTable)(implicit enc: Encoder[T]) {
  import RowIds.Col
  private def spark = table.store.spark
  private val fieldCols = enc.schema.fieldNames.toSeq

  def nrows: Long = table.nrows

  /** Lazy typed dataset in positional order is not guaranteed without a
    * sort; use [[toSeq]] for ordered driver materialization. */
  def ds: Dataset[T] = table.dataDf.selectExpr(fieldCols: _*).as[T](enc)

  /** Rows of `d`, already in `_rowid` order, as `T`s. */
  private def decode(d: DataFrame): Seq[T] =
    d.selectExpr(fieldCols: _*).as[T](enc).collect().toSeq

  /** Full scan ≙ `toSeq` (`nimtables.nim:140-147`). */
  def toSeq: Seq[T] = decode(table.df.sort(Col))

  /** `table[i]` */
  def apply(i: Long): T = apply(i, i).head
  /** `table[a..b]` (inclusive) */
  def apply(a: Long, b: Long): Seq[T] = decode(table.sortedSlice(a, b))
  def apply(r: Range): Seq[T] = { require(r.step == 1 && r.isInclusive); apply(r.start.toLong, r.end.toLong) }
  /** `table[^i]` — i-th from the end, 1-based like Nim's BackwardsIndex. */
  def fromEnd(i: Long): T = apply(nrows - i)
  def last: T = fromEnd(1)

  private def toDF(rows: Seq[T]): DataFrame = spark.createDataset(rows)(enc).toDF()

  def append(rows: Seq[T]): Unit = table.append(toDF(rows))
  /** `table[i] = rec` */
  def update(i: Long, rec: T): Unit = table.update(i, toDF(Seq(rec)))
  /** `table[a..] = recs` */
  def update(a: Long, recs: Seq[T]): Unit = table.update(a, toDF(recs))
  /** `table[^i] = rec` */
  def updateFromEnd(i: Long, rec: T): Unit = update(nrows - i, rec)
  def insert(at: Long, recs: Seq[T]): Unit = table.insert(at, toDF(recs))
  def delete(i: Long): Unit = table.delete(i)
  def delete(a: Long, b: Long): Unit = table.delete(a, b)
  def deleteFromEnd(i: Long): Unit = delete(nrows - i)
}
