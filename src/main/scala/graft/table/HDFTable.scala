package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge.asNullable
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
 *  - point/slice read (`nimtables.nim:149-171`): only segments overlapping
 *    the range are read, with a local `_rowid BETWEEN` filter pushed to
 *    parquet row-group stats — the analog of `H5TBread_records` walking the
 *    chunk B-tree.
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
  private def parquetRowCount(p: Path): Long = {
    HDFTable.footerReads.incrementAndGet()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(p, spark.sparkContext.hadoopConfiguration)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Split a directory run into one run PER PARQUET FILE (row counts from
    * the manifest's `fileRows` — recorded at write time — with id bases by
    * prefix sum; file name order is partition order is id order for our
    * sorted writes). This is what makes mutations file-granular: only
    * files intersecting the mutated range rewrite; every other file keeps
    * its bytes and its stored ids. One directory listing, NO per-file
    * footer reads; segments predating `fileRows` (e.g. cross-store copies
    * of old data) fall back to footers once — their rewrite re-records.
    * Falls back to the whole run if counts disagree with reality (safety). */
  private def fileRuns(seg: SegmentMeta): Vector[SegmentMeta] = {
    val p = new Path(store.rootPath, seg.dir)
    if (store.fs.getFileStatus(p).isFile) return Vector(seg)
    val files = store.fs.listStatus(p)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName)
    if (files.length <= 1) return Vector(seg)
    val counts: Vector[Long] =
      if (seg.fileRows.size == files.length) seg.fileRows
      else files.toVector.map(f => parquetRowCount(f.getPath))
    var base = seg.idBase
    val runs = files.toVector.zip(counts).map { case (f, rows) =>
      val sm = SegmentMeta(seg.dir + "/" + f.getPath.getName, rows, base)
      base += rows
      sm
    }
    if (base - seg.idBase == seg.rows) runs.filter(_.rows > 0) else Vector(seg)
  }

  /** Segment list with every run intersecting `[a, b]` refined to file
    * granularity; untouched runs pass through unchanged. */
  private def refineIntersecting(a: Long, b: Long): Vector[SegmentMeta] = {
    val m = meta
    m.segments.zip(m.offsets).flatMap { case (seg, off) =>
      val hi = off + seg.rows - 1
      if (hi < a || off > b) Vector(seg) else fileRuns(seg)
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
    * metadata), then the residual local `BETWEEN` is pushed to parquet. */
  def slice(a: Long, b: Long): DataFrame = {
    checkBounds(a, b)
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
    * as a pure pushdown-friendly predicate (SURVEY §2.2 P4). */
  def hyperslab(offset: Long, count: Long, stride: Long, block: Long): DataFrame = {
    require(offset >= 0 && count > 0 && stride >= 1 && block >= 1 && block <= stride,
      s"bad hyperslab off=$offset count=$count stride=$stride block=$block")
    val last = offset + (count - 1) * stride + block - 1
    checkBounds(offset, last)
    val rel = col(Col) - lit(offset)
    slice(offset, last)
      .filter(rel % lit(stride) < lit(block))
  }

  /** Strided positional WRITE — the record-dimension counterpart of
    * [[hyperslab]], covering the reference's VLEN hyperslab-write branch
    * (`nimhdf5/datasets.nim:1468-1504`): VLEN (array) columns ride the
    * same positional-update path as scalars. `values` carries a 0-based
    * selection position `pos` (row-major over the slab, `0 until
    * count*block`) plus FULL replacement data columns; the position
    * arithmetic maps each pos to its global `_rowid` distributed, then
    * [[applyUpdates]] rewrites only intersecting segments (file-granular
    * copy-on-write). The input is pinned so count-validation and the
    * update read one evaluation. */
  def writeHyperslab(offset: Long, count: Long, stride: Long, block: Long,
                     values: DataFrame): Unit = {
    store.checkWritable()
    require(offset >= 0 && count > 0 && stride >= 1 && block >= 1 && block <= stride,
      s"bad hyperslab off=$offset count=$count stride=$stride block=$block")
    val last = offset + (count - 1) * stride + block - 1
    checkBounds(offset, last)
    val total = count * block
    // size-adaptive parallelism: the selection size is known exactly, so
    // a 20-row slab write must not fan its validation count + update
    // passes into one near-empty task per core
    val sized =
      if (total <= 65536L) values.coalesce(1) else values
    val pinned = sized.cache()
    try {
      require(pinned.count() == total, s"writeHyperslab: selection has $total rows")
      val dataCols = schema.fields.toSeq.map(f => col(f.name).cast(f.dataType).as(f.name))
      val withId = pinned.select(
        (lit(offset) + expr(s"pos div $block") * lit(stride) + expr(s"pos % $block"))
          .cast(org.apache.spark.sql.types.LongType).as(Col) +: dataCols: _*)
      applyUpdates(withId)
    } finally pinned.unpersist()
  }

  /** Coordinate-list selection ≙ `select_elements` reads
    * (`nimhdf5/datasets.nim:806-860`). Small lists inline into an `IN`
    * predicate (pushed to parquet); large ones become a broadcast
    * semi-join so the driver never ships a huge literal. */
  def selectRows(ids: Seq[Long]): DataFrame = {
    ids.foreach(i => checkBounds(i, i))
    val distinctIds = ids.distinct // set semantics on BOTH paths
    if (distinctIds.size <= 1000) df.filter(col(Col).isin(distinctIds: _*))
    else {
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
    * freshly sorted inputs). */
  private def withLocalIds(data: DataFrame): DataFrame =
    if (data.columns.contains(Col)) RowIds.attach(conform(data.sort(Col).drop(Col)))
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
    * watermark become visible together or not at all. */
  private[graft] def appendWithAttr(data: DataFrame, attr: Option[(String, Any)]): Unit = {
    store.checkWritable()
    val seg = store.writeSegment(baseName, withLocalIds(data), meta.chunkSize, meta.codec)
    val b = baseName
    store.manifest.tables += b ->
      store.manifest.tables(b).copy(segments = (meta.segments :+ seg).filter(_.rows > 0))
    attr.foreach { case (k, v) =>
      val cur = store.manifest.attrs.getOrElse(name, Map.empty)
      store.manifest.attrs += name -> (cur + (k -> graft.store.AttrValue.of(v)))
    }
    store.commit()
  }

  /** Append + arbitrary catalog-entry update in ONE atomic manifest
    * commit — e.g. an N-D shape bump rides the same commit as its data, so
    * a crash can't leave appended rows visible beyond the recorded shape.
    * `expectRows` validates the block's size BEFORE the commit (a failed
    * check leaves only an unreferenced segment dir for vacuum). */
  private[graft] def appendWithMeta(data: DataFrame, expectRows: Option[Long],
                                    metaFn: TableMeta => TableMeta): Unit = {
    store.checkWritable()
    val seg = store.writeSegment(baseName, withLocalIds(data), meta.chunkSize, meta.codec)
    expectRows.foreach(n => require(seg.rows == n,
      s"append block has ${seg.rows} rows, expected $n"))
    val b = baseName
    store.manifest.tables += b ->
      metaFn(store.manifest.tables(b).copy(
        segments = (meta.segments :+ seg).filter(_.rows > 0)))
    store.commit()
  }

  /** Positional overwrite of `k = data.count` rows starting at `at` —
    * ≙ `table[i] = rec` / `table[a..b] = recs` (`nimtables.nim:177-200`).
    * Only segments intersecting `[at, at+k)` are rewritten. */
  def update(at: Long, data: DataFrame): Unit = {
    store.checkWritable()
    val repl = withLocalIds(data).withColumn(Col, col(Col) + lit(at)).cache()
    val k = repl.count()
    if (k == 0) { repl.unpersist(); return }
    val b = at + k - 1
    checkBounds(at, b)
    val refined = refineIntersecting(at, b)
    val newSegs = refined.zip(offsetsOf(refined)).map { case (seg, off) =>
      val hi = off + seg.rows - 1
      if (hi < at || off > b) seg
      else {
        val la = math.max(at, off) - off
        val lb = math.min(b, hi) - off
        val kept = segDf(seg)
          .filter(!col(Col).between(la + seg.idBase, lb + seg.idBase))
          .withColumn(Col, col(Col) - lit(seg.idBase))
        val incoming = repl.filter(col(Col).between(off + la, off + lb))
          .withColumn(Col, col(Col) - lit(off))
        writeSorted(kept.unionByName(incoming), seg.rows)
      }
    }.toVector
    repl.unpersist()
    swapSegments(newSegs)
  }

  /** Scattered positional overwrite: `updates` carries a GLOBAL `_rowid`
    * plus full replacement data columns for an arbitrary id set — the
    * coordinate-list write (`H5Sselect_elements` writes,
    * `nimhdf5/datasets.nim:1167-1275`) generalized. Only segments whose id
    * range intersects the update set are rewritten (anti-join + union);
    * row counts are unchanged. */
  def applyUpdates(updates: DataFrame): Unit = {
    store.checkWritable()
    val u = updates.cache()
    try {
      val mm = u.agg(min(col(Col)), max(col(Col))).collect()(0)
      if (mm.isNullAt(0)) return
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      checkBounds(lo, hi)
      // Exact per-run touch test when the update set is small (the common
      // coordinate-write case): a bounding-box test alone would rewrite
      // every run between min and max id — e.g. updating the two corners
      // of an array must NOT rewrite the middle.
      val idSetCap = 100000
      val sampled = u.select(Col).limit(idSetCap + 1).collect().map(_.getLong(0))
      val exactIds: Option[Array[Long]] =
        if (sampled.length <= idSetCap) Some(sampled.sorted) else None
      def touches(off: Long, segHi: Long): Boolean = exactIds match {
        case Some(ids) =>
          val i = java.util.Arrays.binarySearch(ids, off)
          val from = if (i >= 0) i else -i - 1
          from < ids.length && ids(from) <= segHi
        case None => true // fall back to bounding box
      }
      val refined = refineIntersecting(lo, hi)
      val newSegs = refined.zip(offsetsOf(refined)).map { case (seg, off) =>
        val segHi = off + seg.rows - 1
        if (segHi < lo || off > hi || !touches(off, segHi)) seg
        else {
          val local = u.filter(col(Col).between(off, segHi))
            .withColumn(Col, col(Col) - lit(off))
          val base = segDf(seg).withColumn(Col, col(Col) - lit(seg.idBase))
          val kept = base.join(local.select(Col), Seq(Col), "left_anti")
          val rewritten = writeSorted(kept.unionByName(conform(local)), seg.rows)
          if (rewritten.rows != seg.rows)
            throw new IllegalStateException(
              s"coordinate update changed segment row count ${seg.rows} -> ${rewritten.rows} (duplicate or out-of-range ids?)")
          rewritten
        }
      }.toVector
      swapSegments(newSegs)
    } finally u.unpersist()
  }

  /** Delete positional range `[a, b]` ≙ `delete(table, a..b)`
    * (`nimtables.nim:202-227`). Segments fully inside vanish (metadata
    * only); boundary segments are rewritten with a closed-form renumber
    * (`id > lb → id - removed`); all later segments shift implicitly. */
  def delete(a: Long, b: Long): Unit = {
    store.checkWritable()
    checkBounds(a, b)
    val refined = refineIntersecting(a, b)
    val newSegs = refined.zip(offsetsOf(refined)).flatMap { case (seg, off) =>
      val hi = off + seg.rows - 1
      if (hi < a || off > b) Some(seg)
      else if (off >= a && hi <= b) None // fully deleted FILE: no I/O at all
      else {
        val la = math.max(a, off) - off + seg.idBase // stored coordinates
        val lb = math.min(b, hi) - off + seg.idBase
        val removed = lb - la + 1
        val kept = segDf(seg).filter(!col(Col).between(la, lb))
          .withColumn(Col,
            when(col(Col) > lb, col(Col) - removed).otherwise(col(Col)) - lit(seg.idBase))
        Some(writeSorted(kept, seg.rows - removed))
      }
    }.toVector
    swapSegments(newSegs)
  }

  def delete(i: Long): Unit = delete(i, i)

  /** Insert rows at position `at` ≙ `insert(table, i, data)`
    * (`nimtables.nim:229-233`). An insert at a segment boundary (incl. 0
    * and nrows) is PURE METADATA — a new segment spliced into the list;
    * mid-segment inserts rewrite exactly one segment. */
  def insert(at: Long, data: DataFrame): Unit = {
    store.checkWritable()
    require(at >= 0 && at <= nrows, s"insert position $at out of [0, $nrows]")
    val m = meta
    val newSeg = store.writeSegment(baseName, withLocalIds(data), m.chunkSize, m.codec)
    if (newSeg.rows == 0) return
    // refine around the insert point so a mid-SEGMENT insert that lands on
    // a FILE boundary is still pure metadata
    val segs = if (at == 0 || at == nrows) m.segments
      else refineIntersecting(math.max(at - 1, 0), at)
    val offs = offsetsOf(segs)
    val boundaryIdx = segs.indices.find(i => offs(i) == at)
      .orElse(if (at == nrows) Some(segs.size) else None)
    boundaryIdx match {
      case Some(i) =>
        swapSegments((segs.take(i) :+ newSeg) ++ segs.drop(i))
      case None =>
        val i = segs.indices.find(j => offs(j) < at && at <= offs(j) + segs(j).rows - 1).get
        val seg = segs(i); val off = offs(i)
        val local = at - off
        val k = newSeg.rows
        val shifted = segDf(seg).withColumn(Col,
          when(col(Col) >= local + seg.idBase, col(Col) + k).otherwise(col(Col)) - lit(seg.idBase))
        val incoming = segDf(newSeg).withColumn(Col, col(Col) + lit(local))
        val rewritten = writeSorted(shifted.unionByName(incoming),
          seg.rows + newSeg.rows)
        swapSegments((segs.take(i) :+ rewritten) ++ segs.drop(i + 1))
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
        val offs = g.scanLeft(0L)(_ + _.rows).init
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

  private def decode(d: DataFrame): Seq[T] =
    d.sort(Col).selectExpr(fieldCols: _*).as[T](enc).collect().toSeq

  /** Full scan ≙ `toSeq` (`nimtables.nim:140-147`). */
  def toSeq: Seq[T] = decode(table.df)

  /** `table[i]` */
  def apply(i: Long): T = decode(table.point(i)).head
  /** `table[a..b]` (inclusive) */
  def apply(a: Long, b: Long): Seq[T] = decode(table.slice(a, b))
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
