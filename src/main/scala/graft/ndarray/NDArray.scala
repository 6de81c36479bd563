package graft.ndarray

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.store.HDFStore
import graft.table.{HDFTable, RowIds}

/**
 * N-dimensional dataset facade — the Spark re-expression of nimhdf5's
 * generic dataset layer (`nimhdf5/datasets.nim`). An N-D array of scalars
 * is stored as a positional table of `(i0…iN-1, value)` rows in row-major
 * order, so the table `_rowid` IS the linearized index:
 * `rowid = i0*stride0 + i1*stride1 + …`. That identity makes every HDF5
 * selection mode a pushdown-friendly predicate or a positional table op:
 *
 *  - hyperslab offset/count/stride/block (`datasets.nim:1371-1645`) →
 *    per-dimension arithmetic predicates (SURVEY §2.2 P4) — no custom
 *    Catalyst node, Catalyst pushes them to parquet;
 *  - coordinate-list select (`datasets.nim:806-920`) → OR-of-points
 *    predicate (small) or broadcast join (large);
 *  - coordinate write (`datasets.nim:1167-1275`) → positional
 *    [[HDFTable.applyUpdates]] on linearized ids;
 *  - `add` along axis 0 (`datasets.nim:1338-1369`) → pure segment append;
 *  - `readAs` cast (`datasets.nim:922-971`) → `cast`.
 *
 * Scale: the row-major layout range-partitions on `_rowid`, so a
 * hyperslab over a 100 TB array prunes to the parquet row groups whose
 * linear-index ranges intersect the slab.
 */
final class NDArray private[ndarray] (
    val store: HDFStore, val name: String, val table: HDFTable) {

  def shape: Vector[Long] = store.resolved(name).shape
  def maxShape: Vector[Long] = store.resolved(name).maxShape
  def rank: Int = shape.size

  private def dimCols: Seq[String] = (0 until rank).map(i => s"i$i")

  /** Row-major strides for the current shape. */
  private def strides: Vector[Long] =
    shape.scanRight(1L)(_ * _).tail

  /** Size-adaptive partition count for an n-element relation: ~64k
    * elements per task up to the session's parallelism — a tiny write
    * must not fan out into one near-empty task per core, a huge one
    * keeps every core busy. */
  private def adaptiveParts(n: Long): Int =
    math.max(1L, math.min(
      store.spark.sparkContext.defaultParallelism.toLong,
      n / 65536L + 1L)).toInt

  def df: DataFrame = table.df

  /** Whole-dataset read ≙ `dset[T]` (`datasets.nim:973-1021`). */
  def read(): DataFrame = df.orderBy(RowIds.Col)
    .select((dimCols :+ "value").map(col): _*)

  /** Per-dimension hyperslab predicates (validated). */
  private def slabConds(offsets: Seq[Long], counts: Seq[Long],
                        strides_ : Seq[Long], blocks: Seq[Long]): Seq[Column] = {
    require(Seq(offsets, counts, strides_, blocks).forall(_.size == rank),
      s"hyperslab args must have rank $rank")
    (0 until rank).map { d =>
      val (off, cnt, str, blk) = (offsets(d), counts(d), strides_(d), blocks(d))
      require(str >= 1 && blk >= 1 && blk <= str && cnt >= 1 && off >= 0,
        s"bad hyperslab in dim $d")
      val last = off + (cnt - 1) * str + blk - 1
      require(last < shape(d), s"hyperslab exceeds shape in dim $d: $last >= ${shape(d)}")
      val c = col(s"i$d")
      c >= off && c <= last && (c - off) % str < blk
    }
  }

  /** Hyperslab selection: for each dim `d`, take indices
    * `offset + k*stride + b` for `k < count`, `b < block`. */
  def hyperslab(offsets: Seq[Long], counts: Seq[Long],
                strides_ : Seq[Long], blocks: Seq[Long]): DataFrame =
    df.filter(slabConds(offsets, counts, strides_, blocks).reduce(_ && _))
      .orderBy(RowIds.Col)
      .select((dimCols :+ "value").map(col): _*)

  /** `full_output` hyperslab read ≙ `read_hyperslab(..., full_output=true)`
    * (`datasets.nim:1556-1599`): the full-shape array with unselected
    * elements zeroed. The store is dense row-major, so this is a pure
    * projection — `when(selected, value, 0)` over the whole table, no join. */
  def hyperslabFull(offsets: Seq[Long], counts: Seq[Long],
                    strides_ : Seq[Long], blocks: Seq[Long]): DataFrame = {
    val cond = slabConds(offsets, counts, strides_, blocks).reduce(_ && _)
    val zero = lit(0).cast(table.schema("value").dataType)
    df.withColumn("value", when(cond, col("value")).otherwise(zero))
      .orderBy(RowIds.Col)
      .select((dimCols :+ "value").map(col): _*)
  }

  /** Strided hyperslab WRITE ≙ `write_hyperslab` (`datasets.nim:1451-1528`):
    * `values` holds the new cell values in row-major order of the
    * SELECTION (position `pos`, column `value`). The update set is built
    * distributed — `pos` decomposes into per-dim selection coordinates via
    * mixed-radix arithmetic, never on the driver — then only intersecting
    * segments rewrite (file-granular copy-on-write). */
  def writeHyperslabDF(offsets: Seq[Long], counts: Seq[Long],
                       strides_ : Seq[Long], blocks: Seq[Long],
                       values: DataFrame): Unit = {
    slabConds(offsets, counts, strides_, blocks) // validate bounds
    val selSizes = (0 until rank).map(d => counts(d) * blocks(d))
    val total = selSizes.product
    // Pin the input so validation and the update read the SAME evaluation:
    // a non-deterministic `values` could otherwise pass the count check yet
    // write different (pos, value) rows in the update pass. Parallelism is
    // size-adaptive (the selection size is exact) — see adaptiveParts.
    val pinned =
      (if (adaptiveParts(total) == 1) values.coalesce(1) else values).cache()
    try {
      require(pinned.count() == total,
        s"writeHyperslab: selection has $total elements")
      val selRadix = selSizes.scanRight(1L)(_ * _).tail
      val st = strides
      val valueType = table.schema("value").dataType
      val iCols = (0 until rank).map { d =>
        // selection coordinate s_d, then i_d = off + (s_d div blk)*stride + s_d mod blk
        val s = s"((pos div ${selRadix(d)}) % ${selSizes(d)})"
        expr(s"${offsets(d)} + ($s div ${blocks(d)}) * ${strides_(d)} + $s % ${blocks(d)}").as(s"i$d")
      }
      val coords = pinned.select(iCols :+ col("value").cast(valueType).as("value"): _*)
      val withId = coords.withColumn(RowIds.Col,
        (0 until rank).map(d => col(s"i$d") * st(d)).reduce(_ + _))
      table.applyUpdates(withId)
    } finally pinned.unpersist()
  }

  /** Driver-side convenience for small slab writes (mirrors the
    * reference's flat `seq[T]` argument). */
  def writeHyperslab(offsets: Seq[Long], counts: Seq[Long],
                     strides_ : Seq[Long], blocks: Seq[Long],
                     values: Seq[Any]): Unit = {
    val valuesDf = store.spark.createDataFrame(
      store.spark.sparkContext.parallelize(
        values.zipWithIndex.map { case (v, p) =>
          org.apache.spark.sql.Row(p.toLong, v)
        }.toList, adaptiveParts(values.size.toLong)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("pos",
          org.apache.spark.sql.types.LongType, false),
        org.apache.spark.sql.types.StructField("value",
          table.schema("value").dataType, false))))
    writeHyperslabDF(offsets, counts, strides_, blocks, valuesDf)
  }

  /** Per-axis resize ≙ `resize` (`datasets.nim:1299-1336`): shrink drops
    * out-of-bounds cells, growth zero-fills (the HDF5 default fill value).
    * Changing any non-trailing extent changes the row-major strides, so
    * the linear index of every surviving cell moves — this is a full
    * relayout by construction: one `range ⟕ survivors` join keyed on the
    * NEW linear index, then a range-partitioned sort back into `_rowid`
    * order. */
  def resize(newShape: Seq[Long]): Unit = {
    require(newShape.size == rank, s"resize needs $rank extents")
    val mx = maxShape
    newShape.zipWithIndex.foreach { case (n, d) =>
      require(n >= 1, s"resize: dim $d extent must be >= 1")
      if (mx.nonEmpty && mx(d) >= 0)
        require(n <= mx(d), s"resize: dim $d extent $n exceeds maxshape ${mx(d)}")
    }
    val spark = store.spark
    val meta = store.resolved(name)
    val newStrides = newShape.scanRight(1L)(_ * _).tail
    val total = newShape.product
    val valueType = table.schema("value").dataType
    val keep = df
      .filter((0 until rank).map(d => col(s"i$d") < newShape(d)).reduce(_ && _))
      .select((0 until rank).map(d => col(s"i$d") * newStrides(d)).reduce(_ + _).as("nid"),
        col("value"))
    val coords = (0 until rank).map(d =>
      expr(s"(nid div ${newStrides(d)}) % ${newShape(d)}").as(s"i$d"))
    // partitioning is SIZE-adaptive (guide-§2 discipline): `total` is
    // known exactly, so a 400-cell relayout runs as one task while a
    // 10^9-cell one keeps full parallelism; the small case also swaps
    // the global sort (range-sampling pass + exchange) for an in-task
    // sort — same total order either way
    val parts = adaptiveParts(total)
    val joined = spark.range(0L, total, 1L, parts).toDF("nid")
      .join(keep, Seq("nid"), "left")
      .select(coords :+ coalesce(col("value"), lit(0).cast(valueType)).as("value"): _*)
    val sortCols = (0 until rank).map(d => col(s"i$d"))
    val out =
      if (parts == 1) joined.coalesce(1).sortWithinPartitions(sortCols: _*)
      else joined.sort(sortCols: _*)
    // In-place mutation of the SHARED base (HDF5 hardlink semantics: every
    // name sees the new extents), like all other mutation paths — put()
    // here would re-create under the OPENED name and strand any alias.
    val b = table.baseName
    val seg = store.writeSegment(b, RowIds.attach(table.conform(out)), meta.chunkSize, meta.codec)
    store.manifest.tables += b -> meta.copy(segments = Vector(seg),
      shape = newShape.toVector,
      maxShape = if (mx.isEmpty) newShape.toVector else mx)
    store.commit()
  }

  /** Coordinate-list read ≙ `select_elements` + `read(dset, coords)`. */
  def selectPoints(points: Seq[Seq[Long]]): DataFrame = {
    require(points.nonEmpty && points.forall(_.size == rank))
    if (points.size <= 1000) {
      val cond = points.map { p =>
        (0 until rank).map(d => col(s"i$d") === p(d)).reduce(_ && _)
      }.reduce(_ || _)
      df.filter(cond).orderBy(RowIds.Col).select((dimCols :+ "value").map(col): _*)
    } else {
      val st = strides
      val ids = points.map(p => p.zip(st).map { case (x, s) => x * s }.sum)
      table.selectRows(ids).orderBy(RowIds.Col).select((dimCols :+ "value").map(col): _*)
    }
  }

  /** Type-converting read ≙ `readAs`. */
  def readAs(t: DataType): DataFrame =
    read().withColumn("value", col("value").cast(t))

  /** Coordinate-list write ≙ element writes (`datasets.nim:1167-1275`):
    * copy-on-write of only the segments containing the points. */
  def writePoints(points: Seq[Seq[Long]], value: Long => Any): Unit = {
    require(points.nonEmpty && points.forall(_.size == rank))
    val st = strides
    val rows = points.map { p =>
      val id = p.zip(st).map { case (x, s) => x * s }.sum
      org.apache.spark.sql.Row.fromSeq(p :+ value(id) :+ id)
    }
    val schema = org.apache.spark.sql.types.StructType(
      table.schema.fields :+ org.apache.spark.sql.types.StructField(
        RowIds.Col, org.apache.spark.sql.types.LongType, false))
    val updates = store.spark.createDataFrame(
      store.spark.sparkContext.parallelize(rows.toList,
        adaptiveParts(rows.size.toLong)), schema)
    table.applyUpdates(updates)
  }

  /** Broadcast write along one axis — set every element whose `dim`-index
    * equals `index` (the row/column broadcast writes of
    * `nimhdf5/datasets.nim:1208-1275`), rank 2. The update set is built
    * DISTRIBUTED (`spark.range` over the free axis), so a 10^9-wide row
    * write never materializes on the driver; only intersecting segments
    * rewrite. `valueOf` receives the free-axis index column. */
  def writeBroadcast(dim: Int, index: Long, valueOf: Column => Column): Unit = {
    require(rank == 2, "writeBroadcast: rank-2 arrays")
    require(dim == 0 || dim == 1)
    require(index >= 0 && index < shape(dim), s"index $index out of shape ${shape(dim)}")
    val st = strides
    val free = 1 - dim
    val spark = store.spark
    val ids = spark.range(0L, shape(free), 1L, adaptiveParts(shape(free)))
    val (i0, i1) =
      if (dim == 0) (lit(index), col("id"))
      else (col("id"), lit(index))
    val valueType = table.schema("value").dataType // preserve the stored type
    val updates = ids.select(
      i0.as("i0"), i1.as("i1"),
      valueOf(col("id")).cast(valueType).as("value"),
      (i0 * st(0) + i1 * st(1)).as(RowIds.Col))
    table.applyUpdates(updates)
  }

  /** Append a block along axis 0 ≙ `add` (`datasets.nim:1338-1369`):
    * pure segment append + shape bump in ONE atomic manifest commit (a
    * crash can't expose rows beyond the recorded shape). `block` must
    * carry `(i0…iN-1, value)` for the new rows in row-major order with
    * axis-0 indices starting at the current `shape(0)`, and its row count
    * must equal `extent * shape.tail.product` (the rowid = linear-index
    * invariant). */
  def add(block: DataFrame, extent: Long): Unit = {
    require(extent >= 1, s"bad extent $extent")
    val mx = maxShape
    val cur = shape
    if (mx.nonEmpty && mx(0) >= 0)
      require(cur(0) + extent <= mx(0), s"extent exceeds maxshape ${mx(0)}")
    val expected = extent * cur.tail.product
    table.appendWithMeta(block, Some(expected),
      m => m.copy(shape = cur.updated(0, cur(0) + extent)))
  }
}

object NDArray {
  /** Create ≙ `create_dataset` + full write (`datasets.nim:347-541`).
    * `data` must have columns `(i0…iN-1, value)`; it is sorted row-major
    * here so `_rowid` = linearized index. maxShape entries of -1 ≙
    * `H5S_UNLIMITED` (`dataspaces.nim:31-40`). */
  def create(store: HDFStore, name: String, data: DataFrame,
             shape: Seq[Long], maxShape: Seq[Long] = Nil,
             chunkSize: Option[Long] = None, codec: Option[String] = None): NDArray = {
    val rank = shape.size
    val dimCols = (0 until rank).map(i => s"i$i")
    require(dimCols.forall(data.columns.contains) && data.columns.contains("value"),
      s"data must have columns ${dimCols.mkString(",")}, value")
    val sorted = data.select((dimCols :+ "value").map(col): _*)
      .sort(dimCols.map(col): _*)
    store.putWithMeta(name, sorted, chunkSize, codec,
      _.copy(kind = "ndarray", shape = shape.toVector,
        maxShape = if (maxShape.isEmpty) shape.toVector else maxShape.toVector))
    open(store, name)
  }

  def open(store: HDFStore, name: String): NDArray = {
    val meta = store.resolved(name)
    require(meta.kind == "ndarray", s"$name is not an ndarray (kind=${meta.kind})")
    new NDArray(store, store.norm(name), store.table(name))
  }
}
