package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftx.{Bridge, DriverParquet}
import org.apache.spark.sql.types.LongType

/**
 * Dense, deterministic 0-based row-id assignment — the load-bearing design
 * decision of the whole positional layer (SURVEY §7.1 #1). The reference's
 * tables are implicitly positional (record index inside one HDF5 dataset,
 * `nimtables.nim:149-171`); here position is an explicit `_rowid` column.
 *
 * Scale notes (100 TB): ids are assigned with the per-partition
 * count + prefix-sum idiom (`RDD.zipWithIndex`) — ONE lightweight count
 * job over partition sizes, NO global sort, NO single-partition window —
 * over the INTERNAL row format ([[org.apache.spark.sql.graftx.Bridge
 * .zipWithRowIds]]): the old `df.rdd` form deserialized every row to an
 * external `Row` and re-imported through `CatalystTypeConverters`,
 * a per-field boxing round trip of the whole table on every write path.
 * `row_number().over(Window.orderBy(...))` would funnel the table through
 * one task and is exactly what this module exists to avoid. Data is then
 * written ordered by `_rowid`, so parquet row-group min/max stats prune
 * positional predicates (the chunk-B-tree analog of `H5TBread_records`).
 * Rows already on the driver ([[localRows]]) get their ids on the
 * driver, with no job.
 */
object RowIds {
  val Col = "_rowid"

  /** The rows of `df` when they are already on the driver and few: its
    * optimized plan is a batch `LocalRelation` of at most
    * [[HDFTable.DriverReadRows]] rows and [[HDFTable.DriverWriteBytes]]
    * bytes. Such a frame gets its ids, its sort by `_rowid` and its
    * segment write on the driver; every other frame takes the Spark path. */
  private[graft] def localRows(df: DataFrame): Option[Seq[InternalRow]] =
    DriverParquet.localRows(df).filter(rows => rows.size <= HDFTable.DriverReadRows &&
      DriverParquet.fitsBytes(df.schema, rows, HDFTable.DriverWriteBytes))

  /** Attach `_rowid` following the DataFrame's existing deterministic
    * partition order (e.g. a `createDataset(seq)` keeps seq order; a
    * parquet read keeps sorted-file order). A local frame gets its ids
    * on the driver and comes back as a `LocalRelation` frame. */
  def attach(df: DataFrame, startAt: Long = 0L): DataFrame = localRows(df) match {
    case Some(rows) => Bridge.localRowIds(df.sparkSession, df.schema, rows, Col, startAt)
    case None => Bridge.zipWithRowIds(df, Col, startAt)
  }

  /** `df` ordered by `_rowid`: a local frame with a `long` `_rowid` is
    * sorted on the driver into a `LocalRelation` frame (a `Sort` over one
    * would plan an exchange and run jobs); any other frame gets
    * `.sort(_rowid)`. */
  def sorted(df: DataFrame): DataFrame = localRows(df) match {
    case Some(rows) if df.schema(Col).dataType == LongType =>
      val i = df.schema.fieldIndex(Col)
      DriverParquet.frame(df.sparkSession, df.schema,
        rows.sortBy(r => if (r.isNullAt(i)) Long.MinValue else r.getLong(i)))
    case _ => df.sort(Col)
  }
}
