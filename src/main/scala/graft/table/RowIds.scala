package graft.table

import org.apache.spark.sql.DataFrame

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
 */
object RowIds {
  val Col = "_rowid"

  /** Attach `_rowid` following the DataFrame's existing deterministic
    * partition order (e.g. a `createDataset(seq)` keeps seq order; a
    * parquet read keeps sorted-file order). */
  def attach(df: DataFrame, startAt: Long = 0L): DataFrame =
    org.apache.spark.sql.graftx.Bridge.zipWithRowIds(df, Col, startAt)
}
