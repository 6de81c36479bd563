package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ndarray.NDArray
import graft.store.{HDFStore, StoreMode}
import graft.table.{HDFTable, RowIds}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline extensions), each with a DuckDB
  * oracle where SQL-expressible. See /root/repo/SURVEY.md §7.5. */
object SparkEntry {

  // ------------------------------------------------------------- fixtures

  /** lineitem columns in the canonical order used for the positional total
    * order. `(l_orderkey, l_linenumber)` is NOT unique in the synthetic
    * data, so position is defined by ordering on ALL columns — ties are
    * then bit-identical rows and any tie order yields the same table. */
  private val LI = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_returnflag", "l_linestatus", "l_shipdate")
  private val LI_ORDER = LI.mkString(", ")

  /** Oracle CTE assigning the same `_rowid` DuckDB-side. */
  private def BASE =
    s"WITH base AS (SELECT *, row_number() OVER (ORDER BY $LI_ORDER) - 1 AS _rowid FROM lineitem)"

  /** Full-row output projection: timestamps become strings so Spark/DuckDB
    * hash identically. In `_rowid` order; a driver-read frame is ordered
    * on the driver ([[RowIds.sorted]]). */
  private def liOut(df: DataFrame): DataFrame =
    RowIds.sorted(df.select(col("_rowid") +: LI.init.map(col) :+
      date_format(col("l_shipdate"), "yyyy-MM-dd").as("l_shipdate"): _*))
  private val LI_OUT_SQL =
    "_rowid, " + LI.init.mkString(", ") + ", strftime(l_shipdate, '%Y-%m-%d') AS l_shipdate"

  private def renderAttr(a: graft.store.AttrValue): String = a match {
    case graft.store.AttrValue.I64(v)    => v.toString
    case graft.store.AttrValue.F64(v)    => v.toString
    case graft.store.AttrValue.Str(v)    => v
    case graft.store.AttrValue.I64Seq(v) => v.mkString("[", ", ", "]")
    case graft.store.AttrValue.F64Seq(v) => v.mkString("[", ", ", "]")
    case graft.store.AttrValue.StrSeq(v) => v.mkString("[", ", ", "]")
  }

  /** One build-once cell: `computeIfAbsent` inserts only the cell and
    * the build runs when the cell is forced, outside the map — so a
    * build may itself force other fixtures. */
  private final class Cell[T](build: () => T) { lazy val value: T = build() }

  private val fixtures = new ConcurrentHashMap[(String, String), Cell[_]]()

  /** The gate fixture `kind` over sf dir `sfDir`, built once per JVM.
    * Concurrent callers of one key share one build; a build that throws
    * leaves nothing cached, so the next call builds again. */
  private[graft] def fixture[T](kind: String, sfDir: String)(build: => T): T = {
    val key = (kind, sfDir)
    val cell = fixtures.computeIfAbsent(key, _ => new Cell(() => build))
      .asInstanceOf[Cell[T]]
    try cell.value
    catch { case e: Throwable => fixtures.remove(key, cell); throw e }
  }

  // One query-store per scale-factor dir.
  private def store(spark: SparkSession, sfDir: String): HDFStore =
    fixture("store", sfDir) {
      val dir = "/tmp/graft-qstore/" + sfDir.replaceAll("[^A-Za-z0-9.]", "_")
      val st = HDFStore.open(spark, dir, StoreMode.Overwrite)
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet").sort(LI.map(col): _*)
      st.put("lineitem", li)
      val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").sort("vec_id")
      st.put("embeddings", emb)
      // 20×20 row-major grid, value = linear index (N-D fixture)
      val grid = spark.range(400).select(
        (col("id") / 20).cast("long").as("i0"),
        (col("id") % 20).as("i1"),
        col("id").cast("double").as("value"))
      NDArray.create(st, "grid", grid, Seq(20L, 20L), Seq(-1L, 20L))
      // group-namespace fixture (G1-G3): parents auto-created
      st.createGroup("/geo/raw")
      st.put("geo/raw/region",
        spark.read.parquet(s"$sfDir/region.parquet").sort("r_regionkey"))
      st
    }

  private def li(spark: SparkSession, sfDir: String): HDFTable =
    store(spark, sfDir).table("lineitem")

  /** Build the per-JVM query store up front and JIT-warm the expression
    * kernels (used by Bench so one-time setup/codegen cost isn't
    * attributed to an arbitrary first query). */
  def warm(spark: SparkSession, sfDir: String): Unit = {
    store(spark, sfDir)
    // one-time query fixtures (idempotent; queries guard on existence so
    // Verify works without warm, but Bench must not time table creation)
    buildZstdFixture(spark, sfDir)
    buildFlatFixture(spark, sfDir)
    ivfIndex(spark, sfDir) // build-once: the indexed-IVF bench times the PROBE
    import graft.ops.{Dedup, Similarity}
    val tiny = docs(spark, sfDir).filter(col("doc_id") < 4)
    Dedup.minhashSignatures(tiny, "doc_id", "text", 3, 16).count()
    Dedup.simhash(tiny, "doc_id", "text").count()
    val e = embs(spark, sfDir).filter(col("vec_id") < 4)
    e.select(Similarity.cosine(col("embedding"), col("embedding"))).count()
  }

  private def buildZstdFixture(s: SparkSession, d: String): Unit = {
    val st = store(s, d)
    st.synchronized {
      if (!st.isTable("mut/zstd")) {
        val src = st.table("lineitem").df // keeps _rowid: put orders by it
        st.put("mut/zstd", src, Some(4096L), Some("zstd"))
      }
    }
  }

  private def buildFlatFixture(s: SparkSession, d: String): Unit = {
    val st = store(s, d)
    st.synchronized {
      if (!st.isTable("mut/flat")) {
        val nested = st.table("lineitem").df
          .filter(col("_rowid") < 100).orderBy("_rowid")
          .select(col("_rowid"),
            struct(col("l_orderkey").as("ok"), col("l_linenumber").as("ln")).as("pos"),
            col("l_quantity"))
        st.put("mut/flat", graft.schema.SchemaUtil.flattenDf(nested.drop("_rowid")))
      }
    }
  }

  /** Replace `dst` with a fresh file-level copy of `src`, then run `f`
    * on the store under its lock — so mutation queries never disturb
    * shared state; idempotent per call. */
  private def copyFresh[T](spark: SparkSession, sfDir: String, src: String,
                           dst: String)(f: HDFStore => T): T = {
    val st = store(spark, sfDir)
    st.synchronized {
      if (st.contains(dst)) st.drop(dst)
      st.copy(src, dst)
      f(st)
    }
  }

  /** [[copyFresh]] of the base lineitem table to `mut/<name>`. */
  private def mutCopy(spark: SparkSession, sfDir: String, name: String)
                     (mut: HDFTable => Unit): HDFTable =
    copyFresh(spark, sfDir, "lineitem", "mut/" + name) { st =>
      val t = st.table("mut/" + name)
      mut(t)
      t
    }

  // ------------------------------------------------------------- contract

  /** Flagship: the SURVEY §7.3 minimum slice — store lineitem, positional
    * slice [3..10] — on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    liOut(li(spark, "/root/testdata/sf0.001").slice(3, 10))

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    parityQueries ++ extensionQueries

  def oracleSql: Map[String, String] = parityOracles ++ extensionOracles

  // ----------------------------------------------- §2 parity: reads

  private def parityQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S3+S5: create + bulk write + full scan round-trip
    "s3_create_scan" -> ((s, d) => liOut(li(s, d).df)),

    // S2: catalog scan (list tables); tables created by other queries in
    // the shared store (mut/* copies, clean/* pipeline output) excluded so
    // the oracle is independent of query execution order
    "s2_keys" -> ((s, d) => {
      val st = store(s, d)
      val keys = st.keys.filterNot(k =>
        k.startsWith("mut/") || k.startsWith("clean/") || k.startsWith("stream/"))
      s.createDataFrame(keys.map(Tuple1(_))).toDF("key").orderBy("key")
    }),

    // S6: drop table (create copy, drop it, observe catalog)
    "s6_drop" -> ((s, d) => {
      copyFresh(s, d, "lineitem", "mut/dropme") { st =>
        val before = if (st.isTable("mut/dropme")) 1L else 0L
        st.drop("mut/dropme")
        st.drop("mut/dropme") // second drop must silently no-op (nimtables.nim:106-109)
        val after = if (st.isTable("mut/dropme")) 1L else 0L
        s.createDataFrame(Seq((before, after))).toDF("existed_before", "exists_after")
      }
    }),

    // S10: hardlink + copy + contains: mutation via the link is shared
    "s10_copy_hardlink" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        Seq("mut/c", "mut/h").foreach(n => if (st.contains(n)) st.drop(n))
        st.copy("lineitem", "mut/c")
        st.hardlink("mut/c", "mut/h")
        val one = st.table("mut/c").slice(0, 0).drop("_rowid")
        st.table("mut/h").append(one) // append through the hardlink
        s.createDataFrame(Seq(
          ("mut/c", st.nrows("mut/c"), if (st.contains("mut/c")) 1L else 0L),
          ("mut/h", st.nrows("mut/h"), if (st.contains("mut/h")) 1L else 0L)
        )).toDF("name", "nrows", "contained").orderBy("name")
      }
    }),

    // S4: the format("hdfstore") connector — open+bind via the DataFrame
    // reader API, positional predicate pushed through the relation
    "s4_connector_read" -> ((s, d) => {
      store(s, d) // ensure the store exists
      val dir = "/tmp/graft-qstore/" + d.replaceAll("[^A-Za-z0-9.]", "_")
      val df = s.read.format("hdfstore").option("table", "lineitem").load(dir)
      liOut(df.filter(col("_rowid") >= 100 && col("_rowid") <= 149))
    }),

    // P1: positional point read
    "p1_point" -> ((s, d) => liOut(li(s, d).point(41))),

    // P1 backwards: table[^i]
    "p1_point_back" -> ((s, d) => liOut(li(s, d).fromEnd(5))),

    // P2: positional slice
    "p2_slice" -> ((s, d) => liOut(li(s, d).slice(3, 10))),

    // P2 backwards: table[^10..^3]
    "p2_slice_back" -> ((s, d) => {
      val t = li(s, d); liOut(t.slice(t.nrows - 10, t.nrows - 3))
    }),

    // P3: coordinate-list selection
    "p3_coords" -> ((s, d) =>
      liOut(li(s, d).selectRows(Seq(0L, 7L, 41L, 599L, 4999L, 5998L)))),

    // P4: 1-D hyperslab (offset/count/stride/block) on the record dim
    "p4_hyperslab" -> ((s, d) => liOut(li(s, d).hyperslab(7, 100, 50, 3))),

    // P5: column projection
    "p5_project" -> ((s, d) =>
      li(s, d).select("l_orderkey", "l_extendedprice")
        .filter(col("_rowid") <= 999).orderBy("_rowid")),

    // P6: type-converting read (cast); truncation semantics like C
    "p6_cast" -> ((s, d) =>
      li(s, d).readAs("l_quantity", IntegerType)
        .filter(col("_rowid") <= 999).orderBy("_rowid")),

    // M7: O(1) row count from the catalog
    "m7_nrows" -> ((s, d) => {
      val n = li(s, d).nrows
      s.createDataFrame(Seq(Tuple1(n))).toDF("n")
    }),

    // ----------------------------------------------- §2 parity: mutations

    // M1: append 100 rows (copies of rows 0..99); observe the tail
    "m1_append" -> ((s, d) => {
      val t = mutCopy(s, d, "append") { t =>
        t.append(t.slice(0, 99))
      }
      liOut(t.slice(t.nrows - 150, t.nrows - 1))
    }),

    // M2: positional update rows [10..14] with copies of rows [0..4]
    "m2_update" -> ((s, d) => {
      val t = mutCopy(s, d, "update") { t =>
        t.update(10, t.slice(0, 4))
      }
      RowIds.sorted(
        t.slice(5, 19).select("_rowid", "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"))
    }),

    // M3: delete rows [10..19]; dense renumber
    "m3_delete" -> ((s, d) => {
      val t = mutCopy(s, d, "delete") { t => t.delete(10, 19) }
      RowIds.sorted(t.slice(5, 24).select("_rowid", "l_orderkey", "l_partkey", "l_quantity"))
    }),

    // M4: insert copies of rows [0..4] at position 15
    "m4_insert" -> ((s, d) => {
      val t = mutCopy(s, d, "insert") { t =>
        t.insert(15, t.slice(0, 4))
      }
      t.slice(10, 24).select("_rowid", "l_orderkey", "l_partkey", "l_quantity")
        .orderBy("_rowid")
    }),

    // M5: resize — grow by 5 zero-filled records; observe the seam
    "m5_resize" -> ((s, d) => {
      val t = mutCopy(s, d, "resize") { t => t.resizeTo(t.nrows + 5) }
      t.slice(t.nrows - 8, t.nrows - 1)
        .select("_rowid", "l_orderkey", "l_partkey", "l_quantity", "l_returnflag")
        .orderBy("_rowid")
    }),

    // M6: coordinate write on the 2-D grid (value += 1000 at 3 points)
    "m6_coord_write" -> ((s, d) => {
      copyFresh(s, d, "grid", "mut/grid") { st =>
        val nd = NDArray.open(st, "mut/grid")
        nd.writePoints(Seq(Seq(0L, 0L), Seq(3L, 7L), Seq(19L, 19L)), id => id.toDouble + 1000.0)
        nd.df.filter(col("i0").isin(0, 3, 19))
          .select("i0", "i1", "value").orderBy("i0", "i1")
      }
    }),

    // §1.2: nested-record flattening with `parent-child` names (the
    // reference stores nested objects as flat `a-b` fields) — store the
    // flattened table, read back
    "t1_nested_flatten" -> ((s, d) => {
      buildFlatFixture(s, d) // no-op when warm() already built it
      store(s, d).table("mut/flat").df
        .select(col("_rowid"), col("pos-ok"), col("pos-ln"), col("l_quantity"))
        .orderBy("_rowid")
    }),

    // ----------------------------------------------- §2 parity: N-D + VLEN

    // S7+S8: N-D create + whole read (row-major (i0,i1,value))
    "s8_nd_scan" -> ((s, d) => NDArray.open(store(s, d), "grid").read()),

    // P4 in 2-D: hyperslab offsets(2,1) counts(3,4) strides(6,5) blocks(2,3)
    "p4_hyperslab_2d" -> ((s, d) =>
      NDArray.open(store(s, d), "grid")
        .hyperslab(Seq(2, 1), Seq(3, 4), Seq(6, 5), Seq(2, 3))),

    // P4 full_output: full-shape read with unselected elements zeroed
    "p4_full_output" -> ((s, d) =>
      NDArray.open(store(s, d), "grid")
        .hyperslabFull(Seq(2, 1), Seq(3, 4), Seq(6, 5), Seq(2, 3))),

    // P3 in 2-D: coordinate-list read
    "p3_coords_2d" -> ((s, d) =>
      NDArray.open(store(s, d), "grid")
        .selectPoints(Seq(Seq(0L, 0L), Seq(3L, 7L), Seq(19L, 19L)))),

    // P6 on N-D: readAs int
    "p6_nd_cast" -> ((s, d) =>
      NDArray.open(store(s, d), "grid").readAs(LongType)
        .filter(col("i0") === 5).orderBy("i1")),

    // V1+V2: VLEN (ArrayType) round-trip through the store
    "v2_vlen_roundtrip" -> ((s, d) => {
      val t = store(s, d).table("embeddings")
      t.df.select(
        col("vec_id"), col("label"),
        size(col("embedding")).cast(LongType).as("n"),
        element_at(col("embedding"), 1).cast(DoubleType).as("e_first"),
        element_at(col("embedding"), size(col("embedding"))).cast(DoubleType).as("e_last")
      ).orderBy("vec_id")
    }),

    // V3: VLEN write — store a transformed (sliced) array column, read back
    "v3_vlen_write" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        if (st.isTable("mut/embslice")) st.drop("mut/embslice")
        val src = st.table("embeddings").df
          .select(col("vec_id"), slice(col("embedding"), 1, 4).as("emb4"))
          .orderBy("vec_id")
        st.put("mut/embslice", src)
        st.table("mut/embslice").df.select(
          col("vec_id"),
          element_at(col("emb4"), 1).cast(DoubleType).as("e1"),
          element_at(col("emb4"), 2).cast(DoubleType).as("e2"),
          element_at(col("emb4"), 3).cast(DoubleType).as("e3"),
          element_at(col("emb4"), 4).cast(DoubleType).as("e4")
        ).orderBy("vec_id")
      }
    }),

    // V3b: VLEN hyperslab write — array-column slab write routed through
    // applyUpdates (nimhdf5/datasets.nim:1468-1504), same positional path
    // as scalar coordinate writes; only intersecting segments rewrite
    "v3_vlen_slab_write" -> ((s, d) => {
      copyFresh(s, d, "embeddings", "mut/embslab") { st =>
        val t = st.table("mut/embslab")
        val vals = s.range(20).select(
          col("id").as("pos"),
          (lit(900000L) + col("id")).as("vec_id"),
          array(col("id").cast("float"), (col("id") + lit(0.5)).cast("float")).as("embedding"),
          lit(7).as("label"))
        t.writeHyperslab(5, 10, 3, 2, vals)
        t.slice(0, 39).select(
          col("_rowid"), col("vec_id"),
          size(col("embedding")).cast(LongType).as("n"),
          element_at(col("embedding"), 1).cast(DoubleType).as("e1"),
          col("label").cast(LongType).as("lbl")
        ).orderBy("_rowid")
      }
    }),

    // V4: VLEN positional slice (hyperslab over the record dim of a
    // VLEN-column table)
    "v4_vlen_slice" -> ((s, d) =>
      store(s, d).table("embeddings").slice(10, 19)
        .select(col("_rowid"), col("vec_id"),
          size(col("embedding")).cast(LongType).as("n"))
        .orderBy("_rowid")),

    // M6 broadcast variant: set an entire row of the 2-D grid (distributed
    // update-set construction, only intersecting segments rewritten)
    "m6_broadcast_row" -> ((s, d) => {
      copyFresh(s, d, "grid", "mut/gridrow") { st =>
        val nd = NDArray.open(st, "mut/gridrow")
        nd.writeBroadcast(0, 5, j => lit(9000L) + j)
        nd.df.filter(col("i0").between(4, 6))
          .select("i0", "i1", "value").orderBy("i0", "i1")
      }
    }),

    // M6 strided-slab variant: write 48 values into an off/count/stride/
    // block selection; observe every touched axis-0 line
    "m6_hyperslab_write" -> ((s, d) => {
      copyFresh(s, d, "grid", "mut/gridslab") { st =>
        val nd = NDArray.open(st, "mut/gridslab")
        nd.writeHyperslab(Seq(0, 2), Seq(4, 3), Seq(5, 6), Seq(2, 2),
          (0 until 48).map(p => (100000 + p).toDouble))
        nd.df.filter(col("i0").isin(0, 1, 5, 6, 10, 11, 15, 16))
          .select("i0", "i1", "value").orderBy("i0", "i1")
      }
    }),

    // M5 on N-D: per-axis resize — grow axis 0 to 25 (zero-filled),
    // shrink axis 1 to 12 (drops columns); full relayout of strides
    "m5_nd_resize" -> ((s, d) => {
      copyFresh(s, d, "grid", "mut/gridresize") { st =>
        val nd = NDArray.open(st, "mut/gridresize")
        nd.resize(Seq(25L, 12L))
        NDArray.open(st, "mut/gridresize").read()
      }
    }),

    // S1: the four open modes (create/read-only/read-write/infer) + the
    // reference's missing-file failure for hdRead
    "s1_open_modes" -> ((s, d) => {
      val dir = "/tmp/graft-qstore/modes_" + d.replaceAll("[^A-Za-z0-9.]", "_")
      val st1 = HDFStore.open(s, dir, StoreMode.Overwrite)
      st1.put("r", s.read.parquet(s"$d/region.parquet").sort("r_regionkey"))
      st1.close()
      val ro = HDFStore.open(s, dir, StoreMode.Read)
      val roRejects = try { ro.drop("r"); 0L }
        catch { case _: UnsupportedOperationException => 1L }
      ro.close()
      val rw = HDFStore.open(s, dir, StoreMode.ReadWrite)
      val rwOpens = if (rw.contains("r")) 1L else 0L; rw.close()
      val inf = HDFStore.open(s, dir, StoreMode.Infer)
      val inferOpens = if (inf.contains("r")) 1L else 0L; inf.close()
      val missingFails = try { HDFStore.open(s, dir + "/nope", StoreMode.Read); 0L }
        catch { case _: java.io.FileNotFoundException => 1L }
      s.createDataFrame(Seq((1L, roRejects, rwOpens, inferOpens, missingFails)))
        .toDF("created", "ro_rejects_writes", "rw_opens", "infer_opens", "missing_read_fails")
    }),

    // S9: close fences the handle; a reopened store sees committed state
    "s9_lifecycle" -> ((s, d) => {
      val dir = "/tmp/graft-qstore/life_" + d.replaceAll("[^A-Za-z0-9.]", "_")
      val st1 = HDFStore.open(s, dir, StoreMode.Overwrite)
      st1.put("r", s.read.parquet(s"$d/region.parquet").sort("r_regionkey"))
      st1.close()
      val fenced = try { st1.keys; 0L } catch { case _: IllegalStateException => 1L }
      val st2 = HDFStore.open(s, dir, StoreMode.Read)
      val rows = st2.nrows("r"); st2.close()
      s.createDataFrame(Seq((fenced, rows))).toDF("close_fences", "reopened_nrows")
    }),

    // P7: dynamic-type dispatch — schema-on-read of an untyped handle
    // (≙ withDset, nimhdf5/datasets.nim:727-773)
    "p7_dynamic" -> ((s, d) => {
      val t = store(s, d).table("lineitem")
      val rows = t.schema.fields.map(f => (f.name, f.dataType.simpleString))
      s.createDataFrame(rows.toSeq).toDF("field", "type").orderBy("field")
    }),

    // ----------------------------------------------- §2 parity: attrs/groups/codecs

    // A1-A4: typed attribute write/read/exists/delete surfaced as rows
    "a1_attrs" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        st.setAttr("lineitem", "rows", st.nrows("lineitem"))
        st.setAttr("lineitem", "source", "tpch-lineitem")
        st.setAttr("lineitem", "pi", 3.25) // exactly representable
        st.setAttr("lineitem", "dims", Seq(20L, 20L))
        st.setAttr("", "store_format", "graft-parquet-v1")
        st.setAttr("lineitem", "doomed", 1L)
        st.deleteAttr("lineitem", "doomed")
        // read back through the typed attribute API
        val read = Seq("rows", "source", "pi", "dims")
          .map(k => ("lineitem", k, renderAttr(st.getAttr("lineitem", k))))
        val rows = (("", "store_format", renderAttr(st.getAttr("", "store_format"))) +: read) :+
          (("lineitem", "doomed_exists", if (st.hasAttr("lineitem", "doomed")) "1" else "0"))
        s.createDataFrame(rows).toDF("obj", "key", "val").orderBy("obj", "key")
      }
    }),

    // A5: copy_attributes between objects
    "a5_copy_attrs" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        st.setAttr("embeddings", "model", "fake-embedder-v1")
        st.setAttr("grid", "unit", "index")
        st.copyAttrs("embeddings", "grid")
        val rows = st.attrKeys("grid").map(k => ("grid", k, renderAttr(st.getAttr("grid", k))))
        s.createDataFrame(rows).toDF("obj", "key", "val").orderBy("key")
      }
    }),

    // G1-G3: group namespace — create, implicit parents, typed listing
    "g1_groups" -> ((s, d) => {
      val st = store(s, d)
      val tables = st.keys("geo", -1).filter(st.isTable).map(k => (k, "table"))
      val groups = Seq("geo", "geo/raw").filter(st.isGroup).map(g => (g, "group"))
      s.createDataFrame(tables ++ groups).toDF("name", "kind").orderBy("name", "kind")
    }),

    // F1/F3: codec + chunk-size knobs round-trip (zstd, 4k-row files)
    "f1_codec_roundtrip" -> ((s, d) => {
      buildZstdFixture(s, d) // no-op when warm() already built it
      store(s, d).table("mut/zstd").df.agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_qty"))
    })
  )

  private def parityOracles: Map[String, String] = Map(
    "s3_create_scan" -> s"$BASE SELECT $LI_OUT_SQL FROM base ORDER BY _rowid",

    "s2_keys" -> ("SELECT * FROM (VALUES ('embeddings'), ('geo/raw/region'), ('grid'), ('lineitem')) t(key) " +
      "ORDER BY key"),

    "s6_drop" -> "SELECT 1::BIGINT AS existed_before, 0::BIGINT AS exists_after",

    "s10_copy_hardlink" ->
      ("SELECT 'mut/c' AS name, count(*) + 1 AS nrows, 1::BIGINT AS contained FROM lineitem " +
       "UNION ALL SELECT 'mut/h', count(*) + 1, 1::BIGINT FROM lineitem ORDER BY name"),

    "s4_connector_read" ->
      s"$BASE SELECT $LI_OUT_SQL FROM base WHERE _rowid BETWEEN 100 AND 149 ORDER BY _rowid",

    "p1_point" -> s"$BASE SELECT $LI_OUT_SQL FROM base WHERE _rowid = 41",

    "p1_point_back" ->
      s"$BASE SELECT $LI_OUT_SQL FROM base WHERE _rowid = (SELECT count(*) FROM lineitem) - 5",

    "p2_slice" -> s"$BASE SELECT $LI_OUT_SQL FROM base WHERE _rowid BETWEEN 3 AND 10 ORDER BY _rowid",

    "p2_slice_back" ->
      (s"$BASE SELECT $LI_OUT_SQL FROM base WHERE _rowid BETWEEN (SELECT count(*) FROM lineitem) - 10 " +
       "AND (SELECT count(*) FROM lineitem) - 3 ORDER BY _rowid"),

    "p3_coords" ->
      s"$BASE SELECT $LI_OUT_SQL FROM base WHERE _rowid IN (0, 7, 41, 599, 4999, 5998) ORDER BY _rowid",

    "p4_hyperslab" ->
      (s"$BASE SELECT $LI_OUT_SQL FROM base WHERE _rowid >= 7 AND _rowid <= 7 + 99*50 + 2 " +
       "AND (_rowid - 7) % 50 < 3 ORDER BY _rowid"),

    "p5_project" ->
      s"$BASE SELECT _rowid, l_orderkey, l_extendedprice FROM base WHERE _rowid <= 999 ORDER BY _rowid",

    // CAST(double AS INT) rounds in DuckDB but truncates in Spark/C;
    // quantities are positive so floor == truncation.
    "p6_cast" ->
      s"$BASE SELECT _rowid, CAST(floor(l_quantity) AS INTEGER) AS l_quantity FROM base WHERE _rowid <= 999 ORDER BY _rowid",

    "m7_nrows" -> "SELECT count(*) AS n FROM lineitem",

    "m1_append" ->
      (s"$BASE, n AS (SELECT count(*) AS c FROM lineitem), post AS (" +
       s"SELECT ${LI.mkString(", ")}, _rowid FROM base " +
       s"UNION ALL SELECT ${LI.mkString(", ")}, _rowid + (SELECT c FROM n) FROM base WHERE _rowid < 100) " +
       s"SELECT $LI_OUT_SQL FROM post WHERE _rowid >= (SELECT c FROM n) - 50 ORDER BY _rowid"),

    "m2_update" ->
      (s"$BASE SELECT b._rowid, " +
       "CASE WHEN b._rowid BETWEEN 10 AND 14 THEN r.l_orderkey ELSE b.l_orderkey END AS l_orderkey, " +
       "CASE WHEN b._rowid BETWEEN 10 AND 14 THEN r.l_partkey ELSE b.l_partkey END AS l_partkey, " +
       "CASE WHEN b._rowid BETWEEN 10 AND 14 THEN r.l_suppkey ELSE b.l_suppkey END AS l_suppkey, " +
       "CASE WHEN b._rowid BETWEEN 10 AND 14 THEN r.l_quantity ELSE b.l_quantity END AS l_quantity " +
       "FROM base b LEFT JOIN base r ON r._rowid = b._rowid - 10 " +
       "WHERE b._rowid BETWEEN 5 AND 19 ORDER BY b._rowid"),

    "m3_delete" ->
      (s"$BASE, post AS (SELECT *, _rowid - CASE WHEN _rowid > 19 THEN 10 ELSE 0 END AS new_id " +
       "FROM base WHERE _rowid NOT BETWEEN 10 AND 19) " +
       "SELECT new_id AS _rowid, l_orderkey, l_partkey, l_quantity FROM post " +
       "WHERE new_id BETWEEN 5 AND 24 ORDER BY new_id"),

    "m4_insert" ->
      (s"$BASE, shifted AS (SELECT l_orderkey, l_partkey, l_quantity, " +
       "CASE WHEN _rowid >= 15 THEN _rowid + 5 ELSE _rowid END AS new_id FROM base), " +
       "ins AS (SELECT l_orderkey, l_partkey, l_quantity, _rowid + 15 AS new_id FROM base WHERE _rowid < 5), " +
       "post AS (SELECT * FROM shifted UNION ALL SELECT * FROM ins) " +
       "SELECT new_id AS _rowid, l_orderkey, l_partkey, l_quantity FROM post " +
       "WHERE new_id BETWEEN 10 AND 24 ORDER BY new_id"),

    "m5_resize" ->
      (s"$BASE, n AS (SELECT count(*) AS c FROM lineitem), " +
       "tail AS (SELECT _rowid, l_orderkey, l_partkey, l_quantity, l_returnflag FROM base " +
       "WHERE _rowid >= (SELECT c FROM n) - 3), " +
       "zeros AS (SELECT (SELECT c FROM n) + g AS _rowid, 0::BIGINT AS l_orderkey, " +
       "0::BIGINT AS l_partkey, CAST(0 AS DOUBLE) AS l_quantity, '' AS l_returnflag " +
       "FROM generate_series(0, 4) t(g)) " +
       "SELECT * FROM tail UNION ALL SELECT * FROM zeros ORDER BY _rowid"),

    "m6_coord_write" ->
      ("WITH g AS (SELECT i.g AS i0, j.g AS i1, CAST(i.g * 20 + j.g AS DOUBLE) AS value " +
       "FROM generate_series(0, 19) i(g), generate_series(0, 19) j(g)) " +
       "SELECT i0, i1, CASE WHEN (i0, i1) IN ((0, 0), (3, 7), (19, 19)) THEN value + 1000 ELSE value END AS value " +
       "FROM g WHERE i0 IN (0, 3, 19) ORDER BY i0, i1"),

    "t1_nested_flatten" ->
      (s"$BASE SELECT _rowid, l_orderkey AS \"pos-ok\", l_linenumber AS \"pos-ln\", l_quantity " +
       "FROM base WHERE _rowid < 100 ORDER BY _rowid"),

    "s8_nd_scan" ->
      ("SELECT i.g AS i0, j.g AS i1, CAST(i.g * 20 + j.g AS DOUBLE) AS value " +
       "FROM generate_series(0, 19) i(g), generate_series(0, 19) j(g) ORDER BY i0, i1"),

    "p4_hyperslab_2d" ->
      ("SELECT i.g AS i0, j.g AS i1, CAST(i.g * 20 + j.g AS DOUBLE) AS value " +
       "FROM generate_series(0, 19) i(g), generate_series(0, 19) j(g) " +
       "WHERE i.g >= 2 AND i.g <= 2 + 2*6 + 1 AND (i.g - 2) % 6 < 2 " +
       "AND j.g >= 1 AND j.g <= 1 + 3*5 + 2 AND (j.g - 1) % 5 < 3 ORDER BY i0, i1"),

    "p4_full_output" ->
      ("SELECT i.g AS i0, j.g AS i1, " +
       "CASE WHEN i.g >= 2 AND i.g <= 15 AND (i.g - 2) % 6 < 2 " +
       "AND j.g >= 1 AND j.g <= 18 AND (j.g - 1) % 5 < 3 " +
       "THEN CAST(i.g * 20 + j.g AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS value " +
       "FROM generate_series(0, 19) i(g), generate_series(0, 19) j(g) ORDER BY i0, i1"),

    "p3_coords_2d" ->
      ("SELECT i.g AS i0, j.g AS i1, CAST(i.g * 20 + j.g AS DOUBLE) AS value " +
       "FROM generate_series(0, 19) i(g), generate_series(0, 19) j(g) " +
       "WHERE (i.g, j.g) IN ((0, 0), (3, 7), (19, 19)) ORDER BY i0, i1"),

    "p6_nd_cast" ->
      ("SELECT 5::BIGINT AS i0, j.g AS i1, 5 * 20 + j.g AS value " +
       "FROM generate_series(0, 19) j(g) ORDER BY i1"),

    "v2_vlen_roundtrip" ->
      ("SELECT vec_id, label, len(embedding)::BIGINT AS n, " +
       "CAST(embedding[1] AS DOUBLE) AS e_first, CAST(embedding[len(embedding)] AS DOUBLE) AS e_last " +
       "FROM embeddings ORDER BY vec_id"),

    "v3_vlen_write" ->
      ("SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS e1, CAST(embedding[2] AS DOUBLE) AS e2, " +
       "CAST(embedding[3] AS DOUBLE) AS e3, CAST(embedding[4] AS DOUBLE) AS e4 " +
       "FROM embeddings ORDER BY vec_id"),

    "v3_vlen_slab_write" ->
      ("WITH base AS (SELECT *, row_number() OVER (ORDER BY vec_id) - 1 AS _rowid FROM embeddings), " +
       "rep AS (SELECT 5 + (g.p // 2) * 3 + g.p % 2 AS _rowid, 900000 + g.p AS vec_id, " +
       "[CAST(g.p AS FLOAT), CAST(g.p + 0.5 AS FLOAT)] AS embedding, 7 AS label " +
       "FROM generate_series(0, 19) g(p)), " +
       "post AS (SELECT b._rowid, " +
       "CASE WHEN r._rowid IS NULL THEN b.vec_id ELSE r.vec_id END AS vec_id, " +
       "CASE WHEN r._rowid IS NULL THEN b.embedding ELSE r.embedding END AS embedding, " +
       "CASE WHEN r._rowid IS NULL THEN b.label ELSE r.label END AS label " +
       "FROM base b LEFT JOIN rep r ON b._rowid = r._rowid) " +
       "SELECT _rowid, vec_id, len(embedding)::BIGINT AS n, " +
       "CAST(embedding[1] AS DOUBLE) AS e1, label::BIGINT AS lbl " +
       "FROM post WHERE _rowid <= 39 ORDER BY _rowid"),

    "v4_vlen_slice" ->
      ("WITH base AS (SELECT *, row_number() OVER (ORDER BY vec_id) - 1 AS _rowid FROM embeddings) " +
       "SELECT _rowid, vec_id, len(embedding)::BIGINT AS n FROM base " +
       "WHERE _rowid BETWEEN 10 AND 19 ORDER BY _rowid"),

    "m6_broadcast_row" ->
      ("WITH g AS (SELECT i.g AS i0, j.g AS i1, CAST(i.g * 20 + j.g AS DOUBLE) AS value " +
       "FROM generate_series(0, 19) i(g), generate_series(0, 19) j(g)) " +
       "SELECT i0, i1, CASE WHEN i0 = 5 THEN CAST(9000 + i1 AS DOUBLE) ELSE value END AS value " +
       "FROM g WHERE i0 BETWEEN 4 AND 6 ORDER BY i0, i1"),

    // inverse of the slab index math: pos = s0*6 + s1 with
    // s0 = 2*(i0//5) + i0%5 (valid when i0%5<2), s1 = 2*((i1-2)//6) + (i1-2)%6
    "m6_hyperslab_write" ->
      ("WITH g AS (SELECT i.g AS i0, j.g AS i1, CAST(i.g * 20 + j.g AS DOUBLE) AS value " +
       "FROM generate_series(0, 19) i(g), generate_series(0, 19) j(g)), " +
       "sel AS (SELECT i0, i1, value, " +
       "CASE WHEN i0 <= 16 AND i0 % 5 < 2 AND i1 BETWEEN 2 AND 15 AND (i1 - 2) % 6 < 2 " +
       "THEN ((i0 // 5) * 2 + i0 % 5) * 6 + ((i1 - 2) // 6) * 2 + (i1 - 2) % 6 " +
       "ELSE NULL END AS pos FROM g) " +
       "SELECT i0, i1, CASE WHEN pos IS NOT NULL THEN CAST(100000 + pos AS DOUBLE) ELSE value END AS value " +
       "FROM sel WHERE i0 IN (0, 1, 5, 6, 10, 11, 15, 16) ORDER BY i0, i1"),

    "m5_nd_resize" ->
      ("SELECT i.g AS i0, j.g AS i1, " +
       "CASE WHEN i.g < 20 THEN CAST(i.g * 20 + j.g AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS value " +
       "FROM generate_series(0, 24) i(g), generate_series(0, 11) j(g) ORDER BY i0, i1"),

    "s1_open_modes" ->
      ("SELECT 1::BIGINT AS created, 1::BIGINT AS ro_rejects_writes, 1::BIGINT AS rw_opens, " +
       "1::BIGINT AS infer_opens, 1::BIGINT AS missing_read_fails"),

    "s9_lifecycle" ->
      "SELECT 1::BIGINT AS close_fences, (SELECT count(*) FROM region) AS reopened_nrows",

    "p7_dynamic" ->
      ("SELECT * FROM (VALUES ('l_orderkey','bigint'), ('l_partkey','bigint'), " +
       "('l_suppkey','bigint'), ('l_linenumber','int'), ('l_quantity','double'), " +
       "('l_extendedprice','double'), ('l_discount','double'), ('l_tax','double'), " +
       "('l_returnflag','string'), ('l_linestatus','string'), " +
       "('l_shipdate','timestamp_ntz')) t(field, type) ORDER BY field"),

    "a1_attrs" ->
      ("SELECT '' AS obj, 'store_format' AS key, 'graft-parquet-v1' AS val " +
       "UNION ALL SELECT 'lineitem', 'rows', CAST((SELECT count(*) FROM lineitem) AS VARCHAR) " +
       "UNION ALL SELECT 'lineitem', 'source', 'tpch-lineitem' " +
       "UNION ALL SELECT 'lineitem', 'pi', '3.25' " +
       "UNION ALL SELECT 'lineitem', 'dims', '[20, 20]' " +
       "UNION ALL SELECT 'lineitem', 'doomed_exists', '0' ORDER BY obj, key"),

    "a5_copy_attrs" ->
      ("SELECT * FROM (VALUES ('grid', 'model', 'fake-embedder-v1'), " +
       "('grid', 'unit', 'index')) t(obj, key, val) ORDER BY key"),

    "g1_groups" ->
      ("SELECT * FROM (VALUES ('geo', 'group'), ('geo/raw', 'group'), " +
       "('geo/raw/region', 'table')) t(name, kind) ORDER BY name, kind"),

    "f1_codec_roundtrip" ->
      ("SELECT count(*) AS n, CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty " +
       "FROM lineitem")
  )

  // ----------------------------------------------- extensions: LLM-pipeline ops

  import graft.ops.{AsOfJoin, Bpe, Cluster, Contamination, Dedup, DedupIndex, IndexMaintenance, Multimodal, Quantize, RangeJoin, Sample, Sessionize, Similarity, TextIndex, TextStats}

  private def docs(s: SparkSession, d: String) = s.read.parquet(s"$d/documents.parquet")
  private def embs(s: SparkSession, d: String) = s.read.parquet(s"$d/embeddings.parquet")
  private def events(s: SparkSession, d: String) = s.read.parquet(s"$d/events.parquet")

  /** A single far-future event over the events-fixture schema: pushes
    * the final watermark past every user's inactivity deadline so
    * timeout-emitted state drains under AvailableNow. `ts` is advanced
    * in whichever representation the fixture reads as (Long nanos under
    * nanosAsLong, a timestamp otherwise — the
    * [[graft.streaming.EventStream.withEventTime]] split), so the
    * sentinel unions/writes cleanly against either. The invariant lives
    * HERE, once: the 90-day advance must exceed the userSummaries gap
    * (30 d) + watermark delay (1 h) used by the `x_stream_user_summary`
    * gate and the StreamingSpec mirror. The sentinel's own user never
    * emits (and is filtered by user_id < 0 regardless). */
  private[graft] def sentinelEvent(ev: DataFrame): DataFrame = {
    val bumped: Column = ev.schema("ts").dataType match {
      case LongType => max(col("ts")) + lit(90L * 86400L * 1000000000L)
      case _        => max(col("ts")) + expr("INTERVAL 90 DAY")
    }
    // built FROM the aggregate row (not a driver-side getLong) so the
    // timestamp never round-trips through an external JVM type
    ev.agg(bumped.as("ts")).select(
      lit(-1L).as("event_id"),
      col("ts"),
      lit(-1L).as("user_id"),
      lit("__sentinel").as("event_type"),
      lit(0.0).as("value"),
      lit(null).cast(StringType).as("props"))
  }

  /** Spark SQL fragment: FLOOR division `x // d` for integral `x` —
    * the engine-side twin of the DuckDB oracles' `//`. A plain `div`
    * truncates toward zero and diverges from floor for pre-epoch
    * (negative) timestamps; `pmod` is non-negative, so the adjusted
    * numerator is exactly divisible (truncation == floor) and the
    * DECIMAL subtraction cannot overflow at Long.MinValue (the
    * [[graft.ops.RangeJoin]] bucketOf discipline). */
  private def floorDivSql(x: String, d: Long): String =
    s"CAST((CAST(($x) AS DECIMAL(38,0)) - pmod($x, ${d}L)) / ${d}L AS BIGINT)"

  /** Tokenizer fragments shared by the DuckDB oracles. */
  private val TOK = """string_split_regex(lower(text), '\s+')"""
  /** DuckDB fragment: parse the top 15 hex digits of a hex string. */
  private def hexsql(arg: String) = s"('0x' || substr($arg, 1, 15))::BIGINT"
  /** DuckDB fragment ≙ [[TextStats.hash60]]. */
  private def h60sql(arg: String) = hexsql(s"md5($arg)")
  private val EN_STOP = "['the','a','of','to','and','in','is','it']"

  /** The five per-language stopword-vote columns (`c_en..c_zh`) of
    * [[graft.ops.TextStats.langId]] over a text expression — shared by
    * `x_lang_id` and `x_corpus_report` so the two oracles cannot
    * diverge from one stopword edit. */
  private def langVoteColsSql(textExpr: String): String = {
    val tok = s"""string_split_regex(lower($textExpr), '\\s+')"""
    (s"""len(list_filter($tok, t -> list_contains($EN_STOP, t))) AS c_en, """ +
     s"""len(list_filter($tok, t -> list_contains(['der','die','das','und','ist','ein','nicht'], t))) AS c_de, """ +
     s"""len(list_filter($tok, t -> list_contains(['el','los','y','que','es','una','por'], t))) AS c_es, """ +
     s"""len(list_filter($tok, t -> list_contains(['le','les','et','est','une','pas','pour'], t))) AS c_fr, """ +
     s"""len(list_filter($tok, t -> list_contains(['的','是','了','在','我','有'], t))) AS c_zh""")
  }

  /** The argmax-with-fixed-precedence CASE over [[langVoteColsSql]]'s
    * columns — [[graft.ops.TextStats.langId]]'s tie rule verbatim. */
  private val langVoteCaseSql: String =
    ("""CASE """ +
     """WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en' """ +
     """WHEN c_de > 0 AND c_de >= c_en AND c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de' """ +
     """WHEN c_es > 0 AND c_es >= c_en AND c_es >= c_de AND c_es >= c_fr AND c_es >= c_zh THEN 'es' """ +
     """WHEN c_fr > 0 AND c_fr >= c_en AND c_fr >= c_de AND c_fr >= c_es AND c_fr >= c_zh THEN 'fr' """ +
     """WHEN c_zh > 0 AND c_zh >= c_en AND c_zh >= c_de AND c_zh >= c_es AND c_zh >= c_fr THEN 'zh' """ +
     """ELSE 'unk' END""")

  /** Fixed rank-ordered merge table for `x_bpe_encode` — literal on
    * BOTH sides, chosen to exercise chained merges ((th,e) after (t,h);
    * (jo,in) after (j,o) and (i,n)) and rank-priority conflicts on the
    * fixture vocabulary ("join" must merge (i,n) at rank 2 BEFORE (j,o)
    * at rank 12, or the (jo,in) chain never fires). */
  private val bpeGateMerges: Seq[(String, String)] = Seq(
    ("e", "r"), ("o", "r"), ("i", "n"), ("t", "h"), ("th", "e"),
    ("s", "t"), ("a", "st"), ("or", "d"), ("a", "t"), ("b", "at"),
    ("in", "d"), ("o", "w"), ("j", "o"), ("jo", "in"), ("m", "er"),
    ("in", "e"), ("l", "ine"), ("q", "u"), ("e", "y"), ("k", "ey"))

  /** The fixture vocabulary of [[bpeGateMerges]] over the documents
    * corpus, shared by the id-emitting gates (`x_bpe_ids`,
    * `x_bpe_decode`, `x_stream_token_ingest`) so their vocab derivation
    * cannot diverge — and CACHED per sf dir: the merges and corpus are
    * fixed, so each gate run must not re-pay the wordFreqs + alphabet
    * derivation (two jobs + two bounded collects) the first run made. */
  private def bpeGateVocab(s: SparkSession, d: String): Seq[String] =
    fixture("bpe_vocab", d)(Bpe.vocabTable(s, docs(s, d), "text", bpeGateMerges)
      .orderBy("token_id").collect().map(_.getString(1)).toSeq)

  /** Reserved control tokens of the fallback fixture model — ids 0 and
    * 1, ahead of the byte block (the shard-writer convention the
    * sepCost gates budget for). */
  private val bpeGateSpecials: Seq[String] = Seq("<eos>", "<pad>")

  /** [[bpeGateVocab]] in BYTE-FALLBACK form: specials, the 256 byte
    * tokens, then the corpus alphabet and merge products — the total-
    * encoding fixture of `x_bpe_fallback`. Same cache discipline. */
  private def bpeGateVocabFb(s: SparkSession, d: String): Seq[String] =
    fixture("bpe_vocab_fb", d)(Bpe.vocabTable(s, docs(s, d), "text",
        bpeGateMerges, byteFallback = true, specials = bpeGateSpecials)
      .orderBy("token_id").collect().map(_.getString(1)).toSeq)

  /** The non-fallback fixture model as a BpeModel VALUE, mass stats
    * included: total mass = every whitespace-token occurrence of the
    * corpus, covered mass = the occurrences inside a maxWords=1000
    * dictionary cap (count desc, word asc — [[graft.ops.Bpe.learnBpe]]'s
    * deterministic cut), both SQL-replayable. Cached per sf dir: the
    * id-emitting stream gate and the card gate share one instance, so
    * repeated gate runs re-pay neither the wordFreqs jobs nor a model
    * save. */
  private def bpeGateModel(s: SparkSession, d: String): Bpe.BpeModel =
    fixture("bpe_model", d) {
      val wf = Bpe.wordFreqs(docs(s, d), "text").localCheckpoint(true)
      val total = wf.agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
      val covered = wf.orderBy(col("cnt").desc, col("word")).limit(1000)
        .agg(coalesce(sum(col("cnt")), lit(0L))).head().getLong(0)
      wf.unpersist()
      Bpe.BpeModel(bpeGateMerges, covered, total, bpeGateVocab(s, d))
    }

  /** [[bpeGateModel]] PERSISTED once per sf dir (merges + vocab + card
    * parquet tree under a fresh tmp path) — the saved-artifact fixture
    * of `x_bpe_card` and `x_stream_token_ingest`. Cached so each gate
    * invocation stops re-paying a 3-table save + reload (the stream
    * gate alone was one more ~1 s of pure harness floor per run). */
  private def bpeGateModelPath(s: SparkSession, d: String): String =
    fixture("bpe_model_path", d) {
      val path = "/tmp/graft-bpe-gate-model-" +
        java.util.UUID.randomUUID().toString.take(8)
      Bpe.saveBpeModel(s, bpeGateModel(s, d), path)
      path
    }

  /** Words the documents corpus cannot contain (Greek, a 4-byte-UTF-8
    * emoji) appended to every document — the out-of-training-alphabet
    * input of `x_bpe_fallback`. "💩th" additionally proves merges still
    * fire NEXT TO an unseen symbol ((t,h) merges; 💩 byte-expands). */
  private val bpeOovSuffix: String = " λx7 δδ ψq 💩th"

  /** DuckDB MAP literal of [[bpeGateMerges]]: `l || chr(1) || r` → rank
    * (chr(1) never occurs in the fixture text, so keys cannot collide;
    * the engine kernel itself uses exact pair equality). */
  private val bpeMergesSqlMap: String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    val keys = bpeGateMerges
      .map { case (l, r) => s"${q(l)} || chr(1) || ${q(r)}" }.mkString(", ")
    s"MAP([$keys], [${bpeGateMerges.indices.mkString(", ")}])"
  }

  /** Shared recursive-CTE chain replaying rank-greedy BPE application
    * under [[bpeGateMerges]]: whitespace words → one min-rank merge per
    * recursion level → deepest step per word → `toks(doc_id, widx,
    * spos, token)`. The oracle engine behind `x_bpe_encode`,
    * `x_bpe_ids`, and `x_bpe_pack` (prefix with `WITH RECURSIVE`).
    * `docsSrc` swaps the corpus relation (`x_bpe_fallback` feeds
    * suffix-modified documents through the same chain). */
  private def bpeApplyCtesOver(docsSrc: String): String =
    s"""words AS (SELECT doc_id, widx, w FROM """ +
    s"""(SELECT doc_id, unnest($TOK) AS w, generate_subscripts($TOK, 1) AS widx FROM $docsSrc) WHERE w <> ''), """ +
    """bpe AS (SELECT doc_id, widx, [substr(w, i, 1) FOR i IN generate_series(1, len(w))] AS syms, 0 AS step FROM words """ +
    """UNION ALL SELECT doc_id, widx, syms[1:bp-1] || [syms[bp] || syms[bp+1]] || syms[bp+2:] AS syms, step + 1 """ +
    """FROM (SELECT doc_id, widx, syms, step, """ +
    """list_position(rks, list_aggregate(list_filter(rks, x -> x IS NOT NULL), 'min')) AS bp """ +
    s"""FROM (SELECT doc_id, widx, syms, step, [map_extract($bpeMergesSqlMap, syms[i] || chr(1) || syms[i+1])[1] """ +
    """FOR i IN generate_series(1, len(syms) - 1)] AS rks FROM bpe)) WHERE bp IS NOT NULL), """ +
    """final AS (SELECT doc_id, widx, syms FROM (SELECT *, row_number() OVER (PARTITION BY doc_id, widx ORDER BY step DESC) AS rn FROM bpe) WHERE rn = 1), """ +
    """toks AS (SELECT doc_id, widx, generate_subscripts(syms, 1) AS spos, unnest(syms) AS token FROM final)"""

  private lazy val bpeApplyCtes: String = bpeApplyCtesOver("documents")

  /** DuckDB VALUES literal of [[bpeGateMerges]] as `(rnk, l, r)`. */
  private lazy val bpeMergesValues: String = {
    def q(s: String) = "'" + s.replace("'", "''") + "'"
    bpeGateMerges.zipWithIndex
      .map { case ((l, r), i) => s"($i, ${q(l)}, ${q(r)})" }.mkString(", ")
  }

  /** CTE chain building the deterministic vocabulary of
    * [[bpeGateMerges]] over the documents corpus — base symbols
    * (distinct code points of the word dictionary, binary order) then
    * merge products by rank, first rank winning a string collision;
    * dense ids by position. Mirrors [[graft.ops.Bpe.buildVocab]] over
    * [[graft.ops.Bpe.baseSymbols]]. Yields `vocab(token_id, token)`. */
  private lazy val bpeVocabCtes: String =
    s"""vwf AS (SELECT w AS word FROM (SELECT unnest($TOK) AS w FROM documents) WHERE w <> '' GROUP BY 1), """ +
    """vbase AS (SELECT DISTINCT substr(word, i, 1) AS tok FROM (SELECT word, unnest(generate_series(1, len(word))) AS i FROM vwf)), """ +
    s"""vprod AS (SELECT l || r AS tok, min(rnk) AS rnk FROM (VALUES $bpeMergesValues) t(rnk, l, r) GROUP BY 1), """ +
    """vnew AS (SELECT tok, rnk FROM vprod WHERE tok NOT IN (SELECT tok FROM vbase)), """ +
    """vocab AS (SELECT row_number() OVER (ORDER BY tok) - 1 AS token_id, tok AS token FROM vbase """ +
    """UNION ALL SELECT (SELECT count(*) FROM vbase) + row_number() OVER (ORDER BY rnk) - 1, tok FROM vnew)"""

  /** [[bpeVocabCtes]] in BYTE-FALLBACK form, mirroring
    * [[graft.ops.Bpe.buildVocab]] with `byteFallback` and
    * [[bpeGateSpecials]]: specials at ids 0..1, the 256 byte tokens
    * (`printf('<0x%%02X>', b)`) at 2..257, then the corpus alphabet and
    * merge products — dense ids by position. Yields `vocab(token_id,
    * token)`. Base symbols can never collide with specials or byte
    * forms (one code point vs several), so only the products dedup. */
  private lazy val bpeVocabFbCtes: String = {
    val specialsValues = bpeGateSpecials.zipWithIndex
      .map { case (t, i) => s"($i, '$t')" }.mkString(", ")
    val nFixed = bpeGateSpecials.length + 256
    s"""vwf AS (SELECT w AS word FROM (SELECT unnest($TOK) AS w FROM documents) WHERE w <> '' GROUP BY 1), """ +
    """vbase AS (SELECT DISTINCT substr(word, i, 1) AS tok FROM (SELECT word, unnest(generate_series(1, len(word))) AS i FROM vwf)), """ +
    s"""vprod AS (SELECT l || r AS tok, min(rnk) AS rnk FROM (VALUES $bpeMergesValues) t(rnk, l, r) GROUP BY 1), """ +
    s"""vsp AS (SELECT * FROM (VALUES $specialsValues) s(token_id, tok)), """ +
    s"""vbytes AS (SELECT ${bpeGateSpecials.length} + i AS token_id, printf('<0x%02X>', i) AS tok FROM generate_series(0, 255) t(i)), """ +
    """vnew AS (SELECT tok, rnk FROM vprod WHERE tok NOT IN (SELECT tok FROM vbase) """ +
    """AND tok NOT IN (SELECT tok FROM vsp) AND tok NOT IN (SELECT tok FROM vbytes)), """ +
    """vocab AS (SELECT token_id, tok AS token FROM vsp """ +
    """UNION ALL SELECT token_id, tok FROM vbytes """ +
    s"""UNION ALL SELECT $nFixed + row_number() OVER (ORDER BY tok) - 1, tok FROM vbase """ +
    s"""UNION ALL SELECT $nFixed + (SELECT count(*) FROM vbase) + row_number() OVER (ORDER BY rnk) - 1, tok FROM vnew)"""
  }

  /** Shared oracle CTE chain for the BPE gates: word-frequency dict and
    * its adjacent char-pair counts — iteration 0 of the merge loop. */
  private val bpePairCtes =
    s"""wf AS (SELECT w AS word, count(*) AS cnt FROM """ +
    s"""(SELECT unnest($TOK) AS w FROM documents) WHERE w <> '' GROUP BY 1), """ +
    """pp AS (SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r, cnt """ +
    """FROM (SELECT word, cnt, unnest(generate_series(1, len(word) - 1)) AS i """ +
    """FROM wf WHERE len(word) >= 2))"""

  /** Cross-corpus LSH oracle CTE chain (side-tagged corpus → sig → band
    * → candidate → `agree(id_new, id_ref, est)`), shared by
    * `x_dedup_cross` / `x_dedup_cross_indexed` (pair output) and
    * `x_stream_dedup_index` (survivor output) — direct join, persisted
    * index, and streaming sink are materialization details invisible to
    * the result. */
  private lazy val crossDedupCtes: String =
    s"""docs2 AS (SELECT 0 AS side, doc_id, text FROM documents WHERE doc_id < 200 """ +
    """UNION ALL SELECT 1, doc_id, text FROM documents WHERE doc_id >= 200 AND doc_id < 300 """ +
    """UNION ALL SELECT 1, doc_id + 2000000, text || ' zzz' FROM documents WHERE doc_id < 3), """ +
    s"""toks AS (SELECT side, doc_id, $TOK AS l FROM docs2), """ +
    """sh AS (SELECT DISTINCT side, doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 1)), """ +
    """i -> array_to_string(l[i:i+2], ' '))) AS s FROM toks), """ +
    s"""hm AS (SELECT side, doc_id, ${h60sql("s")} % 2147483647 AS h FROM sh), """ +
    """sig AS (SELECT side, doc_id, g.i AS i, """ +
    """min((((g.i * 2654435761) % 2147483647 + 1) * h + (g.i * 40503) % 2147483647 + 7) % 2147483647) AS mh """ +
    """FROM hm, generate_series(0, 31) g(i) GROUP BY 1, 2, 3), """ +
    """bands AS (SELECT side, doc_id, i // 4 AS band, list(mh ORDER BY i) AS bl FROM sig GROUP BY side, doc_id, i // 4), """ +
    """cand AS (SELECT DISTINCT a.doc_id AS id_new, b.doc_id AS id_ref FROM bands a """ +
    """JOIN bands b ON a.band = b.band AND a.bl = b.bl AND a.side = 1 AND b.side = 0), """ +
    """agree AS (SELECT c.id_new, c.id_ref, SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS est """ +
    """FROM cand c JOIN sig sa ON sa.doc_id = c.id_new AND sa.side = 1 """ +
    """JOIN sig sb ON sb.doc_id = c.id_ref AND sb.side = 0 AND sa.i = sb.i GROUP BY 1, 2)"""

  private lazy val crossDedupOracle: String =
    s"""WITH $crossDedupCtes """ +
    """SELECT id_new, id_ref, est AS est_jaccard FROM agree WHERE est >= 0.5 ORDER BY id_new, id_ref"""

  /** Sequential-ingest oracle: side 0 = the indexed reference snapshot,
    * side 1 = micro-batch 1, side 2 = micro-batch 2 (same sig/band
    * kernel as [[crossDedupCtes]]). Survivors1 = side-1 docs with no
    * est≥0.5 match into side 0; survivors2 = side-2 docs with no match
    * into side 0 NOR into a side-1 SURVIVOR (batch 1's survivors were
    * appended to the index before batch 2 ran — a side-1 doc that was
    * itself dropped never entered the index, so matching IT does not
    * drop a side-2 doc). Output: survivors1 ∪ survivors2. */
  private lazy val ingestDedupOracle: String =
    """WITH docs3 AS (SELECT 0 AS side, doc_id, text FROM documents WHERE doc_id < 200 """ +
    """UNION ALL SELECT 1, doc_id, text FROM documents WHERE doc_id >= 200 AND doc_id < 250 """ +
    """UNION ALL SELECT 1, doc_id + 2000000, text || ' zzz' FROM documents WHERE doc_id < 3 """ +
    """UNION ALL SELECT 2, doc_id, text FROM documents WHERE doc_id >= 250 AND doc_id < 300 """ +
    """UNION ALL SELECT 2, doc_id + 4000000, text || ' zzz' FROM documents WHERE doc_id >= 200 AND doc_id < 203 """ +
    """UNION ALL SELECT 2, doc_id + 5000000, text || ' zzz' FROM documents WHERE doc_id >= 3 AND doc_id < 6), """ +
    s"""toks AS (SELECT side, doc_id, $TOK AS l FROM docs3), """ +
    """sh AS (SELECT DISTINCT side, doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 1)), """ +
    """i -> array_to_string(l[i:i+2], ' '))) AS s FROM toks), """ +
    s"""hm AS (SELECT side, doc_id, ${h60sql("s")} % 2147483647 AS h FROM sh), """ +
    """sig AS (SELECT side, doc_id, g.i AS i, """ +
    """min((((g.i * 2654435761) % 2147483647 + 1) * h + (g.i * 40503) % 2147483647 + 7) % 2147483647) AS mh """ +
    """FROM hm, generate_series(0, 31) g(i) GROUP BY 1, 2, 3), """ +
    """bands AS (SELECT side, doc_id, i // 4 AS band, list(mh ORDER BY i) AS bl FROM sig GROUP BY side, doc_id, i // 4), """ +
    """cand AS (SELECT DISTINCT a.side AS sa, a.doc_id AS ida, b.side AS sb, b.doc_id AS idb FROM bands a """ +
    """JOIN bands b ON a.band = b.band AND a.bl = b.bl AND a.side > b.side), """ +
    """agree AS (SELECT c.sa, c.ida, c.sb, c.idb, """ +
    """SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) / 32.0 AS est """ +
    """FROM cand c JOIN sig x ON x.side = c.sa AND x.doc_id = c.ida """ +
    """JOIN sig y ON y.side = c.sb AND y.doc_id = c.idb AND x.i = y.i GROUP BY 1, 2, 3, 4), """ +
    """s1 AS (SELECT doc_id FROM docs3 WHERE side = 1 AND doc_id NOT IN """ +
    """(SELECT ida FROM agree WHERE sa = 1 AND sb = 0 AND est >= 0.5)), """ +
    """s2 AS (SELECT doc_id FROM docs3 WHERE side = 2 AND doc_id NOT IN """ +
    """(SELECT ida FROM agree WHERE sa = 2 AND sb = 0 AND est >= 0.5 """ +
    """UNION SELECT ida FROM agree WHERE sa = 2 AND sb = 1 AND est >= 0.5 """ +
    """AND idb IN (SELECT doc_id FROM s1))) """ +
    """SELECT doc_id FROM s1 UNION ALL SELECT doc_id FROM s2 ORDER BY doc_id"""

  /** Shared DuckDB CTE chain for the DSIR oracles: hashed word-bigram
    * buckets → per-(doc, bucket) tf → raw/target unigram-over-bucket
    * models (target = doc_id < 100) → per-doc decimal log-ratio sum
    * `sc(doc_id, s, nf)`. Ends with `...GROUP BY 1) ` so callers either
    * append the final SELECT or strip the blank and chain another CTE. */
  private lazy val dsirCtes: String =
    s"""WITH toks AS (SELECT doc_id, $TOK AS l FROM documents), """ +
    """grams AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 1, 1)), """ +
    """i -> array_to_string(l[i:i+1], ' '))) AS g FROM toks), """ +
    s"""feats AS (SELECT doc_id, ${h60sql("g")} % 8192 AS b FROM grams WHERE g <> ''), """ +
    """dtf AS (SELECT doc_id, b, count(*)::BIGINT AS tf FROM feats GROUP BY 1, 2), """ +
    """rawm AS (SELECT b, sum(tf)::BIGINT AS c_raw FROM dtf GROUP BY 1), """ +
    """rawt AS (SELECT coalesce(sum(c_raw), 0)::BIGINT AS t_raw FROM rawm), """ +
    """tgtm AS (SELECT b, count(*)::BIGINT AS c_tgt FROM feats WHERE doc_id < 100 GROUP BY 1), """ +
    """tgtt AS (SELECT coalesce(sum(c_tgt), 0)::BIGINT AS t_tgt FROM tgtm), """ +
    """sc AS (SELECT d.doc_id, sum(CAST(d.tf * """ +
    """(ln((coalesce(tm.c_tgt, 0) + 1)::DOUBLE / (tt.t_tgt + 8192)::DOUBLE) """ +
    """- ln((rm.c_raw + 1)::DOUBLE / (rt.t_raw + 8192)::DOUBLE)) AS DECIMAL(28,12))) AS s, """ +
    """sum(d.tf)::BIGINT AS nf """ +
    """FROM dtf d JOIN rawm rm USING (b) LEFT JOIN tgtm tm USING (b), rawt rt, tgtt tt GROUP BY 1) """

  /** Planted-near-dup corpus shared by the LSH-pairs / clustering /
    * grouping queries — the Spark mirror of [[minhashLshCtes]]' `docs2`:
    * docs < 300 plus 3 planted " zzz" variants at id+1000000. */
  private def plantedDocs(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).filter(col("doc_id") < 300)
    val planted = base.filter(col("doc_id") < 3)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text"))
    base.select("doc_id", "text").unionByName(planted)
  }

  /** [[plantedDocs]] → MinHash(32), 8 bands → candidate pairs kept at
    * est_jaccard >= 0.5. */
  private def plantedLshPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashPairs(plantedDocs(s, d), "doc_id", "text", 3, 32, 8)
      .filter(col("est_jaccard") >= 0.5)

  private lazy val ivfRoot: String = {
    val root = s"/tmp/graft-ivf-${ProcessHandle.current().pid()}"
    sys.addShutdownHook {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(root))
    }
    root
  }
  /** Per-process on-disk path of fixture `kind` for sf dir `d`: the
    * per-PROCESS root avoids cross-JVM build/probe races on a shared
    * path, and the md5 of the RAW dir disambiguates (sanitization alone
    * can map distinct sf dirs to the same name); the root is removed on
    * JVM exit. */
  private def indexPath(kind: String, d: String): String = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    s"$ivfRoot/$kind${h}_" + d.replaceAll("[^A-Za-z0-9.]", "_")
  }

  /** [[fixture]] whose value is the tree `build` writes at
    * `indexPath(kind, d)` — the kind is the path prefix, so two tree
    * fixtures cannot share a path. */
  private def tree(kind: String, d: String)(build: String => Unit): String =
    fixture(kind, d) { val p = indexPath(kind, d); build(p); p }

  /** Persisted IVF index fixture: the 1-Lloyd-iteration
    * spherical-k-means codebook plus a [[Similarity.buildIvfIndex]]
    * parquet tree partitioned by list. Returns (index path, codebook). */
  private def ivfIndex(s: SparkSession, d: String): (String, Seq[Seq[Double]]) =
    fixture("ivf_", d) {
      val path = indexPath("ivf_", d)
      val cb = Similarity.kmeansCodebook(
        embs(s, d), "vec_id", "embedding", k = 8, iters = 1)
      Similarity.buildIvfIndex(embs(s, d), "vec_id", "embedding", cb, path)
      (path, cb)
    }

  /** JSONL dump of the documents table — the ingestion gates read this
    * tree back through [[graft.sources.CorpusIngest]], so the round trip
    * (JSON escaping, unicode, NULL source omission) is what the oracle
    * checks against the parquet originals. */
  private def jsonlDump(s: SparkSession, d: String): String =
    tree("jsonl_", d)(graft.sources.CorpusIngest.writeJsonl(
      docs(s, d).select("doc_id", "text", "source"), _))

  /** WET-style crawl dump (uri derived from source + doc id; the gate
    * reads it back through the crawl-record parser). */
  private def wetDump(s: SparkSession, d: String): String =
    tree("wet_", d)(graft.sources.CorpusIngest.writeWet(
      docs(s, d).select(
        concat(lit("https://"), col("source"), lit(".example/"),
          col("doc_id").cast("string")).as("uri"),
        col("text")),
      "uri", "text", _))

  /** CSV dump (RFC-4180 quoting). */
  private def csvDump(s: SparkSession, d: String): String =
    tree("csv_", d)(docs(s, d).select("doc_id", "text", "source")
      .write.mode("overwrite").option("header", "true").csv(_))

  private def textIndex(s: SparkSession, d: String): String =
    tree("ti_", d)(TextIndex.buildTextIndex(docs(s, d), "doc_id", "text", _,
      nBuckets = 64))

  /** Byte-for-byte clone of an index tree to a fresh path — the
    * mutable-ingest stream gates' amortization: their base snapshot
    * index is a build-once fixture and each invocation mutates a CLONE,
    * so repeated bench passes pay a local file copy instead of a
    * distributed rebuild. Oracle-safe by construction (identical
    * bytes). */
  private def cloneTree(s: SparkSession, src: String, dst: String): String = {
    val sp = java.nio.file.Paths.get(src)
    if (java.nio.file.Files.exists(sp)) {
      // local tree: HARD-LINK clone (metadata-only, byte-identical). It
      // relies on the never-rewrite-in-place rule (MetaIO.writeRows):
      // no writer opens an existing index file for writing — parquet
      // part files are written once, MetaIO sidecars write a fresh tmp
      // file and rename over it, deletes only unlink. A writer that
      // truncated a file in place would corrupt the shared base through
      // every link. Cross-device/link-refusing filesystems fall back to
      // a per-file copy.
      val dp = java.nio.file.Paths.get(dst)
      val walk = java.nio.file.Files.walk(sp)
      try walk.parallel().forEach { p =>
        val t = dp.resolve(sp.relativize(p).toString)
        if (java.nio.file.Files.isDirectory(p))
          java.nio.file.Files.createDirectories(t)
        else {
          java.nio.file.Files.createDirectories(t.getParent)
          try { java.nio.file.Files.createLink(t, p); () }
          catch {
            case _: Exception =>
              java.nio.file.Files.copy(p, t,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
          }
        }
      } finally walk.close()
    } else {
      val conf = s.sparkContext.hadoopConfiguration
      val hsp = new org.apache.hadoop.fs.Path(src)
      val hdp = new org.apache.hadoop.fs.Path(dst)
      org.apache.hadoop.fs.FileUtil.copy(
        hsp.getFileSystem(conf), hsp, hdp.getFileSystem(conf), hdp, false,
        conf)
    }
    dst
  }

  /** BASE dedup index for `x_stream_index_ingest` (each invocation
    * clones it before the sink mutates the clone). */
  private def ingBaseDedupIndex(s: SparkSession, d: String): String =
    tree("ingb_", d)(DedupIndex.buildDedupIndex(crossRefCorpus(s, d),
      "doc_id", "text", _, 3, 32, 8))

  /** BASE text index for `x_stream_text_ingest`. */
  private def ingBaseTextIndex(s: SparkSession, d: String): String =
    tree("stib_", d)(TextIndex.buildTextIndex(
      docs(s, d).filter(col("doc_id") < 200).select("doc_id", "text"),
      "doc_id", "text", _, nBuckets = 64))

  /** The 16 smallest-id vectors of `df`, verbatim — a seed codebook
    * the oracle mirrors as a `vec_id` order. */
  private def first16(df: DataFrame): Seq[Seq[Double]] =
    df.select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").limit(16).collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toSeq).toSeq

  /** BASE IVF index for `x_stream_embed_ingest`. */
  private def ingBaseIvfIndex(s: SparkSession, d: String): String =
    tree("eingb_", d) { path =>
      val corpus = embs(s, d).filter(col("vec_id") >= 100)
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", first16(corpus),
        path)
    }

  /** The documents table as the shard writers' doc-level input. */
  private def shardBase(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      coalesce(col("source"), lit("")).as("source"),
      col("n_chars").cast(LongType).as("score"),
      size(TextStats.tokens(col("text"))).cast(LongType).as("n_tok"))

  /** Physical shard tree for the `x_shard_*` gates: the composed
    * select(4096 tokens/source) → shuffle(salt "shard", 32 buckets) →
    * write(8 shards, 64-row files) recipe over the documents table — the
    * same parameters `x_pipeline_shard` pins logically, MATERIALIZED so
    * the gates replay what is physically on disk. The 64-row file cap
    * forces multi-file shards so the per-file manifest laws are
    * exercised (and the file count is oracle-replayable as
    * ceil(rows/64)). */
  private def shardTree(s: SparkSession, d: String): String =
    tree("shard_", d) { path =>
      graft.ops.ShardWriter.writeShardRecipe(shardBase(s, d), "source",
        "doc_id", "score", "n_tok", budget = 4096L, numShards = 8,
        path = path, salt = "shard", buckets = 32, maxRowsPerFile = 64L)
    }

  /** Epoch LINEAGE for the `x_shard_epoch*` / `x_shard_resume` gates:
    * three selection identities (budgets 4096 → 2048 → 1024 over the
    * same recipe, same salt/buckets) published as epochs 0..2 under one
    * root, then epoch 0 retired via `pruneEpochsBefore` — the gates
    * replay the two LIVE epochs' manifests and resume inside the latest.
    * 8-row files force several files per shard, so the resume cut at
    * position 64 (= one full file stripe of 8 shards × 8 rows) prunes
    * each shard's FIRST file and keeps the rest — manifest pruning is
    * what the oracle actually exercises, not a whole-tree scan. */
  private def shardEpochTree(s: SparkSession, d: String): String =
    tree("shardep_", d) { root =>
      val base = shardBase(s, d)
      Seq(4096L, 2048L, 1024L).foreach { budget =>
        val sel = Sample.selectByBudget(base, "source", "doc_id", "score",
          "n_tok", budget).drop("cum_tokens", "sel_rank")
        graft.ops.ShardWriter.writeShardEpoch(
          Sample.shuffleRank(sel, "doc_id", "shard", 32),
          "doc_id", "n_tok", 8, root, salt = "shard", buckets = 32,
          budget = budget, maxRowsPerFile = 8L)
      }
      val gone = graft.ops.ShardWriter.pruneEpochsBefore(s, root, 1)
      require(gone == Seq(0), s"expected to retire epoch 0, got $gone")
    }

  /** TOKENIZED shard tree for the `x_token_shards*` gates: the
    * training-artifact composition end to end — whitespace-token
    * arrays, the deterministic doc shuffle (salt "tw", 32 buckets), the
    * token stream sliced into 64-token context windows (partial tail
    * dropped, the training convention), then the windows THEMSELVES
    * written as a physical shard tree: `window_id` is the dense
    * position of the window stream, so the writer's density and
    * contiguity laws apply verbatim one level up — files of 32 packed
    * fixed-length sequences in consumption order. */
  private def tokenShardTree(s: SparkSession, d: String): String =
    tree("tokshard_", d) { path =>
      val toks = docs(s, d).select(col("doc_id"),
        TextStats.tokens(col("text")).as("ts"))
      val pos = Sample.shuffleRank(toks, "doc_id", salt = "tw", buckets = 32)
      graft.ops.TokenStream.writeContextShards(pos, "shuffle_pos", "ts",
        ctxLen = 64, numShards = 4, path = path, salt = "tw",
        buckets = 32, blocks = 16, maxWindowsPerFile = 32L)
    }

  /** Doc + window epoch LINEAGE for `x_token_resume_epoch`: the
    * cross-epoch TOKEN-level resume needs BOTH halves of the trainer
    * lifecycle on disk — doc-level epochs that CARRY the token arrays
    * (selection budgets 4096 → 2048 under one salt, so epoch 1 is a
    * strict re-selection), and the ctx-64 window tree sliced from epoch
    * 0's permutation (4-window files force manifest pruning on the
    * consumed-prefix read). Returns (doc root, window root). */
  private def tokenEpochTree(s: SparkSession, d: String): (String, String) = {
    val winRoot = indexPath("tokepw_", d)
    val docRoot = tree("tokep_", d) { docRoot =>
      val base = docs(s, d).select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source"),
        col("n_chars").cast(LongType).as("score"),
        TextStats.tokens(col("text")).as("ts"))
        .withColumn("n_tok", size(col("ts")).cast(LongType))
      def sel(budget: Long) = Sample.selectByBudget(base, "source",
          "doc_id", "score", "n_tok", budget)
        .drop("cum_tokens", "sel_rank").drop("source", "score")
      val pos0 = Sample.shuffleRank(sel(4096L), "doc_id", "te", 32)
        .localCheckpoint(true)
      graft.ops.ShardWriter.writeShardEpoch(pos0, "doc_id", "n_tok", 4,
        docRoot, salt = "te", buckets = 32, budget = 4096L,
        maxRowsPerFile = 8L)
      graft.ops.TokenStream.writeContextEpoch(pos0, "shuffle_pos", "ts",
        64, 4, winRoot, salt = "te", buckets = 32, maxWindowsPerFile = 4L)
      pos0.unpersist()
      val pos1 = Sample.shuffleRank(sel(2048L), "doc_id", "te", 32)
      graft.ops.ShardWriter.writeShardEpoch(pos1, "doc_id", "n_tok", 4,
        docRoot, salt = "te", buckets = 32, budget = 2048L,
        maxRowsPerFile = 8L)
    }
    (docRoot, winRoot)
  }

  /** The planted quality corpus shared by the NB classifier gates:
    * every doc_id % 3 == 0 document carries an appended "premium"
    * marker phrase, giving the trainer a learnable signal the oracle
    * re-derives. */
  private def plantedQualityDocs(s: SparkSession, d: String) =
    docs(s, d).select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"),
          lit(" premium curated encyclopedic exemplar prose")))
        .otherwise(col("text")).as("text"))

  /** NB quality model over the planted even-doc training set — shared
    * by `x_classify_nb` and `x_stream_classify` (training is
    * deterministic, so per-process caching is oracle-invisible). */
  private def nbModel(s: SparkSession, d: String): graft.ops.Classifier.NbModel =
    fixture("nb_model", d) {
      val train = plantedQualityDocs(s, d).filter(col("doc_id") % 2 === 0)
        .withColumn("label",
          when(col("doc_id") % 3 === 0, 1L).otherwise(0L))
      graft.ops.Classifier.trainNaiveBayes(train, "label", "text",
        nBuckets = 4096)
    }

  /** The two sides of the cross-corpus dedup gates: the reference
    * snapshot (docs < 200) and the fresh batch (docs 200-299 plus 3
    * planted variants of reference docs) — shared by the direct-join
    * and persisted-index forms so both compare against the SAME oracle. */
  private def crossRefCorpus(s: SparkSession, d: String) =
    docs(s, d).filter(col("doc_id") < 200).select("doc_id", "text")
  private def crossFreshBatch(s: SparkSession, d: String) =
    docs(s, d)
      .filter(col("doc_id") >= 200 && col("doc_id") < 300)
      .select("doc_id", "text")
      .unionByName(docs(s, d).filter(col("doc_id") < 3)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text")))

  /** Decontamination index over the benchmark fixture (docs < 20). */
  private def benchIndex(s: SparkSession, d: String): String =
    tree("bi_", d)(Contamination.buildBenchIndex(
      docs(s, d).filter(col("doc_id") < 20).select("doc_id", "text"),
      "doc_id", "text", _, n = 3, expectedGrams = 1L << 16, fpp = 0.01))

  /** Dedup index over the cross-corpus reference snapshot. */
  private def dedupIndex(s: SparkSession, d: String): String =
    tree("di_", d)(DedupIndex.buildDedupIndex(crossRefCorpus(s, d),
      "doc_id", "text", _, 3, 32, 8))

  /** IVF tree over the CORPUS side of the embedding cross-dedup gate
    * (vec_id >= 100), codebook = its 16 smallest-id vectors — list ids
    * are row_number-1 in vec_id order, which the oracle reproduces. */
  private def ivfIndexCross(s: SparkSession, d: String): String =
    tree("ivfcross_", d) { path =>
      val corpus = embs(s, d).filter(col("vec_id") >= 100)
      Similarity.buildIvfIndex(corpus, "vec_id", "embedding", first16(corpus),
        path)
    }

  /** IVF tree whose codebook is knnJoin's DEFAULT (the 16 smallest-id
    * corpus vectors — their vec_ids 0..15 coincide with codebook
    * indices, and floats widen exactly in the fixed-point kernel), so
    * the indexed batch probe shares x_knn_join's oracle verbatim. */
  private def ivfIndexSeeded(s: SparkSession, d: String): String =
    tree("ivfseed_", d)(Similarity.buildIvfIndex(embs(s, d), "vec_id",
      "embedding", first16(embs(s, d)), _))

  /** Seeded PQ codebooks (m=8 subspaces, ksub=16, iters=0 — the fully
    * oracle-mirrorable quantizer). */
  private def pqCbs(s: SparkSession, d: String): Seq[Seq[Seq[Double]]] =
    fixture("pq_codebooks", d)(Quantize.pqCodebooks(embs(s, d), "vec_id",
      "embedding", m = 8, ksub = 16, iters = 0))

  /** Persisted PQ code table over the full fixture. */
  private def pqIndex(s: SparkSession, d: String): String =
    tree("pq_", d)(Quantize.buildPqIndex(embs(s, d), "vec_id", "embedding",
      pqCbs(s, d), _))

  /** Seed coarse codebook for the IVF+PQ gates: the 16 smallest-id
    * vectors verbatim (the `x_knn_ivf` seeding, fully oracle-mirrorable
    * as `vec_id < 16`). */
  private def seedCoarse(s: SparkSession, d: String): Seq[Seq[Double]] =
    first16(embs(s, d))

  /** IVF+PQ index: coarse seed lists × seeded PQ codes. */
  private def ivfPqIndex(s: SparkSession, d: String): String =
    tree("ipq_", d)(Quantize.buildIvfPqIndex(embs(s, d), "vec_id",
      "embedding", seedCoarse(s, d), pqCbs(s, d), _))

  /** One index family's grown, compacted and deleted fixtures. The
    * GROWN tree is built over the first half of `corpus` with the second
    * half APPENDED; per-row assignment is batch-independent, so it
    * serves the one-shot build's oracle. The COMPACTED tree is the grown
    * one compacted in place (append-accumulated small files rewritten;
    * shared oracle). The DELETED tree is built over `corpus` (its `cols`)
    * plus `planted` rows that are guaranteed probe hits, then
    * tombstone-deletes `deleteIds` (the planted ids): its probe matches
    * the plain-corpus oracle only if tombstones really filter and the
    * subtractive stamp verifies against the planted-free corpus. `build`
    * takes (session, sf dir, rows, path). */
  private final case class IndexFamily(
      kind: String,
      corpus: (SparkSession, String) => DataFrame,
      halves: (Column, Column),
      cols: Seq[String],
      planted: (SparkSession, String) => DataFrame,
      deleteIds: Seq[Long],
      build: (SparkSession, String, DataFrame, String) => Unit,
      append: (DataFrame, String) => Unit,
      compact: (SparkSession, String) => Unit,
      delete: (SparkSession, String, Seq[Long]) => Unit)

  private def grownIndex(f: IndexFamily, s: SparkSession, d: String): String =
    tree(f.kind + "a_", d)(grow(f, s, d, _))

  private def compactedIndex(f: IndexFamily, s: SparkSession, d: String): String =
    tree(f.kind + "c_", d) { path => grow(f, s, d, path); f.compact(s, path) }

  private def deletedIndex(f: IndexFamily, s: SparkSession, d: String): String =
    tree(f.kind + "d_", d) { path =>
      f.build(s, d, f.corpus(s, d).select(f.cols.map(col): _*)
        .unionByName(f.planted(s, d)), path)
      f.delete(s, path, f.deleteIds)
    }

  private def grow(f: IndexFamily, s: SparkSession, d: String, path: String): Unit = {
    f.build(s, d, f.corpus(s, d).filter(f.halves._1), path)
    f.append(f.corpus(s, d).filter(f.halves._2), path)
  }

  private val plantedIds = Seq(7000000L, 7000001L, 7000002L)

  private def evenOdd(c: String): (Column, Column) =
    (pmod(col(c), lit(2L)) === 0, pmod(col(c), lit(2L)) === 1)

  /** 3 planted docs made of the text probe's own query tokens
    * (guaranteed top-overlap hits). */
  private val textFamily = IndexFamily("ti", docs, evenOdd("doc_id"),
    Seq("doc_id", "text"),
    (s, _) => s.range(3).select((col("id") + 3000000L).as("doc_id"),
      lit("the data quick join hash never-in-corpus the data quick join")
        .as("text")),
    Seq(3000000L, 3000001L, 3000002L),
    (_, _, df, p) => TextIndex.buildTextIndex(df, "doc_id", "text", p,
      nBuckets = 64),
    (df, p) => TextIndex.appendTextIndex(df, "doc_id", "text", p),
    (s, p) => IndexMaintenance.compactTextIndex(s, p),
    (s, p, ids) => IndexMaintenance.deleteFromTextIndex(s, p, ids))

  /** Reference snapshot split at doc 100; plants 3 copies of the fresh
    * batch's own planted variants (guaranteed est=1.0 collisions). */
  private val dedupFamily = IndexFamily("di", crossRefCorpus,
    (col("doc_id") < 100, col("doc_id") >= 100), Seq("doc_id", "text"),
    (s, d) => docs(s, d).filter(col("doc_id") < 3)
      .select((col("doc_id") + 7000000L).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text")),
    plantedIds,
    (_, _, df, p) => DedupIndex.buildDedupIndex(df, "doc_id", "text", p,
      3, 32, 8),
    (df, p) => DedupIndex.appendDedupIndex(df, "doc_id", "text", p),
    (s, p) => IndexMaintenance.compactDedupIndex(s, p),
    (s, p, ids) => IndexMaintenance.deleteFromDedupIndex(s, p, ids))

  /** 3 planted 1.001-scaled copies of the query vector: cosine 1.0 (and
    * the cosine coarse assignment is scale-invariant, so they share the
    * query's list); each plant's sub-vectors sit within 0.1% of the
    * query's own PQ codewords (the query is PQ seed 0), so they take its
    * codes and tie its ADC score of 1.0 — top-k entrants either way. */
  private def plantedVecs(s: SparkSession, d: String): DataFrame =
    embs(s, d).filter(col("vec_id") < 3)
      .select((col("vec_id") + 7000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))

  /** Vector family over the full embeddings fixture: evens built, odds
    * appended with the index's own codebooks. */
  private def vecFamily(kind: String,
                        build: (SparkSession, String, DataFrame, String) => Unit,
                        append: (DataFrame, String) => Unit,
                        compact: (SparkSession, String) => Unit,
                        delete: (SparkSession, String, Seq[Long]) => Unit) =
    IndexFamily(kind, embs, evenOdd("vec_id"), Seq("vec_id", "embedding"),
      plantedVecs, plantedIds, build, append, compact, delete)

  /** IVF: the full-corpus k-means codebook of [[ivfIndex]]. */
  private val ivfFamily = vecFamily("iv",
    (s, d, df, p) => Similarity.buildIvfIndex(df, "vec_id", "embedding",
      ivfIndex(s, d)._2, p),
    (df, p) => Similarity.appendIvfIndex(df, "vec_id", "embedding", p),
    (s, p) => IndexMaintenance.compactIvfIndex(s, p),
    (s, p, ids) => IndexMaintenance.deleteFromIvfIndex(s, p, ids))

  private val pqFamily = vecFamily("pq",
    (s, d, df, p) => Quantize.buildPqIndex(df, "vec_id", "embedding",
      pqCbs(s, d), p),
    (df, p) => Quantize.appendPqIndex(df, "vec_id", "embedding", p),
    (s, p) => IndexMaintenance.compactPqIndex(s, p),
    (s, p, ids) => IndexMaintenance.deleteFromPqIndex(s, p, ids))

  private val ivfPqFamily = vecFamily("ip",
    (s, d, df, p) => Quantize.buildIvfPqIndex(df, "vec_id", "embedding",
      seedCoarse(s, d), pqCbs(s, d), p),
    (df, p) => Quantize.appendIvfPqIndex(df, "vec_id", "embedding", p),
    (s, p) => IndexMaintenance.compactIvfPqIndex(s, p),
    (s, p, ids) => IndexMaintenance.deleteFromIvfPqIndex(s, p, ids))

  /** Stage a batch DataFrame as a file-stream source in a fresh run dir
    * (input parquet + checkpoint), hand `(source, checkpointDir)` to `f`
    * — which must drive its streaming query to completion — then DELETE
    * the run dir. The value `f` returns must therefore not read from the
    * staged files (our gates read from the store / a localized copy).
    * Shared by every streaming equivalence gate; without the cleanup,
    * each bench/verify pass leaked a corpus copy under /tmp. */
  private def withStagedStream[T](s: SparkSession, df: DataFrame)
                                 (f: (DataFrame, String) => T): T = {
    val run = java.util.UUID.randomUUID().toString.replace("-", "")
    val root = new java.io.File(s"/tmp/graft-stream/$run")
    df.write.mode("overwrite").parquet(s"$root/in")
    try f(s.readStream.schema(df.schema).parquet(s"$root/in"), s"$root/ckpt")
    finally {
      def del(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(del))
        x.delete()
      }
      del(root)
    }
  }

  /** [[withStagedStream]] with CONTROLLED micro-batch boundaries: each
    * frame lands as exactly one parquet file with strictly increasing
    * modification times, and the source reads with
    * `maxFilesPerTrigger=1`, so under `AvailableNow` batch i contains
    * exactly `batches(i)` — the shape sequential-ingest gates need
    * (batch N+1's behavior depends on what batch N appended). */
  private def withStagedBatches[T](s: SparkSession, batches: Seq[DataFrame])
                                  (f: (DataFrame, String) => T): T = {
    require(batches.nonEmpty)
    val run = java.util.UUID.randomUUID().toString.replace("-", "")
    val root = new java.io.File(s"/tmp/graft-stream/$run")
    val inDir = new java.io.File(root, "in"); inDir.mkdirs()
    batches.zipWithIndex.foreach { case (df, i) =>
      val stage = s"$root/stage$i"
      df.coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dest = new java.io.File(inDir, f"b$i%04d.parquet")
      java.nio.file.Files.move(part.toPath, dest.toPath)
      // FileStreamSource orders by (mtime, path): pin both
      dest.setLastModified(1700000000000L + i * 60000L); ()
    }
    try f(s.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir.toString),
      s"$root/ckpt")
    finally {
      def del(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(del))
        x.delete()
      }
      del(root)
    }
  }

  /** Run a streaming query (complete OR append mode — the caller sets
    * it) into a throwaway memory sink, localize the (small, aggregated)
    * result, and drop the sink's temp view — repeated gate invocations
    * must not accumulate catalog entries or pinned sink state. */
  private def collectMemorySink(s: SparkSession,
                                start: String => org.apache.spark.sql.streaming.StreamingQuery,
                                order: Seq[String]): DataFrame = {
    val name = "g" + java.util.UUID.randomUUID().toString.replace("-", "")
    start(name).awaitTermination()
    val local = localized(s, s.table(name))
    s.catalog.dropTempView(name)
    local.orderBy(order.map(col): _*)
  }

  /** Collect a SMALL, fully-ordered result into a local DataFrame so a
    * resource backing the plan (here: the cached jaccard inverted index)
    * can be freed before the caller consumes the result — a lazy result
    * would otherwise pin the cache until session end (Verify never
    * clears the SQL cache between queries; Bench does). */
  private def localized(s: SparkSession, df: DataFrame): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)

  private def extensionQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup: representative id + multiplicity per distinct text
    "x_dedup_exact" -> ((s, d) =>
      Dedup.exact(docs(s, d), "doc_id", "text").orderBy("keep_id")),

    // exact n-gram Jaccard top-20 pairs (inverted shingle index); the
    // handle frees the cached index's blocks once the (tiny) top-20 is
    // localized, instead of leaking them for the session's lifetime
    "x_dedup_jaccard" -> ((s, d) => {
      val (pairs, handle) = Dedup.jaccardPairsWithHandle(
        docs(s, d).filter(col("doc_id") < 300), "doc_id", "text", 3)
      try localized(s,
        pairs.orderBy(col("jaccard").desc, col("id1"), col("id2")).limit(20))
      finally handle.close()
    }),

    // directional containment over the planted corpus: the " zzz"
    // variants contain their sources nearly whole (the subset signal
    // jaccard understates); both directions fall out of ONE join
    "x_dedup_containment" -> ((s, d) =>
      Dedup.containmentPairs(plantedDocs(s, d), "doc_id", "text", 3,
          minContainment = 0.6)
        .select(col("src_id"), col("dst_id"),
          round(col("containment"), 6).as("containment"))
        .orderBy("src_id", "dst_id")),

    // skew-guarded full-corpus Jaccard: stop-shingles (doc-freq > 100)
    // dropped before the inverted-index join — the hot-key guard at scale
    "x_dedup_jaccard_guard" -> ((s, d) => {
      val (pairs, handle) = Dedup.jaccardPairsWithHandle(
        docs(s, d), "doc_id", "text", 3, maxDocFreq = Some(100L))
      try localized(s,
        pairs.orderBy(col("jaccard").desc, col("id1"), col("id2")).limit(20))
      finally handle.close()
    }),

    // MinHash signatures (portable md5-based hash family), long format
    "x_dedup_minhash_sig" -> ((s, d) =>
      Dedup.minhashSignatures(docs(s, d).filter(col("doc_id") < 300), "doc_id", "text", 3, 16)
        .repartition(col("doc_id")) // barrier: don't inline sig into Generate
        .select(col("doc_id"), posexplode(col("sig")))
        .withColumnRenamed("pos", "i").withColumnRenamed("col", "minhash")
        .withColumn("i", col("i").cast("long"))
        .orderBy("doc_id", "i")),

    // MinHash + banded LSH near-dup pairs over planted near-duplicates
    "x_dedup_minhash_lsh" -> ((s, d) =>
      plantedLshPairs(s, d).orderBy("id1", "id2")),

    // near-dup CLUSTERING: hash-min connected components over the banded-
    // LSH pair graph — every member labeled with its cluster's min doc id
    // (dedup = keep rows where doc_id == cluster afterwards)
    "x_dedup_cluster" -> ((s, d) =>
      Cluster.connectedComponents(plantedLshPairs(s, d), "id1", "id2")
        .select(col("id").as("doc_id"), col("cluster"))
        .orderBy("doc_id")),

    // CROSS-corpus near-dup: a fresh batch (docs 200-299 plus 3 planted
    // variants of reference docs) deduped against the reference snapshot
    // (docs < 200) — the banded-LSH join between two corpora
    "x_dedup_cross" -> ((s, d) =>
      Dedup.minhashPairsAgainst(crossFreshBatch(s, d), crossRefCorpus(s, d),
          "doc_id", "text", 3, 32, 8)
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("id_new", "id_ref")),

    // the same probe against a dedup index grown INCREMENTALLY (built
    // on docs < 100, docs 100-199 appended): fingerprints are per-row,
    // so the grown index shares the one-shot oracle; the probe still
    // verifies freshness against the full reference
    "x_dedup_cross_append" -> ((s, d) =>
      graft.ops.DedupIndex.pairsAgainstIndex(s, grownIndex(dedupFamily, s, d),
          crossFreshBatch(s, d), "doc_id", "text",
          verifyAgainst = Some((crossRefCorpus(s, d), "doc_id")))
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("id_new", "id_ref")),

    // the same cross-corpus dedup served from the PERSISTED index: the
    // reference snapshot's signatures/bands are built once per process
    // and the probe runs through the freshness contract — text of the
    // reference corpus is never re-read at probe time
    "x_dedup_cross_indexed" -> ((s, d) =>
      graft.ops.DedupIndex.pairsAgainstIndex(s, dedupIndex(s, d),
          crossFreshBatch(s, d), "doc_id", "text",
          verifyAgainst = Some((crossRefCorpus(s, d), "doc_id")))
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("id_new", "id_ref")),

    // the same cross-corpus probe against a grown-then-COMPACTED index
    "x_dedup_cross_compact" -> ((s, d) =>
      graft.ops.DedupIndex.pairsAgainstIndex(s, compactedIndex(dedupFamily, s, d),
          crossFreshBatch(s, d), "doc_id", "text",
          verifyAgainst = Some((crossRefCorpus(s, d), "doc_id")))
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("id_new", "id_ref")),

    // the same probe with 3 planted reference-side copies of the fresh
    // batch's variants tombstone-DELETED: the est=1.0 pairs they would
    // generate vanish only if deleted docs stop pairing, and the
    // subtractive stamp verifies against the planted-free snapshot
    "x_dedup_cross_delete" -> ((s, d) =>
      graft.ops.DedupIndex.pairsAgainstIndex(s, deletedIndex(dedupFamily, s, d),
          crossFreshBatch(s, d), "doc_id", "text",
          verifyAgainst = Some((crossRefCorpus(s, d), "doc_id")))
        .filter(col("est_jaccard") >= 0.5)
        .orderBy("id_new", "id_ref")),

    // intra-doc line dedup: planted repeated lines collapse to their
    // first occurrence, blank lines survive
    "x_line_dedup_within" -> ((s, d) => {
      val src = docs(s, d).select(col("doc_id"),
        concat(lit("INTRO\n"), col("text"),
          lit("\nINTRO\n\n\nINTRO\ntail")).as("text"))
      Dedup.dedupLinesWithin(src, "doc_id", "text").orderBy("doc_id")
    }),

    // corpus-level line dedup (boilerplate stripping): planted banner/
    // footer lines cross the doc-freq threshold and are removed from
    // every document; each doc's own text line is unique and kept
    "x_line_dedup" -> ((s, d) => {
      val src = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(lit("== COOKIE NOTICE ==\n"), col("text"),
            lit("\nAll rights reserved")))
          .otherwise(concat(col("text"), lit("\nAll rights reserved")))
          .as("text"))
      Dedup.stripBoilerplate(src, "doc_id", "text", maxDocFreq = 100L)
        .orderBy("doc_id")
    }),

    // composed near-dup GROUPING entry point: LSH pairs → connected
    // components → keep-min, every doc labeled (singletons keep own id)
    "x_neardup_groups" -> ((s, d) =>
      Dedup.nearDupGroups(plantedDocs(s, d), "doc_id", "text", 3, 32, 8, 0.5)
        .select(col("doc_id"), col("cluster"),
          col("keep").cast(LongType).as("keep"))
        .orderBy("doc_id")),

    // retention POLICY over the same clusters: keep the LONGEST member
    // (token count) instead of the min id — the planted " zzz" variants
    // are one token longer than their sources, so the kept set visibly
    // differs from x_neardup_groups' keep-min labels
    "x_dedup_keep_best" -> ((s, d) =>
      Dedup.nearDupKeepBest(plantedDocs(s, d), "doc_id", "text",
          size(TextStats.tokens(col("text"))).cast(LongType), 3, 32, 8, 0.5)
        .select(col("doc_id"), col("cluster"), col("score"),
          col("keep").cast(LongType).as("keep"))
        .orderBy("doc_id")),

    // 60-bit SimHash fingerprints
    "x_dedup_simhash" -> ((s, d) =>
      Dedup.simhash(docs(s, d).filter(col("doc_id") < 300), "doc_id", "text")
        .orderBy("doc_id")),

    // SimHash PAIRING: pigeonhole-banded hamming join over planted exact
    // (hamming 0) and near (one-token) duplicates — must equal the
    // oracle's brute-force all-pairs filter exactly
    "x_dedup_simhash_pairs" -> ((s, d) => {
      val base = docs(s, d).filter(col("doc_id") < 300).select("doc_id", "text")
      val near = docs(s, d).filter(col("doc_id") < 3)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(col("text"), lit(" zzz")).as("text"))
      val exact = docs(s, d).filter(col("doc_id") < 3)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      Dedup.simhashPairs(base.unionByName(near).unionByName(exact),
          "doc_id", "text", maxHamming = 5)
        .orderBy("id1", "id2")
    }),

    // embedding-cosine near-dup via hyperplane LSH (planted scaled copies:
    // cosine is scale-invariant, so each copy pairs with its source at 1.0)
    "x_dedup_embed" -> ((s, d) => {
      val base = embs(s, d)
      val planted = base.filter(col("vec_id") < 3)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      val all = base.select("vec_id", "embedding").unionByName(planted)
      Dedup.embeddingNearDup(all, "vec_id", "embedding", planes = 12, minCosine = 0.99)
        .select(col("id1"), col("id2"), round(col("cosine"), 4).as("cosine"))
        .orderBy("id1")
    }),

    // embedding near-dup GROUPS: the composed embedding dedup flow —
    // LSH-bucketed cosine pairs → connected components → whole-corpus
    // labeling; planted scaled copies cluster under their source id
    "x_dedup_embed_groups" -> ((s, d) => {
      val base = embs(s, d)
      val planted = base.filter(col("vec_id") < 3)
        .select((col("vec_id") + 1000000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.001f)).as("embedding"))
      val all = base.select("vec_id", "embedding").unionByName(planted)
      Dedup.embeddingNearDupGroups(all, "vec_id", "embedding",
          planes = 12, minCosine = 0.99)
        .select(col("vec_id"), col("cluster"),
          col("keep").cast(LongType).as("keep"))
        .orderBy("vec_id")
    }),

    // TF-IDF sparse-cosine near-dup pairs: shared RARE terms dominate
    // the pairing; idf snapped to 1e-6 integer units makes the 0.8
    // threshold decision engine-exact
    "x_dedup_tfidf" -> ((s, d) =>
      Dedup.tfidfCosinePairs(docs(s, d).filter(col("doc_id") < 100),
          "doc_id", "text", minCosine = 0.8)
        .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cosine"))
        .orderBy("id1", "id2")),

    // SemDeDup: spherical k-means clusters (1 Lloyd iteration — the
    // x_kmeans_assign assignment), then pairwise fixed-point cosine
    // ONLY within a cluster; a row is dropped iff some lower-id
    // same-cluster row clears the threshold. τ=0.4 sits in the natural
    // tail of the fixture's within-cluster cosine distribution, so the
    // gate exercises real semantic drops, not planted copies
    "x_dedup_semantic" -> ((s, d) =>
      Dedup.semanticDedup(embs(s, d), "vec_id", "embedding",
          k = 8, iters = 1, minCosine = 0.4)
        .orderBy("vec_id")),

    // brute-force cosine top-10 (exact-decimal kernel for the oracle)
    "x_knn_cosine" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      Similarity.topK(embs(s, d), "vec_id", "embedding", q, 10, exactDecimal = true)
        .select(col("vec_id"), round(col("score"), 6).as("score"))
    }),

    // LSH-bucketed ANN: same query vector, candidates from probed buckets
    "x_knn_lsh" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      Similarity.lshTopK(embs(s, d), "vec_id", "embedding", q, 10,
          planes = 8, probeHamming = 2, exactDecimal = true)
        .select(col("vec_id"), round(col("score"), 6).as("score"), col("bucket"))
    }),

    // IVF ANN: nlist deterministic centroid lists, nprobe probed — the
    // classic inverted-file scheme with a fixed codebook
    "x_knn_ivf" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      Similarity.ivfTopK(embs(s, d), "vec_id", "embedding", q, 10,
          nlist = 16, nprobe = 4)
        .select(col("vec_id"), round(col("score"), 6).as("score"), col("list"))
    }),

    // batch kNN JOIN: per-query top-5 for 5 query vectors in one
    // IVF-pruned job — corpus rows meet only queries probing their
    // list; the oracle replays assignment, per-query probe selection,
    // and pair scores from the same fixed-point dots
    "x_knn_join" -> ((s, d) => {
      val emb = embs(s, d)
      Similarity.knnJoin(emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 5, nlist = 16, nprobe = 4)
        .select(col("query_id"), col("neighbor_id"),
          round(col("score"), 6).as("score"), col("list"))
        .orderBy("query_id", "neighbor_id")
    }),

    // cross-corpus embedding dedup against the persisted IVF tree:
    // 20 planted 1.5×-scaled copies of corpus vectors (cosine exactly
    // 1.0, scale-invariant) ride a 50-vector "new" batch — every copy
    // must drop, and the oracle replays assignment, per-row probes, and
    // pair cosines to decide exactly who survives
    "x_dedup_embed_cross" -> ((s, d) => {
      val emb = embs(s, d)
      val planted = emb.filter(col("vec_id") >= 100 && col("vec_id") < 120)
        .select((col("vec_id") + 20000L).as("vec_id"),
          transform(col("embedding"), x => x * lit(1.5f)).as("embedding"))
      val newSide = emb.filter(col("vec_id") < 50)
        .select("vec_id", "embedding").unionByName(planted)
      Similarity.embeddingDedupAgainstIndex(s, ivfIndexCross(s, d), newSide,
          "vec_id", "embedding", minCosine = 0.99, nprobe = 4,
          verifyAgainst = Some((emb.filter(col("vec_id") >= 100), "vec_id")))
        .select("vec_id").orderBy("vec_id")
    }),

    // the same batch probe against a PERSISTED IVF tree (assignment
    // paid at build; probed-list union pruned at file listing; probe
    // runs through the freshness stamp check) — identical per-query
    // top-k, shared oracle
    "x_knn_join_indexed" -> ((s, d) => {
      val emb = embs(s, d)
      Similarity.knnJoinIndexed(s, ivfIndexSeeded(s, d),
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, nprobe = 4, verifyAgainst = Some((emb, "vec_id")))
        .select(col("query_id"), col("neighbor_id"),
          round(col("score"), 6).as("score"), col("list"))
        .orderBy("query_id", "neighbor_id")
    }),

    // the FILTERED batch probe: the same 5-query join restricted to a
    // metadata predicate's id set (vec_id % 3 == 1) — the semi-join
    // lands between candidate generation and scoring, so each query's
    // rows are the true filtered top-k of its probed lists; the oracle
    // replays the chain with the predicate in the candidate CTE
    "x_knn_join_filtered" -> ((s, d) => {
      val emb = embs(s, d)
      Similarity.knnJoinIndexedFiltered(s, ivfIndexSeeded(s, d),
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, nprobe = 4,
          allowed = emb.filter(col("vec_id") % 3 === 1),
          allowedIdCol = "vec_id",
          verifyAgainst = Some((emb, "vec_id")))
        .select(col("query_id"), col("neighbor_id"),
          round(col("score"), 6).as("score"), col("list"))
        .orderBy("query_id", "neighbor_id")
    }),

    // PER-STRATUM filtered batch probe (multi-tenant retrieval): even
    // queries see only even corpus ids, odd queries only vec_id % 3
    // == 1 — each query's rows are the true filtered top-k of its OWN
    // allowed set, via one (stratum, id) semi-join between candidate
    // generation and scoring; the oracle carries the per-qid predicate
    // in the candidate CTE
    "x_knn_join_stratified" -> ((s, d) => {
      val emb = embs(s, d)
      val allow = emb.filter(col("vec_id") % 2 === 0)
        .select(lit("even").as("str"), col("vec_id"))
        .unionByName(emb.filter(col("vec_id") % 3 === 1)
          .select(lit("odd").as("str"), col("vec_id")))
      Similarity.knnJoinIndexedStratified(s, ivfIndexSeeded(s, d),
          emb.filter(col("vec_id") < 5).withColumn("str",
            when(col("vec_id") % 2 === 0, lit("even")).otherwise(lit("odd"))),
          "vec_id", "embedding", "str", k = 5, nprobe = 4,
          allowedByStratum = allow, stratumCol = "str", idCol = "vec_id",
          verifyAgainst = Some((emb, "vec_id")))
        .select(col("query_id"), col("neighbor_id"),
          round(col("score"), 6).as("score"), col("list"))
        .orderBy("query_id", "neighbor_id")
    }),

    // spherical k-means (1 Lloyd iteration, fixed-point determinism):
    // every vector labeled with its trained-codebook list
    "x_kmeans_assign" -> ((s, d) =>
      Similarity.kmeansAssign(embs(s, d), "vec_id", "embedding", k = 8, iters = 1)
        .orderBy("vec_id")),

    // per-label embedding centroids, flat (label, dim, value) rows —
    // fixed-point decimal sums make the means order-free and engine-
    // exact; one partial-agg shuffle, never an exploded corpus
    "x_embed_centroids" -> ((s, d) =>
      Similarity.groupCentroids(embs(s, d), "label", "embedding", dim = 64)
        .select(col("label"), col("dim"),
          round(col("centroid"), 6).as("centroid"))
        .orderBy("label", "dim")),

    // k-means|| oversampled init (Bahmani et al. 2012), fully hash-
    // deterministic: 2 rounds sampling ~8 candidates each with
    // probability l*d^2/phi through an exact-integer coin test, then
    // Voronoi-population weighting and the top-4-by-weight cut — the
    // oracle replays every round's candidate set, the weights, and the
    // selection bit-for-bit
    "x_kmeans_par_init" -> ((s, d) => {
      import s.implicits._
      val (centers, cand) = Similarity.kmeansParallelInit(
        embs(s, d), "vec_id", "embedding", k = 4, l = 8, rounds = 2,
        salt = "g")
      require(centers.length == 4, s"expected 4 centers, got ${centers.length}")
      val selIdx = cand.sortBy { case (i, _, w) => (-w, i) }.take(4)
        .map(_._1).zipWithIndex.toMap
      cand.map { case (i, id, w) =>
        (i.toLong, id, w, selIdx.get(i).map(_.toLong)) }
        .toDF("cand_idx", "vec_id", "weight", "sel")
        .orderBy("cand_idx")
    }),

    // trained-codebook IVF: k-means(8, 1 iter) codebook into the
    // nlist/nprobe machinery, exact fixed-point rescoring
    "x_knn_ivf_trained" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      val cb = Similarity.kmeansCodebook(embs(s, d), "vec_id", "embedding",
        k = 8, iters = 1)
      Similarity.ivfTopK(embs(s, d), "vec_id", "embedding", q, 10,
          nprobe = 3, codebook = Some(cb))
        .select(col("vec_id"), round(col("score"), 6).as("score"), col("list"))
    }),

    // the SAME trained-IVF machinery seeded through the kmeans|| init
    // DIAL (KmeansInit.Parallel — the production path for id-correlated
    // corpora): k-means||(k=4, l=8, 2 rounds) centers, one Lloyd round,
    // then the nlist/nprobe probe with exact rescoring — the oracle
    // replays init, refinement, and probe end to end
    "x_knn_ivf_trained_par" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      val cb = Similarity.kmeansCodebook(embs(s, d), "vec_id", "embedding",
        k = 4, iters = 1,
        init = Similarity.KmeansInit.Parallel(l = 8, rounds = 2, salt = "g"))
      Similarity.ivfTopK(embs(s, d), "vec_id", "embedding", q, 10,
          nprobe = 3, codebook = Some(cb))
        .select(col("vec_id"), round(col("score"), 6).as("score"), col("list"))
    }),

    // persisted inverted TEXT index: build once (hive-partitioned by
    // token bucket), probe through the freshness contract reading only
    // the query tokens' buckets; integer overlap scoring so the oracle
    // reproduces the ranking exactly
    "x_text_index" -> ((s, d) => {
      val path = textIndex(s, d)
      graft.ops.TextIndex.searchIndex(s, path,
          "the data quick join hash never-in-corpus", 10,
          verifyAgainst = (docs(s, d), "doc_id"))
        .select(col("id").as("doc_id"), col("overlap"))
    }),

    // the same probe against an index grown INCREMENTALLY (build on the
    // even docs, append the odd docs): every _meta quantity is additive,
    // so the grown index is indistinguishable from a one-shot build and
    // shares its oracle; the probe still runs the freshness contract
    // against the full corpus
    "x_text_index_append" -> ((s, d) => {
      val path = grownIndex(textFamily, s, d)
      graft.ops.TextIndex.searchIndex(s, path,
          "the data quick join hash never-in-corpus", 10,
          verifyAgainst = (docs(s, d), "doc_id"))
        .select(col("id").as("doc_id"), col("overlap"))
    }),

    // the same probe against a grown-then-COMPACTED index: compaction
    // (file coalescing + staging/swap) must be invisible to results
    "x_text_index_compact" -> ((s, d) => {
      val path = compactedIndex(textFamily, s, d)
      graft.ops.TextIndex.searchIndex(s, path,
          "the data quick join hash never-in-corpus", 10,
          verifyAgainst = (docs(s, d), "doc_id"))
        .select(col("id").as("doc_id"), col("overlap"))
    }),

    // the same probe against an index with 3 planted all-query-token
    // docs tombstone-DELETED: matches the plain-corpus oracle only if
    // deletion really filters (the planted docs would otherwise be the
    // top 3 hits) and the subtractive stamp verifies against the
    // planted-free corpus
    "x_text_index_delete" -> ((s, d) => {
      val path = deletedIndex(textFamily, s, d)
      graft.ops.TextIndex.searchIndex(s, path,
          "the data quick join hash never-in-corpus", 10,
          verifyAgainst = (docs(s, d), "doc_id"))
        .select(col("id").as("doc_id"), col("overlap"))
    }),

    // BM25 over the same persisted index: tf and doc_len ride each
    // posting and (N, total tokens) ride _meta, so the scored probe is
    // as pruned as the overlap one — no corpus-sized join at query time
    "x_text_bm25" -> ((s, d) => {
      val path = textIndex(s, d)
      graft.ops.TextIndex.searchIndexBM25(s, path,
          "the data quick join hash never-in-corpus", 10,
          verifyAgainst = Some((docs(s, d), "doc_id")))
        .select(col("id").as("doc_id"), round(col("score"), 6).as("score"))
    }),

    // BATCH BM25: a 2-query suite answered from ONE pruned scan (df
    // counted once over the union's matched postings, per-query
    // ranking windows) — per-query results equal to one-at-a-time
    "x_text_bm25_batch" -> ((s, d) => {
      val path = textIndex(s, d)
      graft.ops.TextIndex.searchBM25Batch(s, path,
          Seq("the data quick join hash never-in-corpus", "table hash merge"),
          10, verifyAgainst = Some((docs(s, d), "doc_id")))
        .select(col("query_idx"), col("id").as("doc_id"),
          round(col("score"), 6).as("score"))
    }),

    // BATCH phrase probe: a 4-phrase decontamination suite (one never
    // matching) checked in ONE pruned scan — the full contaminated set
    // per phrase, not a top-k
    "x_text_phrases" -> ((s, d) => {
      val path = textIndex(s, d)
      graft.ops.TextIndex.searchPhrases(s, path,
          Seq("table hash", "merge group", "slow key", "zz-never matches"),
          verifyAgainst = Some((docs(s, d), "doc_id")))
        .select(col("phrase_idx"), col("id").as("doc_id"), col("n_phrase"))
    }),

    // conjunctive (AND) probe over the same persisted index: only docs
    // containing EVERY query token rank, scored by total query-token
    // occurrences — a 3-of-4 match must be absent, not lower
    "x_text_search_all" -> ((s, d) => {
      val path = textIndex(s, d)
      graft.ops.TextIndex.searchAllTokens(s, path,
          "the data join hash", 15,
          verifyAgainst = Some((docs(s, d), "doc_id")))
        .select(col("id").as("doc_id"), col("hits"))
    }),

    // exact-phrase probe over the SAME persisted index: adjacency
    // verified from per-posting position arrays (no corpus access, no
    // n-gram explode) — occurrence counts must match a full positional
    // scan of the raw text
    "x_text_phrase" -> ((s, d) => {
      val path = textIndex(s, d)
      graft.ops.TextIndex.searchPhrase(s, path, "table hash", 10,
          verifyAgainst = Some((docs(s, d), "doc_id")))
        .select(col("id").as("doc_id"), col("n_phrase"))
    }),

    // proximity probe: docs holding ALL of the query tokens ranked by
    // minimal cover span (shortest run of consecutive tokens containing
    // the three, any order) — adjacency-to-anywhere middle ground,
    // served entirely from the positional postings' pruned scan
    "x_text_near" -> ((s, d) => {
      val path = textIndex(s, d)
      graft.ops.TextIndex.searchProximity(s, path, "table hash merge", 10,
          verifyAgainst = Some((docs(s, d), "doc_id")))
        .select(col("id").as("doc_id"), col("min_span"))
    }),

    // PERSISTED IVF: the same trained codebook, but assignment is built
    // ONCE into a list-partitioned parquet index; the query reads only
    // the 3 probed list directories (partition pruning) — the
    // build-once/probe-many shape, returning the identical top-k
    "x_knn_ivf_indexed" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      val (path, _) = ivfIndex(s, d)
      // freshness contract runs INSIDE the probe call: the verifyAgainst
      // overload checks the build stamp against the live table (id-only
      // hashed-count scan) and reads the codebook from the index tree —
      // the gate exercises the exact build-once/probe-many API a user
      // would call, every round, under the oracle
      Similarity.ivfTopKIndexed(s, path, q, 10, nprobe = 3,
        verifyAgainst = (embs(s, d), "vec_id"))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"),
          col("list"))
    }),

    // FILTERED vector search over the same persisted trained-IVF
    // index: the allowed set is a metadata predicate's id column
    // (vec_id % 3 == 1), intersected with the probed candidates
    // id-only BEFORE the exact rescoring — the true filtered top-k of
    // the probed lists, not a post-hoc filter of an unfiltered top-k
    // (which silently returns < k under any selective filter). The
    // oracle replays probe selection, the candidate-set predicate, and
    // the fixed-point rescoring in one chain
    "x_knn_filtered" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      val (path, _) = ivfIndex(s, d)
      Similarity.ivfTopKIndexedFiltered(s, path, q, 10, nprobe = 3,
          allowed = embs(s, d).filter(col("vec_id") % 3 === 1),
          allowedIdCol = "vec_id",
          verifyAgainst = Some((embs(s, d), "vec_id")))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"),
          col("list"))
    }),

    // the same probe against an IVF index grown INCREMENTALLY (built on
    // the even vec_ids, odd vec_ids appended against the index's own
    // codebook): per-row assignment is batch-independent, so the grown
    // index serves the identical top-k and shares the oracle
    "x_knn_ivf_append" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      Similarity.ivfTopKIndexed(s, grownIndex(ivfFamily, s, d), q, 10, nprobe = 3,
        verifyAgainst = (embs(s, d), "vec_id"))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"),
          col("list"))
    }),

    // product quantization (Jégou et al., TPAMI 2011): 64-dim floats
    // become 8 codeword indices (32× compression); ADC scores cosine
    // against the QUANTIZED vector via per-subspace lookup tables —
    // the memory side of billion-scale ANN, mirrored algorithmically
    // by the oracle (seeded codebooks, fixed-point L2 assignment)
    "x_knn_pq" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      graft.ops.Quantize.pqTopK(embs(s, d), "vec_id", "embedding", q, 10,
          pqCbs(s, d))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    }),

    // the same ADC probe against the PERSISTED code table: the scan
    // reads (id, codes) rows only — never the float vectors — and the
    // freshness contract verifies the build stamp against the live
    // table; shares the one-shot oracle
    "x_knn_pq_indexed" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      graft.ops.Quantize.pqTopKIndexed(s, pqIndex(s, d), q, 10,
          verifyAgainst = Some((embs(s, d), "vec_id")))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    }),

    // the same probe against a PQ index grown INCREMENTALLY (built on
    // the even vec_ids, odd vec_ids encoded with the index's own
    // codebooks and appended): per-row encoding is batch-independent,
    // so the grown index serves the identical top-k
    "x_knn_pq_append" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      graft.ops.Quantize.pqTopKIndexed(s, grownIndex(pqFamily, s, d), q, 10,
          verifyAgainst = Some((embs(s, d), "vec_id")))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    }),

    // the same probe against a grown-then-COMPACTED PQ code table
    "x_knn_pq_compact" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      graft.ops.Quantize.pqTopKIndexed(s, compactedIndex(pqFamily, s, d), q, 10,
          verifyAgainst = Some((embs(s, d), "vec_id")))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    }),

    // the same probe with 3 planted near-copies of the query vector
    // (ADC score 1.0 — guaranteed entrants) tombstone-DELETED: matches
    // the plain-corpus oracle only if deletion filters and the
    // subtractive stamp verifies
    "x_knn_pq_delete" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      graft.ops.Quantize.pqTopKIndexed(s, deletedIndex(pqFamily, s, d), q, 10,
          verifyAgainst = Some((embs(s, d), "vec_id")))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    }),

    // IVF + PQ composed (IVFADC): coarse-list partition pruning over
    // the compressed code table — the probe reads 4 of 16 list dirs
    // AND only (id, codes) rows; scores are plain ADC, so the ranking
    // restricted to probed lists mirrors exactly
    "x_knn_ivfpq" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      graft.ops.Quantize.ivfPqTopKIndexed(s, ivfPqIndex(s, d), q, 10,
          nprobe = 4, verifyAgainst = Some((embs(s, d), "vec_id")))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"),
          col("list"))
    }),

    // FILTERED search at the COMPRESSED tier: the same composed probe
    // with the allowed-id semi-join (vec_id % 3 == 1) between
    // candidate generation and ADC scoring — codes only, the filter
    // never touches vectors; the oracle carries the predicate in the
    // candidate CTE of the full quantizer chain
    "x_knn_ivfpq_filtered" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      graft.ops.Quantize.ivfPqTopKIndexedFiltered(s, ivfPqIndex(s, d), q,
          10, nprobe = 4,
          allowed = embs(s, d).filter(col("vec_id") % 3 === 1),
          allowedIdCol = "vec_id",
          verifyAgainst = Some((embs(s, d), "vec_id")))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"),
          col("list"))
    }),

    // IVFADC refinement: the composed probe's top-30 codes-only
    // candidates re-scored by EXACT cosine against their raw vectors,
    // top-10 of the re-ranking returned — the standard two-stage
    // retrieval shape (compressed candidate scan, r-row exact re-rank);
    // both the candidate cut and the re-scores replay bit-for-bit
    "x_knn_ivfpq_rerank" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      graft.ops.Quantize.ivfPqTopKRefined(s, ivfPqIndex(s, d), embs(s, d),
          "vec_id", "embedding", q, k = 10, r = 30, nprobe = 4,
          verifyAgainst = Some((embs(s, d), "vec_id")))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    }),

    // SQ8 scalar quantization: per-dim affine byte codes (4x), query
    // full-precision, corpus scored against its dequantized codes —
    // params, codes, dequant, and fixed-point scores all replayed
    "x_knn_sq" -> ((s, d) => {
      val emb = embs(s, d)
      val (mins, maxs) = graft.ops.Quantize.sqParams(emb, "embedding", 64)
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      graft.ops.Quantize.sqTopK(emb, "vec_id", "embedding", q, 10, mins, maxs)
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"))
    }),

    // batch ADC join over the composed tree: per-query top-10 for 5
    // simultaneous queries — LUTs computed once per query AS COLUMNS,
    // candidates from each query's own probed lists, codes-only scan
    "x_knn_ivfpq_join" -> ((s, d) => {
      val emb = embs(s, d)
      graft.ops.Quantize.ivfPqKnnJoin(s, ivfPqIndex(s, d),
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 10, nprobe = 4, verifyAgainst = Some((emb, "vec_id")))
        .select(col("query_id"), col("neighbor_id"),
          round(col("score"), 6).as("score"), col("list"))
        .orderBy("query_id", "neighbor_id")
    }),

    // batch two-stage retrieval: per-query ADC top-20 candidates from
    // the codes-only pruned join, exact-cosine re-rank of every
    // (query, candidate) pair against raw vectors fetched by id
    // pushdown, per-query top-10 — the production shape for serving a
    // query batch off the compressed tree
    "x_knn_ivfpq_join_rerank" -> ((s, d) => {
      val emb = embs(s, d)
      graft.ops.Quantize.ivfPqKnnJoinRefined(s, ivfPqIndex(s, d),
          emb.filter(col("vec_id") < 5), "vec_id", "embedding",
          emb, "vec_id", "embedding", k = 10, r = 20, nprobe = 4,
          verifyAgainst = Some((emb, "vec_id")))
        .select(col("query_id"), col("neighbor_id"),
          round(col("score"), 6).as("score"))
        .orderBy("query_id", "neighbor_id")
    }),

    // the same probe against an IVF+PQ index grown incrementally with
    // the index's own coarse and PQ codebooks
    "x_knn_ivfpq_append" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      graft.ops.Quantize.ivfPqTopKIndexed(s, grownIndex(ivfPqFamily, s, d), q, 10,
          nprobe = 4, verifyAgainst = Some((embs(s, d), "vec_id")))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"),
          col("list"))
    }),

    // the same probe against a grown-then-COMPACTED IVF+PQ tree
    "x_knn_ivfpq_compact" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      graft.ops.Quantize.ivfPqTopKIndexed(s, compactedIndex(ivfPqFamily, s, d), q, 10,
          nprobe = 4, verifyAgainst = Some((embs(s, d), "vec_id")))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"),
          col("list"))
    }),

    // the same probe with 3 planted same-list near-copies of the query
    // vector tombstone-DELETED from the composed tree
    "x_knn_ivfpq_delete" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      graft.ops.Quantize.ivfPqTopKIndexed(s, deletedIndex(ivfPqFamily, s, d), q, 10,
          nprobe = 4, verifyAgainst = Some((embs(s, d), "vec_id")))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"),
          col("list"))
    }),

    // the same probe against a grown-then-COMPACTED IVF tree
    "x_knn_ivf_compact" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      Similarity.ivfTopKIndexed(s, compactedIndex(ivfFamily, s, d), q, 10, nprobe = 3,
        verifyAgainst = (embs(s, d), "vec_id"))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"),
          col("list"))
    }),

    // the same probe with 3 planted copies of the query vector
    // tombstone-DELETED: cosine-1.0 entrants vanish from the top-k only
    // if deletion filters, and the subtractive stamp verifies against
    // the planted-free corpus
    "x_knn_ivf_delete" -> ((s, d) => {
      val q = embs(s, d).filter(col("vec_id") === 0)
        .select("embedding").collect()(0).getSeq[Float](0)
      Similarity.ivfTopKIndexed(s, deletedIndex(ivfFamily, s, d), q, 10, nprobe = 3,
        verifyAgainst = (embs(s, d), "vec_id"))
        .select(col("id").as("vec_id"), round(col("score"), 6).as("score"),
          col("list"))
    }),

    // language-ID (stopword votes, fixed precedence)
    "x_lang_id" -> ((s, d) =>
      docs(s, d).select(col("doc_id"), col("lang"),
        TextStats.langId(col("text")).as("guess")).orderBy("doc_id")),

    // the per-SOURCE governance report a dataset card publishes:
    // document/token/char mass, exact-duplicate debt, language spread
    "x_corpus_report" -> ((s, d) =>
      TextStats.corpusReport(docs(s, d).select("source", "text"),
        "source", "text").orderBy("source")),

    // the DATASET CARD: the governance report joined with the
    // temperature-mix dry-run on the domain — what the corpus IS next
    // to what the recipe would DO with it, one relation; the oracle
    // joins both already-gated chains
    "x_dataset_card" -> ((s, d) =>
      TextStats.datasetCard(docs(s, d).select("doc_id", "source", "text"),
          "source", "doc_id", "text", alpha = 0.5, budgetDocs = 1000L)
        .orderBy("source")),

    // ...extended with CONTAMINATION debt: the docs each source would
    // lose to a benchmark decontamination sweep (>= 2 shared trigrams
    // vs the docs < 20 suite — the x_contamination rule verbatim, so
    // the card's number IS the sweep's drop count)
    "x_corpus_report_contam" -> ((s, d) =>
      TextStats.corpusReportContamination(
          docs(s, d).select("doc_id", "source", "text"), "source",
          "doc_id", "text",
          docs(s, d).filter(col("doc_id") < 20).select("doc_id", "text"),
          "doc_id", "text", n = 3, minShared = 2L)
        .orderBy("source")),

    // ...extended with NEAR-dup debt over the planted corpus: the
    // MinHash-LSH clusters' non-canonical members booked per derived
    // domain (the planted " zzz" variants land in their own stratum,
    // and their SOURCES — cluster-min ids — stay kept), replayed by
    // the same recursive-reachability oracle as x_neardup_groups
    "x_corpus_report_neardup" -> ((s, d) => {
      val src = plantedDocs(s, d).select(
        when(col("doc_id") >= 1000000L, lit("planted"))
          .when(col("doc_id") % 2 === 0, lit("even"))
          .otherwise(lit("odd")).as("dom"),
        col("doc_id"), col("text"))
      TextStats.corpusReportNearDup(src, "dom", "doc_id", "text")
        .orderBy("dom")
    }),

    // quality scoring
    "x_text_quality" -> ((s, d) =>
      TextStats.quality(docs(s, d), "text")
        .select("doc_id", "n_chars", "n_tokens", "avg_token_len",
          "punct_ratio", "digit_ratio", "stopword_ratio", "quality_score")
        .orderBy("doc_id")),

    // token counting (whitespace + BPE-ish regex)
    "x_token_count" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextStats.bpeTokenCount(col("text")).as("n_bpe"),
        size(TextStats.tokens(col("text"))).cast(LongType).as("n_ws"))
        .orderBy("doc_id")),

    // BPE tokenizer, iteration 0: adjacent char-pair counts weighted by
    // word frequency — the distributed inner loop of the merge trainer
    "x_bpe_pairs" -> ((s, d) =>
      Bpe.pairCounts(docs(s, d), "text", top = 30)),

    // BPE trainer through the REAL learn path at nMerges = 1: the one
    // merge is the pair-count argmax (count desc, then (l, r) in binary
    // order) — the only depth SQL can replay (deeper merges recount
    // over re-segmented words)
    "x_bpe_learn1" -> ((s, d) => {
      import s.implicits._
      Bpe.learnBpe(docs(s, d), "text", nMerges = 1).merges.zipWithIndex
        .map { case ((l, r), i) => (i.toLong, l, r) }
        .toDF("rank", "l", "r")
    }),

    // BPE apply: rank-greedy subword segmentation under a fixed merge
    // table (chained merges included), exploded to one row per token so
    // the oracle's recursive-CTE replay compares rows, not list syntax
    "x_bpe_encode" -> ((s, d) =>
      Bpe.encode(docs(s, d), "doc_id", "text", bpeGateMerges)
        .select(col("doc_id"), posexplode(col("tokens")))
        .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("tpos"),
          col("col").as("token"))
        .orderBy("doc_id", "tpos")),

    // deterministic vocabulary table (base symbols + merge products,
    // dense ids) — the id side of the tokenizer as a queryable table
    "x_bpe_vocab" -> ((s, d) =>
      Bpe.vocabTable(s, docs(s, d), "text", bpeGateMerges)
        .orderBy("token_id")),

    // id-emitting tokenizer: the BpeEncode kernel composed with the
    // TokenIds kernel (one codegen'd projection); the oracle replays
    // the same ids by joining its recursive-CTE tokens to its vocab
    "x_bpe_ids" -> ((s, d) => {
      val vocab = bpeGateVocab(s, d)
      docs(s, d).select(col("doc_id"),
          posexplode(graft.functions.native.token_ids(
            Bpe.encodeCol(col("text"), bpeGateMerges), vocab)))
        .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("tpos"),
          col("col").as("token_id"))
        .orderBy("doc_id", "tpos")
    }),

    // MODEL-token context windows: the BPE id sequences (the real
    // tokenizer, not whitespace words) concatenated in shuffle order
    // and cut into 128-id contexts — the exact array an autoregressive
    // trainer consumes, every slot pinned by the recursive-CTE apply
    // chain composed with the global-offset window arithmetic
    "x_bpe_windows" -> ((s, d) => {
      val vocab = bpeGateVocab(s, d)
      val ids = docs(s, d).select(col("doc_id"),
        graft.functions.native.token_ids(
          Bpe.encodeCol(col("text"), bpeGateMerges), vocab).as("ids"))
      val pos = Sample.shuffleRank(ids, "doc_id", salt = "bw", buckets = 32)
      graft.ops.TokenStream.sliceWindows(pos, "shuffle_pos", "ids",
          ctxLen = 128, blocks = 16, dropPartial = false)
        .select(col("window_id"),
          posexplode(col("tokens")).as(Seq("i", "token_id")))
        .select(col("window_id"), col("i").cast(LongType).as("slot"),
          col("token_id"))
        .orderBy("window_id", "slot")
    }),

    // sequence packing by REAL tokenizer tokens: pack budgets measured
    // in BPE tokens (size of the kernel's output), not whitespace words
    // — the composition a training-shard writer actually needs
    "x_bpe_pack" -> ((s, d) => {
      val counted = docs(s, d).select(col("doc_id"),
        coalesce(col("lang"), lit("")).as("lang"),
        size(Bpe.encodeCol(col("text"), bpeGateMerges)).cast(LongType).as("n_bpe"))
      Sample.packByTokenBudget(counted, "lang", "doc_id", "n_bpe", 512L)
        .select("doc_id", "lang", "n_bpe", "pack_offset", "pack_id")
        .orderBy("doc_id")
    }),

    // RAG chunking budgeted in MODEL tokens: greedy word-boundary
    // packing against the 64-token window, chunk token counts exact
    // under the merge table — the oracle replays the greedy walk as a
    // recursive CTE over the apply CTE's per-word token counts
    "x_bpe_chunk" -> ((s, d) =>
      Bpe.chunkByTokenBudget(docs(s, d), "doc_id", "text", bpeGateMerges, 64L)
        .orderBy("doc_id", "chunk_id")),

    // id round trip: decode(encode_ids(text)) must reproduce the encode
    // kernel's token stream exactly (the training corpus has no OOV by
    // construction) — same oracle as x_bpe_encode, proving the
    // ids⇄tokens mapping is lossless, not merely positionally aligned
    "x_bpe_decode" -> ((s, d) => {
      val model = Bpe.BpeModel(bpeGateMerges, 0L, 0L, bpeGateVocab(s, d))
      docs(s, d).select(col("doc_id"),
          posexplode(Bpe.decodeIdsCol(
            Bpe.encodeIdsCol(col("text"), model), model)))
        .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("tpos"),
          col("col").as("token"))
        .orderBy("doc_id", "tpos")
    }),

    // TOTAL encoding under byte fallback: every document gets words the
    // training corpus cannot contain (Greek, a 4-byte emoji) appended,
    // and the fallback model — specials at ids 0..1, the 256 byte
    // tokens at 2..257, then alphabet + products — must still encode
    // every token (an unseen code point expands to its UTF-8 byte ids;
    // -1 never appears). The oracle replays the byte decomposition
    // arithmetically from unicode(token) and joins it to ITS vocab.
    "x_bpe_fallback" -> ((s, d) => {
      val model = Bpe.BpeModel(bpeGateMerges, 0L, 0L, bpeGateVocabFb(s, d),
        byteFallback = true, specials = bpeGateSpecials)
      docs(s, d)
        .select(col("doc_id"),
          concat(col("text"), lit(bpeOovSuffix)).as("text"))
        .select(col("doc_id"),
          posexplode(Bpe.encodeIdsCol(col("text"), model)))
        .select(col("doc_id"), (col("pos") + 1).cast(LongType).as("tpos"),
          col("col").as("token_id"))
        .orderBy("doc_id", "tpos")
    }),

    // packing with the per-document SEPARATOR cost budgeted: every doc
    // costs its BPE tokens + 1 EOS in the token stream, so offsets and
    // pack boundaries match what a separator-appending shard writer
    // actually lays out
    "x_bpe_pack_sep" -> ((s, d) => {
      val counted = docs(s, d).select(col("doc_id"),
        coalesce(col("lang"), lit("")).as("lang"),
        size(Bpe.encodeCol(col("text"), bpeGateMerges)).cast(LongType).as("n_bpe"))
      Sample.packByTokenBudget(counted, "lang", "doc_id", "n_bpe", 512L,
          sepCost = 1L)
        .select("doc_id", "lang", "n_bpe", "pack_offset", "pack_id")
        .orderBy("doc_id")
    }),

    // chunking with per-chunk separator headroom: 3 of the 64-token
    // window are reserved (BOS/EOS/separator), so content packs against
    // 61 and `n_tokens + 3 <= 64` always holds — the oracle walks the
    // same greedy budget at 61
    "x_bpe_chunk_sep" -> ((s, d) =>
      Bpe.chunkByTokenBudget(docs(s, d), "doc_id", "text", bpeGateMerges,
          64L, sepCost = 3L)
        .orderBy("doc_id", "chunk_id")),

    // the PERSISTED model card under the oracle: save the fixture model
    // once, read `path/card` BACK FROM DISK, and let DuckDB recompute
    // every SQL-replayable column from the corpus + the shared merge
    // literal — merge count, vocab/alphabet sizes (the vocab CTE),
    // covered/total word mass (the maxWords=1000 dictionary cut) and
    // their ratio, the flags. A card that disagrees with the model it
    // was saved beside fails here. (fingerprint and bytes/token are
    // deliberately absent: a SHA-256 over length-prefixed framing and
    // a driver-side segmentation average are not SQL-replayable —
    // BpeSpec pins both.)
    "x_bpe_card" -> ((s, d) =>
      s.read.parquet(s"${bpeGateModelPath(s, d)}/card")
        .select("n_merges", "vocab_size", "alphabet_size", "covered_mass",
          "total_mass", "covered_frac", "byte_fallback", "n_specials")),

    // document fingerprinting (md5 + portable 60-bit hash)
    "x_fingerprint" -> ((s, d) =>
      TextStats.fingerprint(docs(s, d), "text")
        .select("doc_id", "md5", "h60", "n_chars").orderBy("doc_id")),

    // benchmark-contamination: corpus docs sharing >= 2 word-3-gram hashes
    // with a benchmark set (docs < 20); bench side broadcast, ints only
    "x_contamination" -> ((s, d) => {
      val bench = docs(s, d).filter(col("doc_id") < 20).select("doc_id", "text")
      Contamination.ngramOverlap(docs(s, d), "doc_id", "text",
          bench, "doc_id", "text", n = 3, minShared = 2L)
        .orderBy("doc_id", "bench_id")
    }),

    // decontamination at scale: the SAME overlap behind a Bloom prefilter
    // — no false negatives, so the result (and the oracle) is identical
    // to x_contamination while clean corpus docs never reach the explode
    "x_contamination_bloom" -> ((s, d) => {
      val bench = docs(s, d).filter(col("doc_id") < 20).select("doc_id", "text")
      Contamination.ngramOverlapBloom(docs(s, d), "doc_id", "text",
          bench, "doc_id", "text", n = 3, minShared = 2L,
          expectedGrams = 1L << 16, fpp = 0.01)
        .orderBy("doc_id", "bench_id")
    }),

    // the same decontamination served from the PERSISTED benchmark index
    // (postings + Bloom bytes built once per process); the probe runs
    // through the freshness contract and the result is identical
    "x_contamination_indexed" -> ((s, d) =>
      Contamination.ngramOverlapIndexed(s, benchIndex(s, d),
          docs(s, d), "doc_id", "text", minShared = 2L,
          verifyAgainst = Some((docs(s, d).filter(col("doc_id") < 20)
            .select("doc_id", "text"), "doc_id")))
        .orderBy("doc_id", "bench_id")),

    // decontamination of the FINAL training artifact: the ctx-64 token
    // windows checked for 5-token-gram overlap against a benchmark
    // tokenized the same way (docs < 12) — the window-level answer
    // (WHICH windows to drop) that a document-level check cannot give
    // once documents are packed across window boundaries; the oracle
    // replays window assembly AND the gram-set intersection in one
    // chain
    "x_contamination_windows" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        TextStats.tokens(col("text")).as("ts"))
      val pos = Sample.shuffleRank(toks, "doc_id", salt = "tw", buckets = 32)
      val wins = graft.ops.TokenStream.sliceWindows(pos, "shuffle_pos", "ts",
        ctxLen = 64, blocks = 16, dropPartial = false)
      val bench = docs(s, d).filter(col("doc_id") < 12)
        .select(col("doc_id").as("bench_id"),
          TextStats.tokens(col("text")).as("bts"))
      Contamination.tokenNgramOverlap(wins, "window_id", "tokens",
          bench, "bench_id", "bts", n = 5, minShared = 2L)
        .select(col("doc_id").as("window_id"), col("bench_id"),
          col("shared"), col("n_sh"))
        .orderBy("window_id", "bench_id")
    }),

    // raw-corpus ingestion: the documents table exported as line-
    // delimited JSON (the public-dump interchange form) and read back
    // STRICTLY through the canonical normalizer — JSON escaping,
    // unicode, and field plumbing must round-trip bit-for-bit against
    // the parquet originals
    "x_source_jsonl" -> ((s, d) =>
      graft.sources.CorpusIngest.readJsonl(s, jsonlDump(s, d),
          idField = Some("doc_id"), sourceField = Some("source"))
        .orderBy("doc_id")),

    // ...and the CSV interchange form (header + RFC-4180 quoting)
    // through the same normalizer
    "x_source_csv" -> ((s, d) =>
      graft.sources.CorpusIngest.readCsv(s, csvDump(s, d),
          idField = Some("doc_id"), sourceField = Some("source"))
        .orderBy("doc_id")),

    // a WET-style CRAWL dump (the Common Crawl text-extract layout:
    // WARC/1.0-delimited records, headers, blank line, body) read
    // through the one-scan record parser: uri from the header, source
    // = its host, doc_id the salted uri hash — the raw-crawl entry
    // point of the pipeline, round-tripped against the parquet
    // originals
    "x_source_wet" -> ((s, d) =>
      graft.sources.CorpusIngest.readWet(s, wetDump(s, d))
        .orderBy("uri")),

    // an ID-LESS dump: doc_id is the salted content hash —
    // deterministic across re-runs, file splits, and engines; the
    // oracle re-derives it from the parquet text with the same
    // md5-prefix chain every other portable hash uses
    "x_source_jsonl_ids" -> ((s, d) =>
      graft.sources.CorpusIngest.readJsonl(s, jsonlDump(s, d),
          sourceField = Some("source"), idSalt = "ing")
        .select("doc_id", "text")
        .orderBy("doc_id", "text")),

    // deterministic FIXED-SIZE sample: bottom-50 by portable hash —
    // fixed count where x_sample_stratified fixes a rate
    "x_sample_bottomk" -> ((s, d) =>
      Sample.bottomK(docs(s, d), "doc_id", k = 50)
        .select("doc_id", "lang", "source").orderBy("doc_id")),

    // per-group fixed-size sample: bottom-10 by hash within each source
    "x_sample_bottomk_group" -> ((s, d) =>
      Sample.bottomKPerGroup(docs(s, d), "source", "doc_id", k = 10)
        .select("doc_id", "source").orderBy("doc_id")),

    // quantile estimation from the deterministic 201-row hash sample —
    // k=201 makes p*(k-1) integral for the probed quartiles, so both
    // engines read exact sample elements (no interpolation wobble)
    "x_quantile_sample" -> ((s, d) =>
      Sample.sampleQuantiles(docs(s, d), "doc_id", "n_chars",
          probs = Seq(0.25, 0.5, 0.75, 0.9), k = 201)
        .select(col("p"), round(col("value"), 6).as("value"))
        .orderBy("p")),

    // deterministic stratified sampling by language (hash-bucket rule)
    "x_sample_stratified" -> ((s, d) =>
      Sample.stratifiedHash(docs(s, d), "lang", "doc_id",
          rates = Map("en" -> 0.3, "de" -> 0.5, "fr" -> 0.1, "zh" -> 0.0),
          defaultRate = 0.25)
        .select("doc_id", "lang", "source").orderBy("doc_id")),

    // domain-mixture sampling: 50/30/20 target mix over three sources
    // at nOut=60 — src0's quota (30) exceeds its 25 rows so its rate
    // caps at 1.0 (all kept), the others draw fractionally; rates are
    // fixed by a tiny count agg and the coin is the same hash-bucket
    // rule the oracle replays
    "x_sample_mixture" -> ((s, d) =>
      Sample.mixtureSample(docs(s, d), "source", "doc_id",
          targetFracs = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
          nOut = 60L)
        .select("doc_id", "source").orderBy("doc_id")),

    // corpus vocabulary: top-100 tokens with count >= 5
    "x_vocab" -> ((s, d) =>
      TextStats.vocab(docs(s, d), "text", k = 100, minCount = 5L)),

    // whitespace normalization over planted messy spacing: the
    // normalized text is gated exactly
    "x_normalize" -> ((s, d) =>
      docs(s, d).select(col("doc_id"),
        TextStats.normalizeWhitespace(
          concat(lit("  lead\t\t mid  \n \n\n\n"), col("text"), lit("  \t")))
          .as("text_norm"))
        .orderBy("doc_id")),

    // per-language token-count distribution profile (rank-based discrete
    // percentiles — engine-exact, no interpolation arithmetic)
    "x_profile" -> ((s, d) => {
      val counted = docs(s, d).select(coalesce(col("lang"), lit("")).as("lang"),
        size(TextStats.tokens(col("text"))).cast(LongType).as("n_tokens"))
      TextStats.profile(counted, "lang", "n_tokens", Seq(0.25, 0.5, 0.9))
        .orderBy("lang")
    }),

    // PII scrubbing over planted emails/URLs/numbers: the redacted TEXT
    // is gated (patterns match identically under Java regex and RE2),
    // not just the counts
    "x_pii_scrub" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" contact bob@example.com or https://ex.org/a?b=1 tel 5551234567")))
          .when(col("doc_id") % 3 === 1,
            concat(lit("from alice.smith+x@mail.co: "), col("text")))
          .otherwise(col("text")).as("text"))
      TextStats.scrubPii(planted, "doc_id", "text").orderBy("doc_id")
    }),

    // TF-IDF term table over a sub-corpus; the gate compares the
    // engine-exact integer columns (the ln score is libm-dependent)
    "x_tfidf" -> ((s, d) =>
      TextStats.tfIdf(docs(s, d).filter(col("doc_id") < 100), "doc_id", "text")
        .select("doc_id", "token", "tf", "df", "n_docs")
        .orderBy(col("tf").desc, col("token"), col("doc_id")).limit(100)),

    // DSIR importance weights: every document scored by the log ratio
    // of a target-corpus hashed-bigram model (docs < 100) over the
    // full-corpus model — the published data-selection recipe; both
    // models are bucket-bounded and broadcast
    "x_dsir_weights" -> ((s, d) => {
      val raw = docs(s, d)
      graft.ops.Importance.importanceWeights(raw,
          raw.filter(col("doc_id") < 100), "doc_id", "text", nBuckets = 8192)
        .select(col("doc_id"), col("n_feats"),
          round(col("log_weight"), 6).as("log_weight"))
        .orderBy("doc_id")
    }),

    // DSIR resampling: 50 docs drawn without replacement proportional
    // to exp(log_weight) via deterministic Gumbel top-k — the draw is
    // a pure function of (doc_id, seed), so the oracle replays it
    "x_dsir_resample" -> ((s, d) => {
      val raw = docs(s, d)
      val w = graft.ops.Importance.importanceWeights(raw,
        raw.filter(col("doc_id") < 100), "doc_id", "text", nBuckets = 8192)
      graft.ops.Importance.resampleByWeight(w, "doc_id", "log_weight", 50)
        .select(col("doc_id"), round(col("log_weight"), 6).as("log_weight"),
          round(col("gumbel_key"), 6).as("gumbel_key"))
        .orderBy("doc_id")
    }),

    // unigram LM scoring: mean add-one-smoothed log-prob per document
    // under the corpus's own unigram model — the cheap perplexity-style
    // quality axis; decimal-exact term sum keeps the 6th decimal stable
    // token entropy: lexical-diversity quality axis (low = repetitive
    // spam; ln(n) = all-distinct)
    "x_entropy" -> ((s, d) =>
      TextStats.tokenEntropy(docs(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("entropy"), 6).as("entropy"))
        .orderBy("doc_id")),

    // bigram conditional LM: mean add-one log p(w|v) under the corpus's
    // own bigram model — separates word salad from fluent text where
    // the unigram score cannot
    "x_lm_bigram" -> ((s, d) =>
      TextStats.lmScoreBigram(docs(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          round(col("lm2_score"), 6).as("lm2_score"))
        .orderBy("doc_id")),

    "x_lm_score" -> ((s, d) =>
      TextStats.lmScore(docs(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"),
          round(col("lm_score"), 6).as("lm_score"))
        .orderBy("doc_id")),

    // trigram conditional LM: mean add-one log p(w|u,v) with the bigram
    // context count as the denominator — the next fluency axis up
    "x_lm_trigram" -> ((s, d) =>
      TextStats.lmScoreTrigram(docs(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_trigrams"),
          round(col("lm3_score"), 6).as("lm3_score"))
        .orderBy("doc_id")),

    // overlapping fixed-window chunking (embedding/RAG prep): 32-token
    // windows sharing 8 tokens, final window clamped to the doc end
    "x_chunk" -> ((s, d) =>
      TextStats.chunk(docs(s, d), "doc_id", "text", chunkTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_id")),

    // n-gram repetition stats (the repetitive-document quality filter)
    "x_repetition" -> ((s, d) =>
      TextStats.repetition(docs(s, d), "doc_id", "text", n = 3)
        .orderBy("doc_id")),

    // cross-document repeated n-gram spans (the Lee et al. exact-
    // substring dedup signal): a 7-token sentence planted into every
    // 7th document guarantees shared 5-gram windows to count
    "x_repeated_ngrams" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"),
            lit(" shared boilerplate sentence repeated across documents verbatim")))
          .otherwise(col("text")).as("text"))
      Dedup.repeatedNgrams(planted, "doc_id", "text", n = 5, minDocs = 2)
        .orderBy("doc_id")
    }),

    // Duplicated-SPAN removal (Lee et al. ExactSubstr at shingle
    // granularity): same planted cross-doc boilerplate as
    // x_repeated_ngrams, but the gate checks the REWRITE — covered
    // tokens dropped, untouched documents byte-identical, and the
    // removed-token count per doc. The oracle rebuilds each document
    // token-by-token in SQL (position explode → covered-position
    // anti-join → ordered string_agg).
    "x_substr_dedup" -> ((s, d) => {
      val planted = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("text"),
            lit(" shared boilerplate sentence repeated across documents verbatim")))
          .otherwise(col("text")).as("text"))
      Dedup.stripRepeatedSpans(planted, "doc_id", "text", n = 5, minDocs = 2)
        .orderBy("doc_id")
    }),

    // Naive Bayes quality classifier (fastText-style hashed-unigram
    // filter): label-1 training docs carry a planted "curated" suffix;
    // the held-out odd docs with the same suffix must be recovered by
    // the trained model. The oracle re-derives the whole chain — class
    // counts, add-one log-ratios, prior, decimal term sums — from
    // scratch in SQL, so model estimation AND scoring are both gated
    // bit-for-bit.
    "x_classify_nb" -> ((s, d) =>
      graft.ops.Classifier.scoreNaiveBayes(
          plantedQualityDocs(s, d).filter(col("doc_id") % 2 === 1),
          nbModel(s, d), "doc_id", "text")
        .select(col("doc_id"), col("n_feats"),
          round(col("nb_score"), 6).as("nb_score"), col("nb_pred"))
        .orderBy("doc_id")),

    // Count-Min frequency sketch: corpus token counters, DELIBERATELY
    // narrow (4 x 64 buckets vs a ~80-token vocabulary) so buckets
    // collide and the min-over-rows selection is actually exercised;
    // probes are real corpus tokens across the frequency range plus one
    // never-seen. The sketch AND the estimates are portable, so the
    // oracle reproduces them bit-for-bit.
    "x_sketch_countmin" -> ((s, d) => {
      import s.implicits._
      val toks = docs(s, d)
        .select(explode(TextStats.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val sketch = graft.ops.Sketch.countMin(toks, "token", depth = 4, width = 64)
      val probes = Seq("join", "hash", "row", "scan", "the", "a", "dup",
        "fast", "zzz-never-seen").toDF("token")
      graft.ops.Sketch.countMinEstimate(sketch, probes, "token")
        .orderBy("token")
    }),

    // streaming corpus statistics: the SAME token stream split into two
    // controlled micro-batches through countMinIngestSink — the
    // persisted tree after the stream estimates exactly like the
    // one-shot batch sketch (CM merge is cell-exact counter addition),
    // probed with the same suite under the shared oracle
    "x_stream_countmin" -> ((s, d) => {
      import s.implicits._
      def toks(df: DataFrame) = df
        .select(explode(TextStats.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      val path = s"/tmp/graft-cmstream-" +
        java.util.UUID.randomUUID().toString.take(8)
      try {
        withStagedBatches(s, Seq(
          toks(docs(s, d).filter(col("doc_id") % 2 === 0)),
          toks(docs(s, d).filter(col("doc_id") % 2 =!= 0)))) { (src, ckpt) =>
          graft.streaming.EventStream.countMinIngestSink(src, "token", path,
            ckpt, depth = 4, width = 64).awaitTermination()
        }
        // the sketch localizes on load, so the estimate below owes the
        // tree nothing and the finally-delete is safe
        val sk = graft.ops.Sketch.loadCountMin(s, path)
        val probes = Seq("join", "hash", "row", "scan", "the", "a", "dup",
          "fast", "zzz-never-seen").toDF("token")
        graft.ops.Sketch.countMinEstimate(sk, probes, "token")
          .orderBy("token")
      } finally {
        def del(x: java.io.File): Unit = {
          if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(del))
          x.delete(); ()
        }
        del(new java.io.File(path))
      }
    }),

    // exact heavy hitters via Count-Min candidate prefilter: the sketch
    // is DELIBERATELY narrow (4 x 64) so bucket collisions admit false
    // candidates — the exact recount must remove every one of them (the
    // oracle is the plain GROUP BY ... HAVING, blind to the sketch)
    "x_sketch_heavyhitters" -> ((s, d) => {
      val toks = docs(s, d)
        .select(explode(TextStats.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
      graft.ops.Sketch.heavyHitters(toks, "token", minCount = 100L,
          depth = 4, width = 64)
        .orderBy(col("cnt").desc, col("token"))
    }),

    // KMV distinct-count sketch vs exact, per language (sketch branch
    // where distinct tokens >= k, exact branch below)
    "x_sketch_distinct" -> ((s, d) => {
      val kmv = graft.ops.Sketch.KMV(256).toUdaf
      // group key coalesced: a NULL lang would order NULLS FIRST in
      // Spark but NULLS LAST in DuckDB, silently breaking the hash gate
      docs(s, d).select(coalesce(col("lang"), lit("")).as("lang"),
          explode(TextStats.tokens(col("text"))).as("t"))
        .filter(col("t") =!= "")
        .select(col("lang"), TextStats.hash60(col("t")).as("h"))
        .groupBy("lang")
        .agg(kmv(col("h")).as("est_distinct"),
          countDistinct(col("h")).as("exact_distinct"))
        .orderBy("lang")
    }),

    // KMV corpus-overlap: 3-gram shingle Jaccard between the even- and
    // odd-id halves of the corpus from two bounded k-min sketches —
    // ~16k distinct union shingles sampled by k=256, nothing
    // corpus-sized moves, yet every output value is exact arithmetic
    // over the deterministic k-min sets
    "x_sketch_overlap" -> ((s, d) => {
      // the tagged single-pass form over the fused shingle-hash kernel:
      // both sketches from ONE scan, hashes identical to
      // hash60(concat_ws(' ', window)) so the oracle replays them
      val sh = docs(s, d).select((col("doc_id") % 2).as("side"),
        explode(graft.functions.native.shingle_hash60(
          TextStats.tokens(col("text")), 3)).as("h"))
      graft.ops.Sketch.kmvOverlapTagged(sh, "side", "h", 256)
    }),

    // sequence packing: documents laid out in id order per source and
    // assigned to contiguous 4096-token packs (training-shard layout)
    "x_sample_pack" -> ((s, d) => {
      val counted = docs(s, d).select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source"),
        size(TextStats.tokens(col("text"))).cast(LongType).as("n_tokens"))
      Sample.packByTokenBudget(counted, "source", "doc_id", "n_tokens", 4096L)
        .select("doc_id", "source", "n_tokens", "pack_offset", "pack_id")
        .orderBy("doc_id")
    }),

    // epoch mixing: src0 ×2.5 (2 copies + a 0.5 coin), src1 ×0.4
    // (fractional downsample), src2 ×1.0 (pass-through), every other
    // source at the 0.25 default — floor/threshold fixed on the driver,
    // the coin is the hash-bucket rule the oracle replays
    "x_sample_repeat" -> ((s, d) =>
      Sample.repeatByWeight(docs(s, d).select(col("doc_id"), col("source")),
          "source", "doc_id",
          weights = Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 1.0),
          defaultWeight = 0.25)
        // copy_id (struct) is consumed by packers, not hashed by the
        // oracle — its ordering is already pinned via x_pipeline_recipe
        .select("doc_id", "source", "epoch")
        .orderBy("doc_id", "epoch")),

    // the composed CORPUS-ASSEMBLY recipe — the library's end-to-end
    // story in one gate: per-source quality selection under a token
    // budget (longest docs first), then epoch mixing (src0 ×2.0,
    // src1 ×1.5, src2 ×0.5, everything else ×1.0), then separator-
    // budgeted packing of the copies into 2048-token shards keyed by
    // (doc, epoch). Every stage is individually oracle-gated; this
    // gate pins the COMPOSITION (selection feeds the coin, copies
    // feed the pack offsets) bit-for-bit.
    "x_pipeline_recipe" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source"),
        col("n_chars").cast(LongType).as("score"),
        size(TextStats.tokens(col("text"))).cast(LongType).as("n_tok"))
      val selected = Sample.selectByBudget(base, "source", "doc_id",
          "score", "n_tok", 1024L)
        .drop("cum_tokens", "sel_rank")
      val mixed = Sample.repeatByWeight(selected, "source", "doc_id",
        weights = Map("src0" -> 2.0, "src1" -> 1.5, "src2" -> 0.5),
        defaultWeight = 1.0)
      // the pack key is the library's collision-free struct copy_id
      // (ordered (doc_id, epoch)) — valid at ANY weight, unlike a
      // hand-rolled doc_id * K + epoch that collides past K epochs
      Sample.packByTokenBudget(mixed, "source", "copy_id", "n_tok",
          2048L, sepCost = 1L)
        .select("doc_id", "epoch", "source", "n_tok", "pack_offset",
          "pack_id")
        .orderBy("doc_id", "epoch")
    }),

    // the SHARD-WRITING recipe end-to-end: per-source budget selection,
    // then the deterministic global shuffle, then interleaved shard
    // assignment (shard = shuffle_pos mod 8 — adjacent positions land
    // on different shards, so shards are balanced AND decorrelated),
    // rolled up to the per-shard manifest a writer publishes. Every
    // stage is SQL-replayable; the gate pins the composition (the
    // pre-cut selection feeds the permutation feeds the rollup).
    "x_pipeline_shard" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source"),
        col("n_chars").cast(LongType).as("score"),
        size(TextStats.tokens(col("text"))).cast(LongType).as("n_tok"))
      val selected = Sample.selectByBudget(base, "source", "doc_id",
          "score", "n_tok", 4096L)
        .drop("cum_tokens", "sel_rank")
      val shuffled = Sample.shuffleRank(selected, "doc_id",
        salt = "shard", buckets = 32)
      shuffled.withColumn("shard", pmod(col("shuffle_pos"), lit(8L)))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"),
          min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
        .orderBy("shard")
    }),

    // the PHYSICAL shard writer: the same select→shuffle→shard recipe
    // MATERIALIZED as an on-disk tree (8 shard dirs, 64-row files,
    // staged-swap published) — this gate replays the COMMITTED per-file
    // manifest rolled up per shard: file counts (= ceil(rows/64), the
    // writer's file-split law), row/token sums, position and id ranges,
    // all aggregated from what the writer itself read BACK off disk
    "x_shard_write" -> ((s, d) =>
      graft.ops.ShardWriter.loadManifest(s, shardTree(s, d))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_files"), sum("n_docs").as("n_docs"),
          sum("n_tokens").as("n_tokens"), min("min_pos").as("min_pos"),
          max("max_pos").as("max_pos"), min("min_id").as("min_doc"),
          max("max_id").as("max_doc"))
        .orderBy("shard")),

    // ...and the written DATA read back row-for-row: every surviving
    // document with its token count, permutation position, and shard
    // directory — proving the tree holds exactly the selected corpus
    // in exactly the recorded permutation (no row lost, duplicated, or
    // re-shuffled by the physical write)
    "x_shard_read" -> ((s, d) =>
      graft.ops.ShardWriter.readShards(s, shardTree(s, d))
        .select(col("doc_id"), col("n_tok"), col("shuffle_pos"),
          col("shard").cast(LongType).as("shard"))
        .orderBy("doc_id")),

    // the pre-consumption integrity AUDIT: every per-file stat
    // re-derived from the tree's DATA must match the committed
    // manifest — the oracle replays what BOTH sides must equal
    // (totals from the selection/shuffle CTEs, zero mismatches, ok)
    "x_shard_verify" -> ((s, d) =>
      graft.ops.ShardWriter.verifyShards(s, shardTree(s, d))),

    // the RESUME slice: permutation positions [100, 300) served from
    // manifest-pruned files only — must equal the same range filter
    // over the logical permutation, row for row
    "x_shard_slice" -> ((s, d) =>
      graft.ops.ShardWriter.readShardSlice(s, shardTree(s, d), 100L, 300L)
        .select(col("doc_id"), col("n_tok"), col("shuffle_pos"),
          col("shard").cast(LongType).as("shard"))
        .orderBy("shuffle_pos")),

    // EPOCH LINEAGE: three selection identities published as epochs
    // 0..2 of one root, epoch 0 pruned — the gate replays BOTH live
    // epochs' committed manifests (per-shard file/row/token/position
    // rollups), proving a grown corpus re-selects without rewriting
    // the epoch a resuming consumer is pinned to
    "x_shard_epochs" -> ((s, d) => {
      val root = shardEpochTree(s, d)
      val eps = graft.ops.ShardWriter.listEpochs(s, root)
      require(eps == Seq(1, 2), s"expected live epochs (1, 2), got $eps")
      eps.map { e =>
        graft.ops.ShardWriter
          .loadManifest(s, graft.ops.ShardWriter.epochPath(root, e))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_files"), sum("n_docs").as("n_docs"),
            sum("n_tokens").as("n_tokens"), min("min_pos").as("min_pos"),
            max("max_pos").as("max_pos"))
          .withColumn("epoch", lit(e.toLong))
      }.reduce(_ union _)
        .select("epoch", "shard", "n_files", "n_docs", "n_tokens",
          "min_pos", "max_pos")
        .orderBy("epoch", "shard")
    }),

    // a PINNED epoch read: epoch 1 (the 2048-token identity) row for
    // row — later publishes and the prune are invisible to a consumer
    // pinned here
    "x_shard_epoch_read" -> ((s, d) =>
      graft.ops.ShardWriter.readShardEpoch(s, shardEpochTree(s, d), 1)
        .select(col("doc_id"), col("n_tok"), col("shuffle_pos"),
          col("shard").cast(LongType).as("shard"))
        .orderBy("doc_id")),

    // the corpus-governance DIFF between two epochs: which documents
    // entered/left the training set when the 2048-token identity was
    // re-selected at 1024 — one row per symmetric-difference doc with
    // its side and token count (per-source prefix selections nest, so
    // here every row is a removal; the operator handles both sides)
    "x_shard_epoch_diff" -> ((s, d) =>
      graft.ops.ShardWriter.epochDiff(s, shardEpochTree(s, d), 1, 2)
        .orderBy("doc_id")),

    // CROSS-EPOCH resume: the run consumed positions [0, 64) of epoch 1
    // (2048-token identity), the corpus re-published as epoch 2 — the
    // continuation is the new epoch minus the consumed DOCUMENTS, in
    // the new permutation (positions are not comparable across epochs;
    // identity is)
    "x_shard_resume_epoch" -> ((s, d) =>
      graft.ops.ShardWriter.resumeIntoEpoch(s, shardEpochTree(s, d),
          oldEpoch = 1, newEpoch = 2, step = 2L, batchSize = 32L)
        .select(col("doc_id"), col("n_tok"), col("shuffle_pos"),
          col("shard").cast(LongType).as("shard"))
        .orderBy("shuffle_pos")),

    // the RESUME sugar on the latest epoch: step 2 × batch 32 restarts
    // at position 64 — exactly one 8-row file stripe, so manifest
    // pruning drops each shard's first file and keeps the rest (the
    // require pins that the pruned set is >1 file and <all; the oracle
    // pins the rows)
    "x_shard_resume" -> ((s, d) => {
      val root = shardEpochTree(s, d)
      val p = graft.ops.ShardWriter.epochPath(root, 2)
      val maxPos = graft.ops.ShardWriter.loadManifest(s, p)
        .select("max_pos").collect().map(_.getLong(0))
      val kept = maxPos.count(_ >= 64L)
      require(kept > 1 && kept < maxPos.length,
        s"resume must keep several files and prune the rest, kept " +
          s"$kept of ${maxPos.length}")
      graft.ops.ShardWriter.resumeFrom(s, p, step = 2L, batchSize = 32L)
        .select(col("doc_id"), col("n_tok"), col("shuffle_pos"),
          col("shard").cast(LongType).as("shard"))
        .orderBy("shuffle_pos")
    }),

    // TOKEN-STREAM context windows: the corpus's whitespace tokens
    // concatenated in shuffle order and cut into consecutive 64-token
    // windows (documents split across boundaries — the GPT-style
    // "concatenate then chunk" layout). The gate explodes every window
    // to (window_id, pos_in_window, token) rows, so the oracle pins
    // EVERY token of EVERY window — content, order, and boundary
    // placement — from one global-offset replay
    "x_token_windows" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        TextStats.tokens(col("text")).as("ts"))
      val pos = Sample.shuffleRank(toks, "doc_id", salt = "tw", buckets = 32)
      graft.ops.TokenStream.sliceWindows(pos, "shuffle_pos", "ts",
          ctxLen = 64, blocks = 16, dropPartial = false)
        .select(col("window_id"),
          posexplode(col("tokens")).as(Seq("i", "token")))
        .select(col("window_id"), col("i").cast(LongType).as("pos_in_window"),
          col("token"))
        .orderBy("window_id", "pos_in_window")
    }),

    // ...and the per-window ROLLUP the operator itself reports: length
    // (64 everywhere except the tail), contributing-document count, and
    // the documents' position range (provenance for resume/audit)
    "x_token_window_stats" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        TextStats.tokens(col("text")).as("ts"))
      val pos = Sample.shuffleRank(toks, "doc_id", salt = "tw", buckets = 32)
      graft.ops.TokenStream.sliceWindows(pos, "shuffle_pos", "ts",
          ctxLen = 64, blocks = 16, dropPartial = false)
        .select("window_id", "n_tok", "n_docs", "min_pos", "max_pos")
        .orderBy("window_id")
    }),

    // ...and the document-boundary METADATA inside each window: one
    // row per (window, contributing doc) span — position, first slot,
    // slot count — the attention-mask-reset provenance a trainer
    // consumes alongside the payload
    "x_token_window_spans" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        TextStats.tokens(col("text")).as("ts"))
      val pos = Sample.shuffleRank(toks, "doc_id", salt = "tw", buckets = 32)
      graft.ops.TokenStream.sliceWindows(pos, "shuffle_pos", "ts",
          ctxLen = 64, blocks = 16, dropPartial = false)
        .select(col("window_id"), explode(col("doc_spans")).as("sp"))
        .select(col("window_id"), col("sp.pos").as("pos"),
          col("sp.start").as("start"), col("sp.len").as("len"))
        .orderBy("window_id", "start")
    }),

    // the whole-stream accounting report (windowStats): total windows,
    // full windows, token mass, last window id — the numbers a
    // pipeline publishes without materializing the windows
    "x_token_window_report" -> ((s, d) => {
      val toks = docs(s, d).select(col("doc_id"),
        TextStats.tokens(col("text")).as("ts"))
      val pos = Sample.shuffleRank(toks, "doc_id", salt = "tw", buckets = 32)
      graft.ops.TokenStream.windowStats(pos, "shuffle_pos", "ts",
        ctxLen = 64, blocks = 16)
    }),

    // the TOKENIZED physical shard tree's committed manifest rolled up
    // per shard: windows ARE the rows (window_id the dense position),
    // so file counts obey the 32-row split law, token sums are exactly
    // 64 per window, and position ranges are the residue classes —
    // the full training-artifact composition replayed from the corpus
    "x_token_shards" -> ((s, d) =>
      graft.ops.ShardWriter.loadManifest(s, tokenShardTree(s, d))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_files"), sum("n_docs").as("n_windows"),
          sum("n_tokens").as("n_tokens"), min("min_pos").as("min_window"),
          max("max_pos").as("max_window"))
        .orderBy("shard")),

    // ...and the written windows read back: id, length, shard, and the
    // first/last token of each window's PAYLOAD — pinning the stored
    // sequences' content without re-exploding the tree
    "x_token_shards_read" -> ((s, d) =>
      graft.ops.ShardWriter.readShards(s, tokenShardTree(s, d))
        .select(col("window_id"), col("n_tok"),
          col("shard").cast(LongType).as("shard"),
          element_at(col("tokens"), 1).as("first_token"),
          element_at(col("tokens"), -1).as("last_token"))
        .orderBy("window_id")),

    // the full TOKENIZED-corpus assembly in one chain: per-source
    // budget selection -> temperature mixing (alpha 0.5, 300-doc
    // budget; copies keyed by the portable concat(id,':',epoch)) ->
    // the global shuffle over the MIXED stream -> 64-token context
    // windows, rolled up per window. Five oracle-gated stages, the
    // composition pinned stage by stage in one DuckDB replay
    "x_pipeline_tokens" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source"),
        col("n_chars").cast(LongType).as("score"),
        TextStats.tokens(col("text")).as("ts"))
        .withColumn("n_tok", size(col("ts")).cast(LongType))
      val selected = Sample.selectByBudget(base, "source", "doc_id",
          "score", "n_tok", 4096L)
        .drop("cum_tokens", "sel_rank")
      val mixed = Sample.sampleByTemperature(selected, "source", "doc_id",
        alpha = 0.5, budgetDocs = 300L, salt = "pt")
      // (doc_id, epoch) is the row identity now — the PORTABLE string
      // key (shuffleRank's epoch-mixed-corpus rule; a struct cast
      // would render engine-specifically)
      val keyed = mixed.withColumn("mix_id",
        concat(col("doc_id").cast("string"), lit(":"),
          col("epoch").cast("string")))
      // the rank's pass-1 counts already fix N (the slicer skips its own
      // counting pass), and the ranked stream is CHECKPOINTED — exactly
      // the "cache upstream if it is an expensive derived pipeline"
      // guidance on sliceWindows (writeContextShards does the same):
      // the tokenize + select + temperature-mix + rank subtree runs
      // once, not once per remaining slicer pass
      val (pos0, nPos) = Sample.shuffleRankN(keyed, "mix_id", salt = "pt",
        buckets = 32)
      val pos = pos0.localCheckpoint(true)
      graft.ops.TokenStream.sliceWindowsN(pos, "shuffle_pos", "ts",
          ctxLen = 64, blocks = 16, dropPartial = false,
          knownN = Some(nPos))
        .select("window_id", "n_tok", "n_docs", "min_pos", "max_pos")
        .orderBy("window_id")
    }),

    // the ANNEALED pipeline: per-source quantile selection marks the
    // top 25% (by quality score) as the annealing TAIL (stage 1),
    // curriculumRank lays the corpus out main-mix-first /
    // best-docs-last with hash decorrelation within each stage, and
    // the window slicer cuts the staged stream — quantile cut, stage
    // derivation, composite rank, global offsets, and window rollup
    // all replayed in ONE DuckDB chain
    "x_pipeline_anneal" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source"),
        col("n_chars").cast(LongType).as("score"),
        TextStats.tokens(col("text")).as("ts"))
      val tail = Sample.selectByFraction(base.drop("ts"), "source",
          "doc_id", "score", keepPpm = 250000L)
        .select(col("doc_id"), lit(1L).as("stage"))
      val staged = base.join(tail, Seq("doc_id"), "left")
        .withColumn("stage", coalesce(col("stage"), lit(0L)))
      // knownN + upstream checkpoint: x_pipeline_tokens' discipline — the
      // tokenize + quantile-tail + rank subtree runs once, not per pass
      val (pos0, nPos) = Sample.curriculumRankN(staged, "doc_id", "stage",
        salt = "an", buckets = 16)
      val pos = pos0.localCheckpoint(true)
      graft.ops.TokenStream.sliceWindowsN(pos, "shuffle_pos", "ts",
          ctxLen = 64, blocks = 16, dropPartial = false,
          knownN = Some(nPos))
        .select("window_id", "n_tok", "n_docs", "min_pos", "max_pos")
        .orderBy("window_id")
    }),

    // trainer RESUME over the tokenized tree: restart at window
    // step*batch = 212 of ~424, served from manifest-pruned files only
    // (the require pins real pruning), each resumed window with its
    // payload's first token — the (step, global batch) arithmetic a
    // trainer restarts from, on the artifact it actually reads
    "x_token_resume" -> ((s, d) => {
      val p = tokenShardTree(s, d)
      val man = graft.ops.ShardWriter.loadManifest(s, p)
        .select("max_pos").collect().map(_.getLong(0))
      val kept = man.count(_ >= 212L)
      require(kept > 1 && kept < man.length,
        s"resume must keep several files and prune the rest, kept " +
          s"$kept of ${man.length}")
      graft.ops.ShardWriter.resumeFrom(s, p, step = 4L, batchSize = 53L)
        .select(col("window_id"), col("n_tok"),
          col("shard").cast(LongType).as("shard"),
          element_at(col("tokens"), 1).as("first_token"))
        .orderBy("window_id")
    }),

    // cross-epoch TOKEN-level resume: the run consumed windows [0, 6)
    // of the epoch-0 window tree, the corpus re-published as doc epoch
    // 1 — the consumed window prefix maps (via its committed max_pos
    // provenance, manifest-pruned) to the doc-permutation prefix it
    // drew from, those DOCUMENTS anti-join out of the new epoch
    // (partially-consumed docs count as consumed — never re-seen), and
    // the remainder re-slices into a fresh ctx-64 window stream
    "x_token_resume_epoch" -> ((s, d) => {
      val (docRoot, winRoot) = tokenEpochTree(s, d)
      val winMan = graft.ops.ShardWriter.loadManifest(s,
          graft.ops.ShardWriter.epochPath(winRoot, 0))
        .select("min_pos").collect().map(_.getLong(0))
      val touched = winMan.count(_ < 6L)
      require(touched >= 1 && touched < winMan.length,
        s"the consumed-prefix read must be manifest-pruned, touched " +
          s"$touched of ${winMan.length} files")
      graft.ops.TokenStream.resumeTokensIntoEpoch(s, docRoot, winRoot,
          oldDocEpoch = 0, newDocEpoch = 1, oldWinEpoch = 0,
          step = 2L, batchSize = 3L, tokensCol = "ts", ctxLen = 64,
          blocks = 16, dropPartial = false)
        .select(col("window_id"), col("n_tok"), col("n_docs"),
          col("min_pos"), col("max_pos"),
          element_at(col("tokens"), 1).as("first_token"),
          element_at(col("tokens"), -1).as("last_token"))
        .orderBy("window_id")
    }),

    // TEMPERATURE-scaled domain mixing at alpha = 0.5 over a skewed
    // derived domain (20/100/rest docs): sampling mass proportional to
    // sqrt(domain size), scaled to a 1000-doc expected budget — small
    // domains upsample, large downsample, via the exact integer quota
    // (floor + millionths coin) the oracle re-derives from counts
    "x_sample_temperature" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        when(col("doc_id") < 20, lit("small"))
          .when(col("doc_id") < 120, lit("mid"))
          .otherwise(lit("big")).as("dom"))
      Sample.sampleByTemperature(base, "dom", "doc_id",
          alpha = 0.5, budgetDocs = 1000L)
        .select("doc_id", "dom", "epoch")
        .orderBy("doc_id", "epoch")
    }),

    // ...and at alpha = 1 (natural proportions — every domain the same
    // per-doc rate budget/corpus): the pow-free quota path, exactly
    // portable with NO float step at all (m_d = c_d·1e6 is integer on
    // both sides; Java pins pow(x, 1.0) == x)
    "x_sample_temperature_nat" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        when(col("doc_id") < 20, lit("small"))
          .when(col("doc_id") < 120, lit("mid"))
          .otherwise(lit("big")).as("dom"))
      Sample.sampleByTemperature(base, "dom", "doc_id",
          alpha = 1.0, budgetDocs = 800L, salt = "nat")
        .select("doc_id", "dom", "epoch")
        .orderBy("doc_id", "epoch")
    }),

    // ...weighted by TOKEN mass (the XLM-R multilingual convention):
    // domain mass c_d = Σ whitespace tokens, budget in TOKENS — a
    // domain of few huge documents no longer over-upsamples; every doc
    // of a domain gets the same exact HUGEINT quota replayed from the
    // token sums (sqrt snap at alpha = 0.5, exactly portable)
    "x_sample_temperature_tok" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        when(col("doc_id") < 20, lit("small"))
          .when(col("doc_id") < 120, lit("mid"))
          .otherwise(lit("big")).as("dom"),
        size(TextStats.tokens(col("text"))).cast(LongType).as("n_tok"))
      Sample.sampleByTemperatureTokens(base, "dom", "doc_id", "n_tok",
          alpha = 0.5, budgetTokens = 30000L, salt = "tok")
        .select("doc_id", "dom", "epoch")
        .orderBy("doc_id", "epoch")
    }),

    // ...and at the DYADIC alpha = 0.75: c^0.75 evaluates as the fixed
    // ascending sqrt chain sqrt(c)·sqrt(sqrt(c)) — every step correctly
    // rounded per IEEE-754, so the snap replays bit-for-bit in DuckDB
    // with NO pow anywhere (the general-pow portability bound applies
    // only to non-dyadic alphas now)
    "x_sample_temperature_dyadic" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        when(col("doc_id") < 20, lit("small"))
          .when(col("doc_id") < 120, lit("mid"))
          .otherwise(lit("big")).as("dom"))
      Sample.sampleByTemperature(base, "dom", "doc_id",
          alpha = 0.75, budgetDocs = 900L, salt = "dy")
        .select("doc_id", "dom", "epoch")
        .orderBy("doc_id", "epoch")
    }),

    // CURRICULUM ordering: the corpus laid out for two-stage training
    // — the main mix (stage 0) first, the high-quality annealing tail
    // (stage 1 = every 4th doc) LAST — documents hash-decorrelated
    // within each stage exactly like the plain shuffle; the oracle
    // replays the composite (stage, bucket, key, id) rank as one
    // window. The output is the same dense [0, N) contract the shard
    // writer and window slicer consume, so an annealed token stream
    // is this rank fed straight downstream
    "x_sample_curriculum" -> ((s, d) => {
      val staged = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 === 0, 1L).otherwise(0L).as("stage"))
      Sample.curriculumRank(staged, "doc_id", "stage", salt = "cu",
          buckets = 16)
        .select("doc_id", "stage", "shuffle_pos")
        .orderBy("doc_id")
    }),

    // the recipe DRY-RUN ("data mixing card") for the same skewed
    // domains at alpha = 0.5: per-domain mass, raw vs temperature-
    // scaled share (exact millionths), the sampler's integer quota,
    // effective epochs, expected output docs, and the cap flag — all
    // HUGEINT floor arithmetic after the one sqrt snap, so the oracle
    // re-derives every column from count(*) alone
    "x_sample_plan" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        when(col("doc_id") < 20, lit("small"))
          .when(col("doc_id") < 120, lit("mid"))
          .otherwise(lit("big")).as("dom"))
      Sample.temperaturePlan(base, "dom", "doc_id",
        alpha = 0.5, budgetDocs = 1000L)
    }),

    // ...and the TOKEN-mass card (the dry-run of
    // sampleByTemperatureTokens): domain mass = Σ whitespace tokens,
    // budget in tokens, every column re-derived from the token sums
    "x_sample_plan_tok" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        when(col("doc_id") < 20, lit("small"))
          .when(col("doc_id") < 120, lit("mid"))
          .otherwise(lit("big")).as("dom"),
        size(TextStats.tokens(col("text"))).cast(LongType).as("n_tok"))
      Sample.temperaturePlanTokens(base, "dom", "doc_id", "n_tok",
        alpha = 0.5, budgetTokens = 30000L)
    }),

    // per-source QUANTILE selection: the top 25% of documents by
    // quality score (n_chars) within each source — every source gets
    // its own absolute budget floor(count·0.25), so one dial is
    // correct across sources of different sizes; the oracle replays
    // the rank/budget arithmetic exactly
    "x_quality_quantile" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source"),
        col("n_chars").cast(LongType).as("n_chars"))
      Sample.selectByFraction(base, "source", "doc_id", "n_chars",
          keepPpm = 250000L)
        .orderBy("doc_id")
    }),

    // ...and by TOKEN mass: keep the best-scored prefix holding 60% of
    // each source's token mass — the budget derives from the source's
    // own Σ tokens
    "x_quality_quantile_tok" -> ((s, d) => {
      val base = docs(s, d).select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source"),
        col("n_chars").cast(LongType).as("n_chars"),
        size(TextStats.tokens(col("text"))).cast(LongType).as("n_tokens"))
      Sample.selectByFraction(base, "source", "doc_id", "n_chars",
          keepPpm = 600000L, tokenCol = Some("n_tokens"))
        .orderBy("doc_id")
    }),

    // per-source selection under a 2048-token budget, best (longest)
    // docs first: the kept set is the longest quality-ordered prefix
    // whose running token sum fits — replayed as the same window cut
    "x_sample_budget" -> ((s, d) => {
      val counted = docs(s, d).select(col("doc_id"),
        coalesce(col("source"), lit("")).as("source"),
        col("n_chars").cast(LongType).as("n_chars"),
        size(TextStats.tokens(col("text"))).cast(LongType).as("n_tokens"))
      Sample.selectByBudget(counted, "source", "doc_id", "n_chars",
          "n_tokens", 2048L)
        .select("doc_id", "source", "n_chars", "n_tokens", "cum_tokens",
          "sel_rank")
        .orderBy("doc_id")
    }),

    // deterministic train/val/test split labels (80/10/10 by hash bucket)
    "x_sample_split" -> ((s, d) =>
      Sample.assignSplits(docs(s, d), "lang", "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "lang", "split").orderBy("doc_id")),

    // deterministic global shuffle: dense permutation positions from the
    // two-pass bucketed rank (per-bucket counts -> offsets -> in-bucket
    // window) — the oracle replays the same total order as ONE global
    // row_number over (key mod B, key, id)
    "x_sample_shuffle" -> ((s, d) =>
      Sample.shuffleRank(docs(s, d).select("doc_id"), "doc_id",
          salt = "r14", buckets = 64)
        .orderBy("doc_id")),

    // gap-based sessionization of the event stream
    "x_sessionize" -> ((s, d) =>
      Sessionize.sessionStats(events(s, d), 1800)
        .orderBy("user_id", "session_id")),

    // tumbling-window aggregation (batch analog of the streaming agg)
    "x_tumbling_window" -> ((s, d) =>
      Sessionize.tumbling(events(s, d), 1800).orderBy("event_type", "bucket")),

    // pricing-summary aggregation (decimal-exact sums)
    "x_agg_pricing" -> ((s, d) => {
      val t = li(s, d).df
      t.groupBy("l_returnflag", "l_linestatus").agg(
        sum(col("l_quantity").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_base"),
        // factors cast to decimal FIRST (tie-free for 2-decimal data), then
        // exact decimal multiply — double→decimal of a product can tie and
        // Spark (HALF_UP) vs DuckDB (HALF_EVEN) would disagree. The sum is
        // ROUNDED to scale 4 before the double cast: at scale 8 the
        // unscaled value exceeds 2^53 and DuckDB's decimal→double cast is
        // no longer correctly rounded (observed at sf0.1).
        round(sum(col("l_extendedprice").cast(DecimalType(18, 4)) *
          (lit(BigDecimal(1)).cast(DecimalType(8, 4)) - col("l_discount").cast(DecimalType(8, 4)))), 4)
          .cast(DoubleType).as("sum_disc"),
        count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // as-of join: each event matched to the user's latest order at or
    // before the event time (union + last-non-null window, one shuffle)
    "x_asof_join" -> ((s, d) => {
      val e = events(s, d).withColumn("sec",
        expr(if (events(s, d).schema("ts").dataType == LongType)
          floorDivSql("ts", 1000000000L)
        else floorDivSql("unix_micros(CAST(ts AS TIMESTAMP))", 1000000L)))
        .select("event_id", "user_id", "sec")
      val o = s.read.parquet(s"$d/orders.parquet")
        .withColumn("osec",
          expr(floorDivSql("unix_micros(CAST(o_orderdate AS TIMESTAMP))", 1000000L)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_custkey", "osec").orderBy(col("o_orderkey").desc)
      val dedup = o.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select("o_custkey", "osec", "o_orderkey", "o_totalprice")
      AsOfJoin.asOf(e, dedup, "user_id", "o_custkey", col("sec"), col("osec"),
        Seq("o_orderkey", "o_totalprice"))
        .select("event_id", "user_id", "sec", "o_orderkey", "o_totalprice")
        .orderBy("event_id")
    }),

    // bucketed range join: each user's first-2h activity window against
    // ALL events (cross-user — no equi key, the case Spark would plan as
    // a nested-loop join); RangeJoin rewrites it to an equi join on 2h
    // time buckets
    "x_range_join" -> ((s, d) => {
      val ev = events(s, d)
      val sec = expr(
        if (ev.schema("ts").dataType == LongType) floorDivSql("ts", 1000000000L)
        else floorDivSql("unix_micros(CAST(ts AS TIMESTAMP))", 1000000L))
      val p = ev.select(col("event_id"), sec.as("t"), col("value"))
      val w = ev.groupBy(col("user_id").as("owner"))
        .agg(min(sec).as("lo"))
        .withColumn("hi", col("lo") + 7200L - 1L)
      RangeJoin.pointInInterval(p, col("t"), w, col("lo"), col("hi"), 7200L)
        .groupBy("owner")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast(DecimalType(18, 6)))
            .cast(DoubleType).as("sum_value"))
        .orderBy("owner")
    }),

    // bucketed interval-overlap join: 14-day order-date windows over an
    // orderkey sample, overlapping pairs found via canonical-bucket
    // banding (no dedup shuffle), top-100 by overlap length
    "x_range_overlap" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
        .filter(pmod(col("o_orderkey"), lit(29L)) === 0)
        .select(col("o_orderkey"),
          expr(floorDivSql("unix_micros(CAST(o_orderdate AS TIMESTAMP))", 1000000L))
            .as("lo"))
        .withColumn("hi", col("lo") + 14L * 86400L - 1L)
      val l = o.select(col("o_orderkey").as("l_key"), col("lo").as("l_lo"),
        col("hi").as("l_hi"))
      val r = o.select(col("o_orderkey").as("r_key"), col("lo").as("r_lo"),
        col("hi").as("r_hi"))
      RangeJoin.intervalOverlap(l, col("l_lo"), col("l_hi"),
          r, col("r_lo"), col("r_hi"), 14L * 86400L)
        .filter(col("l_key") < col("r_key"))
        .select(col("l_key"), col("r_key"),
          (least(col("l_hi"), col("r_hi")) -
            greatest(col("l_lo"), col("r_lo")) + 1L).as("overlap_sec"))
        .orderBy(col("overlap_sec").desc, col("l_key"), col("r_key"))
        .limit(100)
    }),

    // fuzzy key self-join: customer-name pairs at edit distance <= 1 via
    // deletion-neighborhood equi-join (hash-keyed) + exact levenshtein
    // verify — the naive form is an O(n^2) cross product
    "x_fuzzy_join" -> ((s, d) => {
      val c = s.read.parquet(s"$d/customer.parquet")
      val l = c.select(col("c_custkey").as("lid"), col("c_name").as("lname"))
      val r = c.select(col("c_custkey").as("rid"), col("c_name").as("rname"))
      graft.ops.FuzzyJoin.editDistance1Pairs(l, "lid", "lname", r, "rid", "rname")
        .filter(col("lid") < col("rid"))
        .orderBy("lid", "rid")
    }),

    // the radius-2 form (FastSS k=2, ~len²/2 deletion variants per key):
    // zero-padded customer names make distance-2 pairs dense, so the
    // gate samples c_custkey <= 3000 to keep the pair count bounded at
    // any sf (sf0.01's 1500 customers all pass — verify is full-corpus);
    // the oracle affords the quadratic join at that size
    "x_fuzzy_join2" -> ((s, d) => {
      val c = s.read.parquet(s"$d/customer.parquet")
        .filter(col("c_custkey") <= 3000)
      val l = c.select(col("c_custkey").as("lid"), col("c_name").as("lname"))
      val r = c.select(col("c_custkey").as("rid"), col("c_name").as("rname"))
      graft.ops.FuzzyJoin.editDistancePairs(l, "lid", "lname",
          r, "rid", "rname", maxDist = 2)
        .filter(col("lid") < col("rid"))
        .orderBy("lid", "rid")
    }),

    // broadcast join + per-group top-k window
    "x_join_topk" -> ((s, d) => {
      val o = s.read.parquet(s"$d/orders.parquet")
      val c = s.read.parquet(s"$d/customer.parquet")
      val n = s.read.parquet(s"$d/nation.parquet")
      val joined = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      joined.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice", "c_name", "n_name")
        .orderBy("o_orderpriority", "rk")
    }),

    // end-to-end cleaning pipeline: whitespace canonicalization → dedup →
    // quality gate → language tag → persisted store table → per-source
    // summary (the composed training-data flow, not an isolated operator)
    "x_pipeline_clean" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        if (st.isTable("clean/documents")) st.drop("clean/documents")
        // canonicalize FIRST: exact dedup must not be defeated by
        // formatting noise — the precise failure normalizeWhitespace
        // exists to prevent; all downstream stats score the canonical text
        val canon = docs(s, d).select(col("doc_id"), col("source"),
          TextStats.normalizeWhitespace(col("text")).as("text"))
        val deduped = Dedup.exact(canon, "doc_id", "text")
          .select(col("keep_id").as("doc_id"))
          .join(canon, "doc_id")
        val scored = TextStats.quality(deduped, "text")
          .withColumn("lang_guess", TextStats.langId(col("text")))
        val clean = scored
          .filter(col("n_tokens") >= 10 && col("stopword_ratio") >= 0.05)
          .select("doc_id", "source", "lang_guess", "n_tokens", "quality_score")
          .orderBy("doc_id")
        st.put("clean/documents", clean)
        st.table("clean/documents").df
          .groupBy("source")
          .agg(count(lit(1)).as("n"),
            min(col("doc_id")).as("min_id"),
            sum(col("n_tokens")).as("tokens"),
            round(sum(col("quality_score").cast(DecimalType(20, 12))), 6)
              .cast(DoubleType).as("sum_quality"))
          .orderBy("source")
      }
    }),

    // streaming↔batch equivalence gate: the streaming exact-dedup
    // (dropDuplicatesWithinWatermark, AvailableNow trigger) run through
    // the PRODUCTION sink (EventStream.appendSink → store table, atomic
    // per-batch guard), over the corpus plus 20 planted duplicate texts;
    // the surviving digest set must equal batch DISTINCT text — oracle-
    // gated, so a dedup that over- or under-drops fails the row gate
    "x_stream_dedup" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        // the fixture has no exact-duplicate texts — plant 20 so the
        // gate actually exercises a drop; duplicates carry their
        // source's event_time (inside the watermark horizon)
        val base = docs(s, d).select(col("doc_id"), col("text"))
          .withColumn("event_time",
            timestamp_micros(lit(1700000000000000L) + col("doc_id") * 1000L))
        val dups = base.filter(col("doc_id") < 20)
          .withColumn("doc_id", col("doc_id") + 5000000L)
        if (st.isTable("stream/dedup")) st.drop("stream/dedup")
        st.put("stream/dedup", base.select("doc_id", "text").limit(0))
        withStagedStream(s, base.unionByName(dups)) { (src, ckpt) =>
          graft.streaming.EventStream
            .appendSink(graft.streaming.EventStream
              .dedupStream(src, "text", "event_time", "1 hour")
              .select("doc_id", "text"), st, "stream/dedup", ckpt)
            .awaitTermination()
        }
        st.table("stream/dedup").df
          .select(md5(col("text")).as("digest")).orderBy("digest")
      }
    }),

    // continuous ingest with the index TRACKING the stream: two
    // controlled micro-batches through the index-appending sink —
    // batch 1's survivors are appended into the dedup index before
    // batch 2 arrives, so batch 2's planted variants OF BATCH-1 DOCS
    // are dropped (invisible to the probe-only sink) alongside its
    // ref-corpus variants; the sink mutates the index, so each
    // invocation CLONES the build-once base snapshot (file copy, not a
    // rebuild) and deletes the clone after
    "x_stream_index_ingest" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        val idxPath = cloneTree(s, ingBaseDedupIndex(s, d),
          indexPath("ing_", d) +
            "-" + java.util.UUID.randomUUID().toString.take(8))
        val b1 = docs(s, d)
          .filter(col("doc_id") >= 200 && col("doc_id") < 250)
          .select("doc_id", "text")
          .unionByName(docs(s, d).filter(col("doc_id") < 3)
            .select((col("doc_id") + 2000000L).as("doc_id"),
              concat(col("text"), lit(" zzz")).as("text")))
        val b2 = docs(s, d)
          .filter(col("doc_id") >= 250 && col("doc_id") < 300)
          .select("doc_id", "text")
          // variants of BATCH-1 docs: dropped only if the index grew
          .unionByName(docs(s, d)
            .filter(col("doc_id") >= 200 && col("doc_id") < 203)
            .select((col("doc_id") + 4000000L).as("doc_id"),
              concat(col("text"), lit(" zzz")).as("text")))
          // variants of REF docs: dropped by the base snapshot
          .unionByName(docs(s, d).filter(col("doc_id") >= 3 && col("doc_id") < 6)
            .select((col("doc_id") + 5000000L).as("doc_id"),
              concat(col("text"), lit(" zzz")).as("text")))
        if (st.isTable("stream/ingest_idx")) st.drop("stream/ingest_idx")
        st.put("stream/ingest_idx", b1.limit(0))
        withStagedBatches(s, Seq(b1, b2)) { (src, ckpt) =>
          graft.streaming.EventStream.dedupIndexIngestSink(src, st,
            "stream/ingest_idx", ckpt, idxPath, "doc_id", "text", 0.5)
            .awaitTermination()
        }
        val out = localized(s,
          st.table("stream/ingest_idx").df.select("doc_id").orderBy("doc_id"))
        try {
          val p = new org.apache.hadoop.fs.Path(idxPath)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true); ()
        } catch { case _: Exception => () }
        out
      }
    }),

    // quality-filtered ingest: the NB model trained on the (planted)
    // even docs gates the odd-doc stream — two controlled batches
    // through the production sink, survivors = exactly the docs the
    // model scores positive, replayed end-to-end by the shared oracle
    // STREAMING crawl ingest: the WET dump's part files arrive one
    // micro-batch each through the text source (record-delimiter
    // lineSep) + parseWet into the exactly-once append sink — the
    // landed table must equal the batch readWet bit-for-bit (shares
    // x_source_wet's oracle shape, uri-ordered)
    "x_stream_wet_ingest" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        val dump = wetDump(s, d)
        val batch = graft.sources.CorpusIngest.readWet(s, dump)
        if (st.isTable("stream/wet")) st.drop("stream/wet")
        st.put("stream/wet", batch.limit(0))
        val ckpt = java.nio.file.Files
          .createTempDirectory("wetckpt").toString
        val src = s.readStream
          .option("lineSep", graft.sources.CorpusIngest.WetMagic)
          .option("maxFilesPerTrigger", 1)
          .text(dump)
        graft.streaming.EventStream.appendSink(
          graft.sources.CorpusIngest.parseWet(src, "value"),
          st, "stream/wet", ckpt).awaitTermination()
        localized(s, st.table("stream/wet").df
          .select("doc_id", "text", "source", "uri").orderBy("uri"))
      }
    }),

    // DECONTAMINATION AT INGEST: the documents stream through the
    // benchmark-guard sink in two micro-batches; only docs sharing
    // fewer than 2 trigram hashes with every bench doc (suite =
    // docs < 20, the persisted bench index) land — the landed set
    // must be batch-equivalent to the one-shot contamination sweep,
    // which the oracle replays (bench docs themselves self-overlap
    // maximally and are dropped)
    "x_stream_contamination" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        val all = docs(s, d).select("doc_id", "text")
        if (st.isTable("stream/clean")) st.drop("stream/clean")
        st.put("stream/clean", all.limit(0))
        withStagedBatches(s, Seq(
          all.filter(col("doc_id") % 2 === 0),
          all.filter(col("doc_id") % 2 === 1))) { (src, ckpt) =>
          graft.streaming.EventStream.decontaminateSink(src, st,
            "stream/clean", ckpt, benchIndex(s, d), "doc_id", "text",
            minShared = 2L,
            verifyAgainst = Some((docs(s, d).filter(col("doc_id") < 20)
              .select("doc_id", "text"), "doc_id"))).awaitTermination()
        }
        localized(s,
          st.table("stream/clean").df.select("doc_id").orderBy("doc_id"))
      }
    }),

    "x_stream_classify" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        val model = nbModel(s, d)
        val odd = plantedQualityDocs(s, d).filter(col("doc_id") % 2 === 1)
          .select("doc_id", "text")
        if (st.isTable("stream/quality")) st.drop("stream/quality")
        st.put("stream/quality", odd.limit(0))
        withStagedBatches(s, Seq(
          odd.filter(col("doc_id") < 250),
          odd.filter(col("doc_id") >= 250))) { (src, ckpt) =>
          graft.streaming.EventStream.classifierFilterSink(src, st,
            "stream/quality", ckpt, model, "doc_id", "text")
            .awaitTermination()
        }
        localized(s,
          st.table("stream/quality").df.select("doc_id").orderBy("doc_id"))
      }
    }),

    // streaming EMBEDDING ingest with the IVF index tracking the
    // stream: two controlled micro-batches through the ANN sink —
    // batch 2 plants scaled copies of BATCH-1 vectors (dropped only
    // because batch 1's survivors joined the index) and of CORPUS
    // vectors (dropped by the base snapshot); the oracle replays the
    // sequential two-stage cosine cascade with the grown assignment set
    "x_stream_embed_ingest" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        val emb = embs(s, d)
        val idxPath = cloneTree(s, ingBaseIvfIndex(s, d),
          indexPath("eing_", d) +
            "-" + java.util.UUID.randomUUID().toString.take(8))
        val b1 = emb.filter(col("vec_id") < 25).select("vec_id", "embedding")
          .unionByName(emb.filter(col("vec_id") >= 100 && col("vec_id") < 110)
            .select((col("vec_id") + 30000L).as("vec_id"),
              transform(col("embedding"), x => x * lit(1.5f)).as("embedding")))
        val b2 = emb.filter(col("vec_id") >= 25 && col("vec_id") < 50)
          .select("vec_id", "embedding")
          .unionByName(emb.filter(col("vec_id") < 5)
            .select((col("vec_id") + 40000L).as("vec_id"),
              transform(col("embedding"), x => x * lit(2.0f)).as("embedding")))
          .unionByName(emb.filter(col("vec_id") >= 110 && col("vec_id") < 115)
            .select((col("vec_id") + 50000L).as("vec_id"),
              transform(col("embedding"), x => x * lit(1.25f)).as("embedding")))
        if (st.isTable("stream/ingest_emb")) st.drop("stream/ingest_emb")
        st.put("stream/ingest_emb", b1.limit(0))
        withStagedBatches(s, Seq(b1, b2)) { (src, ckpt) =>
          graft.streaming.EventStream.embedDedupIngestSink(src, st,
            "stream/ingest_emb", ckpt, idxPath, "vec_id", "embedding",
            0.99, 4).awaitTermination()
        }
        val out = localized(s,
          st.table("stream/ingest_emb").df.select("vec_id").orderBy("vec_id"))
        try {
          val p = new org.apache.hadoop.fs.Path(idxPath)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true); ()
        } catch { case _: Exception => () }
        out
      }
    }),

    // streaming ingest into the persisted TEXT index: two controlled
    // micro-batches append into index + store through the production
    // sink; batch 2 plants 3 all-query-token docs that MUST dominate
    // the post-stream probe — a sink that fails to index its batches
    // cannot rank them, and the probe's freshness contract verifies
    // the additive stamp against base ∪ batch1 ∪ batch2
    "x_stream_text_ingest" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        val idxPath = cloneTree(s, ingBaseTextIndex(s, d),
          indexPath("sti_", d) +
            "-" + java.util.UUID.randomUUID().toString.take(8))
        val b1 = docs(s, d)
          .filter(col("doc_id") >= 200 && col("doc_id") < 250)
          .select("doc_id", "text")
        val planted = s.range(3).select((col("id") + 3000000L).as("doc_id"),
          lit("the data quick join hash never-in-corpus the data quick join")
            .as("text"))
        val b2 = docs(s, d)
          .filter(col("doc_id") >= 250 && col("doc_id") < 300)
          .select("doc_id", "text")
          .unionByName(planted)
        if (st.isTable("stream/text_ingest")) st.drop("stream/text_ingest")
        st.put("stream/text_ingest", b1.limit(0))
        withStagedBatches(s, Seq(b1, b2)) { (src, ckpt) =>
          graft.streaming.EventStream.textIndexIngestSink(src, st,
            "stream/text_ingest", ckpt, idxPath, "doc_id", "text")
            .awaitTermination()
        }
        val corpus = docs(s, d).filter(col("doc_id") < 300)
          .select("doc_id", "text").unionByName(planted)
        val out = localized(s,
          graft.ops.TextIndex.searchIndex(s, idxPath,
              "the data quick join hash never-in-corpus", 10,
              verifyAgainst = (corpus, "doc_id"))
            .select(col("id").as("doc_id"), col("overlap")))
        try {
          val p = new org.apache.hadoop.fs.Path(idxPath)
          p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true); ()
        } catch { case _: Exception => () }
        out
      }
    }),

    // tokenize-on-ingest: the SAME production sink with a saved BPE
    // model attached — every streamed document LANDS pre-tokenized
    // (`token_ids` appended per batch, model identity stamped by
    // content fingerprint), and the landed ids are replayed by the
    // x_bpe_ids oracle (recursive-CTE apply + vocab join) over the
    // streamed doc range: the one stream output column that was
    // previously only spec-checked is now DuckDB-gated end to end
    "x_stream_token_ingest" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        val idxPath = cloneTree(s, ingBaseTextIndex(s, d),
          indexPath("stk_", d) +
            "-" + java.util.UUID.randomUUID().toString.take(8))
        // the PERSISTED per-sfDir fixture model — saved once, reused by
        // every invocation (the save+reload was pure harness floor; the
        // sink still loads and fingerprint-stamps it per run)
        val modelPath = bpeGateModelPath(s, d)
        val model = bpeGateModel(s, d)
        val b1 = docs(s, d)
          .filter(col("doc_id") >= 200 && col("doc_id") < 250)
          .select("doc_id", "text")
        val b2 = docs(s, d)
          .filter(col("doc_id") >= 250 && col("doc_id") < 300)
          .select("doc_id", "text")
        if (st.isTable("stream/token_ingest")) st.drop("stream/token_ingest")
        st.put("stream/token_ingest", b1.limit(0)
          .withColumn("token_ids", Bpe.encodeIdsCol(col("text"), model)))
        withStagedBatches(s, Seq(b1, b2)) { (src, ckpt) =>
          graft.streaming.EventStream.textIndexIngestSink(src, st,
            "stream/token_ingest", ckpt, idxPath, "doc_id", "text",
            bpeModelPath = Some(modelPath))
            .awaitTermination()
        }
        val out = localized(s, st.table("stream/token_ingest").df
          .select(col("doc_id"), posexplode(col("token_ids")))
          .select(col("doc_id"),
            (col("pos") + 1).cast(LongType).as("tpos"),
            col("col").as("token_id")))
        try { // the model tree stays — it is the shared per-sfDir fixture
          val fs = new org.apache.hadoop.fs.Path(idxPath)
            .getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.delete(new org.apache.hadoop.fs.Path(idxPath), true); ()
        } catch { case _: Exception => () }
        out.orderBy("doc_id", "tpos")
      }
    }),

    // streaming CONTEXT-WINDOW ingest: two controlled micro-batches of
    // tokenized docs stream through the production sink — completed
    // ctx-32 windows publish with global ids, the partial tail carries
    // as per-doc-segment STATE across the batch boundary (the cut lands
    // mid-window), and the landed payload must equal the batch slice
    // over the union, token for token
    "x_stream_window_ingest" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        val toks = docs(s, d).select(col("doc_id"),
          TextStats.tokens(col("text")).as("ts"))
        val b1 = toks.filter(col("doc_id") >= 200 && col("doc_id") < 250)
        val b2 = toks.filter(col("doc_id") >= 250 && col("doc_id") < 300)
        if (st.isTable("stream/ctx_windows")) st.drop("stream/ctx_windows")
        st.put("stream/ctx_windows", graft.ops.TokenStream.sliceWindows(
          b1.limit(0).withColumn("_p", lit(0L)), "_p", "ts", 32,
          dropPartial = false))
        withStagedBatches(s, Seq(b1, b2)) { (src, ckpt) =>
          graft.streaming.EventStream.contextWindowIngestSink(src, st,
            "stream/ctx_windows", ckpt, "doc_id", "ts", ctxLen = 32,
            blocks = 16).awaitTermination()
        }
        localized(s, st.table("stream/ctx_windows").df
          .select(col("window_id"),
            posexplode(col("tokens")).as(Seq("i", "token")))
          .select(col("window_id"),
            (col("i") + 1).cast(LongType).as("slot"), col("token")))
          .orderBy("window_id", "slot")
      }
    }),

    // continuous-ingest dedup: the fresh cross-corpus batch streams
    // through the index-deduped PRODUCTION sink — documents near-
    // duplicating the persisted reference snapshot are dropped in
    // flight, survivors land in the store under the exactly-once guard
    "x_stream_dedup_index" -> ((s, d) => {
      val st = store(s, d)
      st.synchronized {
        if (st.isTable("stream/dedup_idx")) st.drop("stream/dedup_idx")
        st.put("stream/dedup_idx", crossFreshBatch(s, d).limit(0))
        withStagedStream(s, crossFreshBatch(s, d)) { (src, ckpt) =>
          graft.streaming.EventStream.dedupAgainstIndexSink(src, st,
            "stream/dedup_idx", ckpt, dedupIndex(s, d), "doc_id", "text", 0.5)
            .awaitTermination()
        }
        st.table("stream/dedup_idx").df.select("doc_id").orderBy("doc_id")
      }
    }),

    // streaming CUSTOM-STATE gate: per-user inactivity summaries via
    // flatMapGroupsWithState + event-time timeout. A sentinel event 90
    // event-time days past the last real event pushes the final
    // watermark beyond every user's 30-day inactivity deadline, so every
    // real user's state times out and emits before the AvailableNow
    // query drains; the order-independent fold (count / decimal sum /
    // min / max) makes the emitted set EXACTLY the batch GROUP BY
    "x_stream_user_summary" -> ((s, d) => {
      val ev = events(s, d)
      withStagedStream(s, ev.unionByName(sentinelEvent(ev))) { (src, ckpt) =>
        collectMemorySink(s, name =>
          graft.streaming.EventStream.userSummaries(src, "30 days", "1 hour")
            .filter(col("user_id") >= 0)
            .writeStream.outputMode("append").format("memory").queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(),
          Seq("user_id"))
      }
    }),

    // native session_window streaming state: gap-based sessions per
    // user (complete mode — every closed-over session is emitted); the
    // oracle re-derives sessions with the window's exact break rule
    // (a gap of EXACTLY 30 min starts a new session: ends exclusive)
    "x_stream_session" -> ((s, d) =>
      withStagedStream(s, events(s, d)) { (src, ckpt) =>
        collectMemorySink(s, name =>
          graft.streaming.EventStream.sessionWindows(src, "30 minutes", "2 hours")
            .select(col("user_id"),
              col("session_window.start").cast("long").as("sess_start"),
              col("n_events"), col("sum_value"))
            .writeStream.outputMode("complete").format("memory").queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(),
          Seq("user_id", "sess_start"))
      }),

    // streaming windowed aggregation equivalence: windowedCounts under
    // AvailableNow must reproduce the batch tumbling aggregation
    // bit-exactly (decimal-exact sums make the equality well-defined);
    // 30-minute epoch-aligned windows == the oracle's 1800-sec buckets
    "x_stream_window" -> ((s, d) =>
      withStagedStream(s, events(s, d)) { (src, ckpt) =>
        collectMemorySink(s, name =>
          graft.streaming.EventStream.windowedCounts(src, "30 minutes", "1 hour")
            .select(col("event_type"),
              expr("cast(window.start as long) div 1800").as("bucket"),
              col("n"), col("sum_value"))
            .writeStream.outputMode("complete").format("memory").queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(),
          Seq("event_type", "bucket"))
      }),

    // stream-static ENRICHMENT join: each micro-batch broadcast-joins
    // the customer dimension (stateless — no watermark, no state
    // store). The dim is restricted to c_custkey < 100 while user_ids
    // run higher, so the gate also proves LEFT semantics: unmatched
    // facts survive with a null segment. The per-segment rollup below
    // is gate-side batch over the sink — the streaming surface under
    // test is the join itself; decimal-exact sum keeps it oracle-exact
    "x_stream_enrich" -> ((s, d) => {
      val dim = s.read.parquet(s"$d/customer.parquet")
        .filter(col("c_custkey") < 100)
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      withStagedStream(s, events(s, d)) { (src, ckpt) =>
        collectMemorySink(s, name =>
          graft.streaming.EventStream.enrich(src, dim, "user_id")
            .select("event_id", "user_id", "segment", "value")
            .writeStream.outputMode("append").format("memory").queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start(),
          Seq("event_id"))
      }
        .groupBy("segment")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          round(sum(col("value").cast(DecimalType(18, 6))), 6)
            .cast(DoubleType).as("sum_value"))
        .orderBy("segment")
    }),

    // multimodal: binary payload + stubbed decode metadata
    "x_multimodal_meta" -> ((s, d) =>
      Multimodal.decodeStub(Multimodal.attachPayload(docs(s, d), "text"))
        .select(col("doc_id"), col("media_meta.format").as("format"),
          col("media_meta.width").as("width"), col("media_meta.height").as("height"),
          col("media_meta.nBytes").as("n_bytes"))
        .orderBy("doc_id")),

    // multimodal: mapPartitions batch featurization (deterministic fake)
    "x_multimodal_feat" -> ((s, d) =>
      Multimodal.featurize(
        Multimodal.attachPayload(docs(s, d), "text"), "doc_id", "payload", 16)
        .toDF()
        .select(col("id"), col("nBytes").as("n_bytes"),
          element_at(col("features"), 1).cast(DoubleType).as("f0"),
          element_at(col("features"), 2).cast(DoubleType).as("f1"))
        .orderBy("id")),

    // multimodal resize plumbing: decoded dims clamped to 128x128, the
    // payload cropped to the byte budget, the meta struct rewritten —
    // the resized BYTES are gated (hex digest column), not just shapes
    "x_multimodal_resize" -> ((s, d) =>
      Multimodal.resizeStub(
          Multimodal.decodeStub(Multimodal.attachPayload(docs(s, d), "text")),
          maxW = 128, maxH = 128)
        .select(col("doc_id"),
          col("resized_meta.width").as("width"),
          col("resized_meta.height").as("height"),
          col("resized_meta.nBytes").as("n_resized"),
          lower(hex(col("resized"))).as("payload_hex"))
        .orderBy("doc_id")),

    // multimodal frame sampling (video analog): n byte-slice "frames"
    // per payload, exploded to (doc, frame_idx, frame bytes) rows
    "x_multimodal_frames" -> ((s, d) =>
      Multimodal.frameSample(
          Multimodal.attachPayload(docs(s, d), "text"), n = 4)
        .select(col("doc_id"), posexplode(col("frames")).as(Seq("frame_idx", "f")))
        .select(col("doc_id"), col("frame_idx").cast(LongType).as("frame_idx"),
          lower(hex(col("f"))).as("frame_hex"))
        .orderBy("doc_id", "frame_idx"))
  )

  /** Shared CTE chain: planted near-dups → shingle hashes → 32-hash
    * MinHash signatures → 8 bands → candidate pairs → signature-agreement
    * estimate (`agree(id1, id2, est)`). Used by the LSH-pairs oracle and,
    * under `WITH RECURSIVE`, by the clustering oracle. */
  private def minhashLshCtes: String =
    (s"""docs2 AS (SELECT doc_id, text FROM documents WHERE doc_id < 300 """ +
     """UNION ALL SELECT doc_id + 1000000, text || ' zzz' FROM documents WHERE doc_id < 3), """ +
     s"""toks AS (SELECT doc_id, $TOK AS l FROM docs2), """ +
     """sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 1)), """ +
     """i -> array_to_string(l[i:i+2], ' '))) AS s FROM toks), """ +
     s"""hm AS (SELECT doc_id, ${h60sql("s")} % 2147483647 AS h FROM sh), """ +
     """sig AS (SELECT doc_id, g.i AS i, """ +
     """min((((g.i * 2654435761) % 2147483647 + 1) * h + (g.i * 40503) % 2147483647 + 7) % 2147483647) AS mh """ +
     """FROM hm, generate_series(0, 31) g(i) GROUP BY 1, 2), """ +
     """bands AS (SELECT doc_id, i // 4 AS band, list(mh ORDER BY i) AS bl FROM sig GROUP BY doc_id, i // 4), """ +
     """cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2 FROM bands a """ +
     """JOIN bands b ON a.band = b.band AND a.bl = b.bl AND a.doc_id < b.doc_id), """ +
     """agree AS (SELECT c.id1, c.id2, SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END) / 32.0 AS est """ +
     """FROM cand c JOIN sig sa ON sa.doc_id = c.id1 JOIN sig sb ON sb.doc_id = c.id2 AND sa.i = sb.i """ +
     """GROUP BY 1, 2)""")

  /** Recursive reachability over the LSH candidate pairs (builds on
    * [[minhashLshCtes]]' `agree`): kept pairs → undirected edges →
    * per-vertex reachable set `reach(id, r)`. ONE definition shared by
    * the clustering / grouping / keep-best oracles so the three gates
    * cannot silently diverge. */
  private def reachCtes: String =
    ("""pairs AS (SELECT id1, id2 FROM agree WHERE est >= 0.5), """ +
     """edges AS (SELECT id1 AS src, id2 AS dst FROM pairs UNION SELECT id2, id1 FROM pairs), """ +
     """verts AS (SELECT DISTINCT src AS id FROM edges), """ +
     """reach(id, r) AS (SELECT id, id FROM verts """ +
     """UNION SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id)""")

  /** Shared CTE chain: spherical k-means over `embeddings`, 1 Lloyd
    * iteration (seed = 8 smallest-id vectors) — yields `el` (exploded
    * elements), `c1`/`n1` (trained codebook + fixed norms), and `s1`
    * (every vector's affinity to every trained centroid). Used by the
    * kmeans-assignment oracle and, extended with probe/score CTEs, by
    * the trained-IVF oracle. */
  private def kmeansCtes: String =
    ("""el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings), """ +
     """cl0 AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 8)), """ +
     """c0 AS (SELECT cl0.j, el.i, el.x AS cx FROM el JOIN cl0 USING (vec_id)), """ +
     """n0 AS (SELECT j, SUM(CAST(round(cx * cx * 1e15) AS BIGINT)) AS dyy FROM c0 GROUP BY 1), """ +
     """a0 AS (SELECT el.vec_id, c0.j, SUM(CAST(round(el.x * c0.cx * 1e15) AS BIGINT)) AS dxy FROM el JOIN c0 USING (i) GROUP BY 1, 2), """ +
     """s0 AS (SELECT a0.vec_id, a0.j, CAST(a0.dxy AS DOUBLE) / sqrt(CAST(n0.dyy AS DOUBLE)) AS s FROM a0 JOIN n0 USING (j)), """ +
     """as0 AS (SELECT vec_id, j AS list FROM (SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j) AS rn FROM s0) WHERE rn = 1), """ +
     """m1 AS (SELECT a.list, el.i, SUM(CAST(round(el.x * 1e15) AS BIGINT)) AS sf, COUNT(*) AS cnt FROM el JOIN as0 a USING (vec_id) GROUP BY 1, 2), """ +
     """c1 AS (SELECT c0.j, c0.i, COALESCE(CAST(m1.sf AS DOUBLE) / (m1.cnt * 1e15), c0.cx) AS cx FROM c0 LEFT JOIN m1 ON m1.list = c0.j AND m1.i = c0.i), """ +
     """n1 AS (SELECT j, SUM(CAST(round(cx * cx * 1e15) AS BIGINT)) AS dyy FROM c1 GROUP BY 1), """ +
     """a1 AS (SELECT el.vec_id, c1.j, SUM(CAST(round(el.x * c1.cx * 1e15) AS BIGINT)) AS dxy FROM el JOIN c1 USING (i) GROUP BY 1, 2), """ +
     """s1 AS (SELECT a1.vec_id, a1.j, CAST(a1.dxy AS DOUBLE) / sqrt(CAST(n1.dyy AS DOUBLE)) AS s FROM a1 JOIN n1 USING (j))""")

  /** One k-means|| round for the [[x_kmeans_par_init]] oracle: from
    * candidate table `prev` (cid, vec_id), derive per-row d² to the
    * cosine-assignment winner (the engine's nearest_centroid ranking),
    * the cost φ, and round `r`'s sampled ids under the exact-integer
    * coin test `coin·φ < l·10⁶·d²` (HUGEINT — the engine's
    * DECIMAL(38,0)). */
  private def kmparRound(r: Int, prev: String, l: Int): String =
    (s"""${prev}e AS MATERIALIZED (SELECT c.cid, e.i, e.x FROM $prev c JOIN el e USING (vec_id)), """ +
     s"""n$r AS MATERIALIZED (SELECT cid, SUM(CAST(round(x*x*1e15) AS BIGINT)) AS dyy FROM ${prev}e GROUP BY 1), """ +
     s"""a$r AS MATERIALIZED (SELECT el.vec_id, ce.cid, SUM(CAST(round(el.x*ce.x*1e15) AS BIGINT)) AS dxy """ +
     s"""FROM el JOIN ${prev}e ce USING (i) GROUP BY 1, 2), """ +
     s"""w$r AS MATERIALIZED (SELECT a.vec_id, a.cid, a.dxy, n.dyy, """ +
     """row_number() OVER (PARTITION BY a.vec_id ORDER BY CAST(a.dxy AS DOUBLE)/sqrt(CAST(n.dyy AS DOUBLE)) DESC, a.cid) AS rn """ +
     s"""FROM a$r a JOIN n$r n USING (cid)), """ +
     s"""d$r AS MATERIALIZED (SELECT w.vec_id, greatest(0, x2.dxx + w.dyy - 2*w.dxy) AS d2 """ +
     s"""FROM w$r w JOIN dxx x2 ON x2.vec_id = w.vec_id WHERE w.rn = 1), """ +
     s"""p$r AS MATERIALIZED (SELECT SUM(d2::HUGEINT) AS phi FROM d$r), """ +
     s"""s$r AS MATERIALIZED (SELECT d.vec_id FROM d$r d JOIN dxx x3 ON x3.vec_id = d.vec_id, p$r """ +
     s"""WHERE x3.dxx > 0 """ +
     s"""AND (${h60sql(s"'kmpar:g:$r:' || CAST(d.vec_id AS VARCHAR)")} % 1000000)::HUGEINT * phi """ +
     s"""< ${l}000000::HUGEINT * d.d2::HUGEINT)""")

  /** The k-means|| init CTE chain (2 rounds, l=8, k=4, salt "g" — the
    * `x_kmeans_par_init` parameters): candidates in insertion order
    * (`wt`: cid, vec_id, weight) and the top-4-by-weight cut (`sel`:
    * cid, s = 1-based selection rank). Shared by [[kmparOracle]] and,
    * extended with a Lloyd round + probe CTEs, by
    * [[ivfTrainedParOracle]]. */
  private def kmparChain: String =
    ("""f AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings """ +
     """WHERE len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0), """ +
     """el AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x FROM f), """ +
     """dxx AS MATERIALIZED (SELECT vec_id, SUM(CAST(round(x*x*1e15) AS BIGINT)) AS dxx FROM el GROUP BY 1), """ +
     """c0 AS MATERIALIZED (SELECT 0::BIGINT AS cid, min(vec_id) AS vec_id FROM dxx WHERE dxx > 0), """ +
     kmparRound(1, "c0", 8) + ", " +
     """c1 AS MATERIALIZED (SELECT cid, vec_id FROM c0 UNION ALL """ +
     """SELECT (row_number() OVER (ORDER BY vec_id)), vec_id FROM s1), """ +
     kmparRound(2, "c1", 8) + ", " +
     """c2 AS MATERIALIZED (SELECT cid, vec_id FROM c1 UNION ALL """ +
     """SELECT ((SELECT count(*) FROM c1) + row_number() OVER (ORDER BY vec_id) - 1), vec_id FROM s2), """ +
     """c2e AS MATERIALIZED (SELECT c.cid, e.i, e.x FROM c2 c JOIN el e USING (vec_id)), """ +
     """nw AS MATERIALIZED (SELECT cid, SUM(CAST(round(x*x*1e15) AS BIGINT)) AS dyy FROM c2e GROUP BY 1), """ +
     """aw AS MATERIALIZED (SELECT el.vec_id, ce.cid, SUM(CAST(round(el.x*ce.x*1e15) AS BIGINT)) AS dxy """ +
     """FROM el JOIN c2e ce USING (i) GROUP BY 1, 2), """ +
     """ww AS MATERIALIZED (SELECT a.vec_id, a.cid, """ +
     """row_number() OVER (PARTITION BY a.vec_id ORDER BY CAST(a.dxy AS DOUBLE)/sqrt(CAST(n.dyy AS DOUBLE)) DESC, a.cid) AS rn """ +
     """FROM aw a JOIN nw n USING (cid)), """ +
     """wt AS MATERIALIZED (SELECT c2.cid, c2.vec_id, COALESCE(cnt.n, 0)::BIGINT AS weight """ +
     """FROM c2 LEFT JOIN (SELECT cid, count(*)::BIGINT AS n FROM ww WHERE rn = 1 GROUP BY 1) cnt USING (cid)), """ +
     """sel AS MATERIALIZED (SELECT cid, (row_number() OVER (ORDER BY weight DESC, cid))::BIGINT AS s """ +
     """FROM wt QUALIFY row_number() OVER (ORDER BY weight DESC, cid) <= 4)""")

  /** The full k-means|| init replay: every candidate with its Voronoi
    * weight and (if selected) its rank in the top-4 cut. */
  private def kmparOracle: String =
    (s"""WITH $kmparChain """ +
     """SELECT wt.cid AS cand_idx, wt.vec_id, wt.weight, sel.s - 1 AS sel """ +
     """FROM wt LEFT JOIN sel USING (cid) ORDER BY cand_idx""")

  /** `x_knn_ivf_trained_par` replay: the [[kmparChain]] init's 4
    * centers (in weight order — codebook index `j = s − 1`), ONE Lloyd
    * round over the FULL embeddings table (the engine refines over the
    * unfiltered corpus; only the INIT filters malformed vectors), then
    * the same trained-IVF probe/score CTEs as [[ivfTrainedOracle]]:
    * assignment by cosine argmax, query 0's top-3 lists probed, exact
    * fixed-point rescoring of the candidates. */
  private def ivfTrainedParOracle: String =
    (s"""WITH $kmparChain, """ +
     // the whole corpus, malformed vectors included (unnest just yields
     // fewer/null elements — the engine's partial-dot semantics)
     """ela AS MATERIALIZED (SELECT vec_id, generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings), """ +
     // init codebook: selected candidates' vectors, j = weight rank - 1
     """ci AS MATERIALIZED (SELECT sel.s - 1 AS j, e.i, e.x AS cx FROM sel JOIN wt USING (cid) JOIN el e ON e.vec_id = wt.vec_id), """ +
     // one Lloyd round under cosine affinity (the kmeansCtes shape,
     // init = ci): assign every vector, recompute member means in
     // exact 1e-15 fixed point, empty lists keep their init center
     """nA AS MATERIALIZED (SELECT j, SUM(CAST(round(cx * cx * 1e15) AS BIGINT)) AS dyy FROM ci GROUP BY 1), """ +
     """aA AS MATERIALIZED (SELECT ela.vec_id, ci.j, SUM(CAST(round(ela.x * ci.cx * 1e15) AS BIGINT)) AS dxy FROM ela JOIN ci USING (i) GROUP BY 1, 2), """ +
     """sA AS MATERIALIZED (SELECT aA.vec_id, aA.j, CAST(aA.dxy AS DOUBLE) / sqrt(CAST(nA.dyy AS DOUBLE)) AS s FROM aA JOIN nA USING (j)), """ +
     """asA AS MATERIALIZED (SELECT vec_id, j AS list FROM (SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j) AS rn FROM sA) WHERE rn = 1), """ +
     """mA AS MATERIALIZED (SELECT a.list, ela.i, SUM(CAST(round(ela.x * 1e15) AS BIGINT)) AS sf, COUNT(*) AS cnt FROM ela JOIN asA a USING (vec_id) GROUP BY 1, 2), """ +
     """cB AS MATERIALIZED (SELECT ci.j, ci.i, COALESCE(CAST(mA.sf AS DOUBLE) / (mA.cnt * 1e15), ci.cx) AS cx FROM ci LEFT JOIN mA ON mA.list = ci.j AND mA.i = ci.i), """ +
     """nB AS MATERIALIZED (SELECT j, SUM(CAST(round(cx * cx * 1e15) AS BIGINT)) AS dyy FROM cB GROUP BY 1), """ +
     """aB AS MATERIALIZED (SELECT ela.vec_id, cB.j, SUM(CAST(round(ela.x * cB.cx * 1e15) AS BIGINT)) AS dxy FROM ela JOIN cB USING (i) GROUP BY 1, 2), """ +
     """sB AS MATERIALIZED (SELECT aB.vec_id, aB.j, CAST(aB.dxy AS DOUBLE) / sqrt(CAST(nB.dyy AS DOUBLE)) AS s FROM aB JOIN nB USING (j)), """ +
     // trained-IVF probe over the refined codebook (ivfTrainedOracle
     // shape): assignment, query 0's top-3 lists, exact rescoring
     """asB AS MATERIALIZED (SELECT vec_id, j AS list FROM (SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j) AS rn FROM sB) WHERE rn = 1), """ +
     """probes AS MATERIALIZED (SELECT j AS list FROM sB WHERE vec_id = 0 ORDER BY s DESC, j LIMIT 3), """ +
     """cand AS MATERIALIZED (SELECT a.vec_id, a.list FROM asB a JOIN probes USING (list)), """ +
     """norms AS MATERIALIZED (SELECT vec_id, SUM(CAST(round(x * x * 1e15) AS BIGINT))::BIGINT AS dxx FROM ela GROUP BY 1), """ +
     """qe AS MATERIALIZED (SELECT i, x AS qx FROM ela WHERE vec_id = 0), """ +
     """dots AS MATERIALIZED (SELECT ela.vec_id, SUM(CAST(round(ela.x * qe.qx * 1e15) AS BIGINT))::BIGINT AS dxy """ +
     """FROM ela JOIN qe USING (i) WHERE ela.vec_id IN (SELECT vec_id FROM cand) GROUP BY 1), """ +
     """scored AS MATERIALIZED (SELECT d.vec_id, CAST(d.dxy AS DOUBLE) / (sqrt(CAST(n.dxx AS DOUBLE)) * """ +
     """sqrt((SELECT CAST(dxx AS DOUBLE) FROM norms WHERE vec_id = 0))) AS sc """ +
     """FROM dots d JOIN norms n ON n.vec_id = d.vec_id) """ +
     """SELECT c.vec_id, round(sc, 6) AS score, c.list FROM scored JOIN cand c USING (vec_id) """ +
     """ORDER BY sc DESC, c.vec_id LIMIT 10""")

  /** The two LIVE epochs' selection→shuffle chains for the
    * `x_shard_epoch*` / `x_shard_resume` oracles: `pos1` = the
    * 2048-token identity (epoch 1), `pos2` = the 1024-token identity
    * (epoch 2), both under the same `(salt "shard", 32 buckets)`
    * permutation law as the single-tree shard gates. */
  private def shardEpochChain: String = {
    def one(budget: Int, sfx: String): String =
      (s"""sel$sfx AS (SELECT doc_id, n_tok FROM (SELECT *, """ +
       """SUM(n_tok) OVER (PARTITION BY source ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS ct """ +
       s"""FROM base) WHERE ct <= $budget), """ +
       s"""pos$sfx AS (SELECT doc_id, n_tok, (row_number() OVER (ORDER BY k % 32, k, doc_id) - 1) AS p """ +
       s"""FROM (SELECT doc_id, n_tok, ${h60sql("'shuffle:shard:' || CAST(doc_id AS VARCHAR)")} AS k FROM sel$sfx))""")
    (s"""base AS (SELECT doc_id, COALESCE(source, '') AS source, n_chars::BIGINT AS score, """ +
     s"""len($TOK)::BIGINT AS n_tok FROM documents), """ +
     one(2048, "1") + ", " + one(1024, "2"))
  }

  /** Shared by the `x_token_*` gates: every corpus token with its
    * GLOBAL position in the shuffled stream — the whitespace token
    * arrays, the (salt "tw", 32-bucket) permutation, the exclusive
    * running token offset, then one row per token at
    * `tg = offset + ordinal`. Windows are pure arithmetic from here:
    * `window = tg // ctxLen`, `slot = tg % ctxLen`. */
  private def tokenStreamChain: String =
    (s"""toks AS (SELECT doc_id, $TOK AS ts FROM documents), """ +
     s"""tpos AS (SELECT doc_id, ts, (row_number() OVER (ORDER BY k % 32, k, doc_id) - 1) AS p """ +
     s"""FROM (SELECT doc_id, ts, ${h60sql("'shuffle:tw:' || CAST(doc_id AS VARCHAR)")} AS k FROM toks)), """ +
     """toff AS (SELECT doc_id, ts, p, COALESCE(SUM(len(ts)) OVER (ORDER BY p """ +
     """ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o FROM tpos), """ +
     """tok AS (SELECT p, o + i - 1 AS tg, t FROM """ +
     """(SELECT p, o, unnest(ts) AS t, unnest(range(1, len(ts) + 1)) AS i FROM toff))""")

  /** Shared by `x_contamination` and `x_contamination_bloom`: the Bloom
    * prefilter can have no false negatives, so the filtered path must
    * return exactly the exact-join result. */
  private def contaminationOracle: String =
    (s"""WITH toks AS (SELECT doc_id, $TOK AS l FROM documents), """ +
     """shr AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 1)), """ +
     """i -> array_to_string(l[i:i+2], ' '))) AS t FROM toks), """ +
     s"""sh AS (SELECT DISTINCT doc_id, ${h60sql("t")} AS h FROM shr), """ +
     """cn AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1), """ +
     """b AS (SELECT doc_id AS bench_id, h FROM sh WHERE doc_id < 20), """ +
     """j AS (SELECT s.doc_id, b.bench_id, count(*) AS shared FROM sh s JOIN b ON s.h = b.h GROUP BY 1, 2) """ +
     """SELECT j.doc_id, j.bench_id, j.shared, cn.n_sh FROM j JOIN cn USING (doc_id) """ +
     """WHERE j.shared >= 2 ORDER BY doc_id, bench_id""")

  /** Shared by the three PQ gates: the algorithmic mirror of the seeded
    * product quantizer — codebooks = sub-vectors of the 16 smallest-id
    * vectors over 8 subspaces of 8 dims, assignment by fixed-point L2
    * (argmax of `2·⟨x,c⟩ − ‖c‖²`, ties to the smaller codeword), ADC
    * score = Σ lut / (√qq · √Σ‖c‖²) — every product rounded to 1e-15
    * units exactly as the engine computes it. */
  private def pqOracle: String =
    ("""WITH el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings), """ +
     """els AS (SELECT vec_id, CAST((i-1)//8 AS INT) AS s, CAST((i-1)%8 AS INT) AS w, CAST(x AS DOUBLE) AS x FROM el), """ +
     """cb AS (SELECT s, vec_id AS c, w, x AS cx FROM els WHERE vec_id < 16), """ +
     """cc AS (SELECT s, c, SUM(CAST(round((cx*cx)*1e15) AS BIGINT))::BIGINT AS cc FROM cb GROUP BY 1, 2), """ +
     """xc AS (SELECT e.vec_id, e.s, b.c, SUM(CAST(round((e.x*b.cx)*1e15) AS BIGINT))::BIGINT AS xc """ +
     """FROM els e JOIN cb b ON b.s = e.s AND b.w = e.w GROUP BY 1, 2, 3), """ +
     """codek AS (SELECT x.vec_id, x.s, x.c, 2*x.xc - c2.cc AS key FROM xc x JOIN cc c2 ON c2.s = x.s AND c2.c = x.c), """ +
     """code AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY key DESC, c) AS rn FROM codek) WHERE rn = 1), """ +
     """q AS (SELECT s, w, x AS qx FROM els WHERE vec_id = 0), """ +
     """lut AS (SELECT b.s, b.c, SUM(CAST(round((q2.qx*b.cx)*1e15) AS BIGINT))::BIGINT AS dt FROM cb b JOIN q q2 ON q2.s = b.s AND q2.w = b.w GROUP BY 1, 2), """ +
     """qq AS (SELECT SUM(CAST(round((qx*qx)*1e15) AS BIGINT))::BIGINT AS v FROM q), """ +
     """adc AS (SELECT code.vec_id, SUM(l.dt)::BIGINT AS dt, SUM(c2.cc)::BIGINT AS nn """ +
     """FROM code JOIN lut l ON l.s = code.s AND l.c = code.c JOIN cc c2 ON c2.s = code.s AND c2.c = code.c GROUP BY 1), """ +
     """scored AS (SELECT vec_id, CAST(dt AS DOUBLE) / (sqrt((SELECT CAST(v AS DOUBLE) FROM qq)) * sqrt(CAST(nn AS DOUBLE))) AS sc FROM adc) """ +
     """SELECT vec_id, round(sc, 6) AS score FROM scored ORDER BY sc DESC, vec_id LIMIT 10""")

  /** Shared by the IVF+PQ gates: the `x_knn_ivf` seeded coarse
    * assignment/probing CTEs composed with [[pqOracle]]'s quantizer —
    * candidates come from the 4 probed lists, scores are plain ADC. */
  private def ivfPqOracle: String =
    ivfPqChain +
      ("""SELECT c.vec_id, round(sc, 6) AS score, c.list FROM scored JOIN cand c ON c.vec_id = scored.vec_id """ +
       """ORDER BY sc DESC, c.vec_id LIMIT 10""")

  /** The WITH-chain shared by [[ivfPqOracle]] and
    * [[ivfPqRerankOracle]]: seeded coarse assignment + probing, PQ
    * quantizer, ADC scoring over the probed candidates — everything up
    * to (and including) `scored`, ready for a final SELECT or more
    * CTEs. */
  private def ivfPqChain: String = ivfPqChainWhere("")

  /** [[ivfPqChain]] with an optional predicate over the candidate set
    * — the FILTERED compressed-tier search places its allowed-id
    * semi-join exactly between candidate generation and ADC scoring. */
  private def ivfPqChainWhere(candWhere: String): String =
    ("""WITH el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings), """ +
     """norms AS (SELECT vec_id, SUM(CAST(round((CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxx FROM el GROUP BY vec_id), """ +
     """cl AS (SELECT vec_id AS cid, i, x AS cx FROM el WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)), """ +
     """aff AS (SELECT el.vec_id, cl.cid, """ +
     """SUM(CAST(round((CAST(el.x AS DOUBLE) * CAST(cl.cx AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxy """ +
     """FROM el JOIN cl USING (i) GROUP BY 1, 2), """ +
     """ascore AS (SELECT a.vec_id, a.cid, CAST(a.dxy AS DOUBLE) / sqrt(CAST(n.dxx AS DOUBLE)) AS s """ +
     """FROM aff a JOIN norms n ON n.vec_id = a.cid), """ +
     """assign AS (SELECT vec_id, cid AS list FROM (SELECT vec_id, cid, """ +
     """row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM ascore) WHERE rn = 1), """ +
     """probes AS (SELECT cid AS list FROM ascore WHERE vec_id = 0 ORDER BY s DESC, cid LIMIT 4), """ +
     """cand AS (SELECT a.vec_id, a.list FROM assign a JOIN probes USING (list)""" +
     (if (candWhere.isEmpty) "" else s" WHERE $candWhere") + """), """ +
     """els AS (SELECT vec_id, CAST((i-1)//8 AS INT) AS s, CAST((i-1)%8 AS INT) AS w, CAST(x AS DOUBLE) AS x FROM el), """ +
     """cb AS (SELECT s, vec_id AS c, w, x AS cx FROM els WHERE vec_id < 16), """ +
     """cc AS (SELECT s, c, SUM(CAST(round((cx*cx)*1e15) AS BIGINT))::BIGINT AS cc FROM cb GROUP BY 1, 2), """ +
     """xc AS (SELECT e.vec_id, e.s, b.c, SUM(CAST(round((e.x*b.cx)*1e15) AS BIGINT))::BIGINT AS xc """ +
     """FROM els e JOIN cb b ON b.s = e.s AND b.w = e.w GROUP BY 1, 2, 3), """ +
     """codek AS (SELECT x.vec_id, x.s, x.c, 2*x.xc - c2.cc AS key FROM xc x JOIN cc c2 ON c2.s = x.s AND c2.c = x.c), """ +
     """code AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY key DESC, c) AS rn FROM codek) WHERE rn = 1), """ +
     """q AS (SELECT s, w, x AS qx FROM els WHERE vec_id = 0), """ +
     """lut AS (SELECT b.s, b.c, SUM(CAST(round((q2.qx*b.cx)*1e15) AS BIGINT))::BIGINT AS dt FROM cb b JOIN q q2 ON q2.s = b.s AND q2.w = b.w GROUP BY 1, 2), """ +
     """qq AS (SELECT SUM(CAST(round((qx*qx)*1e15) AS BIGINT))::BIGINT AS v FROM q), """ +
     """adc AS (SELECT code.vec_id, SUM(l.dt)::BIGINT AS dt, SUM(c2.cc)::BIGINT AS nn """ +
     """FROM code JOIN cand USING (vec_id) JOIN lut l ON l.s = code.s AND l.c = code.c """ +
     """JOIN cc c2 ON c2.s = code.s AND c2.c = code.c GROUP BY 1), """ +
     """scored AS (SELECT vec_id, CAST(dt AS DOUBLE) / (sqrt((SELECT CAST(v AS DOUBLE) FROM qq)) * sqrt(CAST(nn AS DOUBLE))) AS sc FROM adc) """)

  /** [[ivfPqOracle]]'s chain with the exact re-rank tail: the ADC
    * top-30 candidate cut (same window discipline), then each
    * candidate's EXACT fixed-point cosine against query vec 0 from the
    * raw embeddings (`el`/`norms` are already in the chain), top-10 of
    * the re-ranking. */
  private def ivfPqRerankOracle: String =
    (ivfPqChain +
     """, cand30 AS (SELECT vec_id FROM (SELECT vec_id, row_number() OVER (ORDER BY sc DESC, vec_id) AS rn FROM scored) WHERE rn <= 30), """ +
     """rr AS (SELECT e.vec_id, SUM(CAST(round((CAST(e.x AS DOUBLE) * CAST(q2.x AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxy """ +
     """FROM el e JOIN cand30 USING (vec_id) JOIN el q2 ON q2.vec_id = 0 AND q2.i = e.i GROUP BY 1), """ +
     """rscore AS (SELECT r2.vec_id, CAST(r2.dxy AS DOUBLE) / (sqrt(CAST(nq.dxx AS DOUBLE)) * sqrt(CAST(nc.dxx AS DOUBLE))) AS sc """ +
     """FROM rr r2 JOIN norms nq ON nq.vec_id = 0 JOIN norms nc ON nc.vec_id = r2.vec_id) """ +
     """SELECT vec_id, round(sc, 6) AS score FROM rscore ORDER BY sc DESC, vec_id LIMIT 10""")

  /** [[ivfPqOracle]] generalized to 5 simultaneous queries — LUT and qq
    * gain a qid dimension, probes/candidates/ADC group per (qid, vec),
    * the top-k becomes a per-qid window. */
  private def ivfPqJoinOracle: String =
    ivfPqJoinChain +
      ("""topk AS (SELECT qid, vec_id, sc, list FROM (SELECT qid, vec_id, sc, list, """ +
       """row_number() OVER (PARTITION BY qid ORDER BY sc DESC, vec_id) AS rn FROM scored) WHERE rn <= 10) """ +
       """SELECT qid AS query_id, vec_id AS neighbor_id, round(sc, 6) AS score, list """ +
       """FROM topk ORDER BY query_id, neighbor_id""")

  /** [[ivfPqJoinOracle]]'s chain with the exact re-rank tail — the
    * batch twin of [[ivfPqRerankOracle]]: per-qid ADC top-20 candidate
    * cut, exact fixed-point cosine of each (query, candidate) pair from
    * the raw embeddings, per-qid top-10 of the re-ranking. */
  private def ivfPqJoinRerankOracle: String =
    (ivfPqJoinChain +
     """cand20 AS (SELECT qid, vec_id FROM (SELECT qid, vec_id, """ +
     """row_number() OVER (PARTITION BY qid ORDER BY sc DESC, vec_id) AS rn FROM scored) WHERE rn <= 20), """ +
     """rr AS (SELECT c.qid, e.vec_id, SUM(CAST(round((CAST(e.x AS DOUBLE) * CAST(qe.x AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxy """ +
     """FROM cand20 c JOIN el e ON e.vec_id = c.vec_id JOIN el qe ON qe.vec_id = c.qid AND qe.i = e.i GROUP BY 1, 2), """ +
     """rscore AS (SELECT r2.qid, r2.vec_id, CAST(r2.dxy AS DOUBLE) / (sqrt(CAST(nq.dxx AS DOUBLE)) * sqrt(CAST(nc.dxx AS DOUBLE))) AS sc """ +
     """FROM rr r2 JOIN norms nq ON nq.vec_id = r2.qid JOIN norms nc ON nc.vec_id = r2.vec_id), """ +
     """rtop AS (SELECT qid, vec_id, sc FROM (SELECT qid, vec_id, sc, """ +
     """row_number() OVER (PARTITION BY qid ORDER BY sc DESC, vec_id) AS rn FROM rscore) WHERE rn <= 10) """ +
     """SELECT qid AS query_id, vec_id AS neighbor_id, round(sc, 6) AS score """ +
     """FROM rtop ORDER BY query_id, neighbor_id""")

  /** The WITH-chain shared by [[ivfPqJoinOracle]] and
    * [[ivfPqJoinRerankOracle]] — everything through the per-(qid, vec)
    * ADC `scored`, ending mid-WITH (callers append their own CTEs /
    * final SELECT). */
  private def ivfPqJoinChain: String =
    ("""WITH el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings), """ +
     """norms AS (SELECT vec_id, SUM(CAST(round((CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxx FROM el GROUP BY vec_id), """ +
     """cl AS (SELECT vec_id AS cid, i, x AS cx FROM el WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)), """ +
     """aff AS (SELECT el.vec_id, cl.cid, """ +
     """SUM(CAST(round((CAST(el.x AS DOUBLE) * CAST(cl.cx AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxy """ +
     """FROM el JOIN cl USING (i) GROUP BY 1, 2), """ +
     """ascore AS (SELECT a.vec_id, a.cid, CAST(a.dxy AS DOUBLE) / sqrt(CAST(n.dxx AS DOUBLE)) AS s """ +
     """FROM aff a JOIN norms n ON n.vec_id = a.cid), """ +
     """ranked AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM ascore), """ +
     """assign AS (SELECT vec_id, cid AS list FROM ranked WHERE rn = 1), """ +
     """probes AS (SELECT vec_id AS qid, cid AS list FROM ranked WHERE rn <= 4 AND vec_id < 5), """ +
     """cand AS (SELECT p.qid, a.vec_id, a.list FROM assign a JOIN probes p USING (list)), """ +
     """els AS (SELECT vec_id, CAST((i-1)//8 AS INT) AS s, CAST((i-1)%8 AS INT) AS w, CAST(x AS DOUBLE) AS x FROM el), """ +
     """cb AS (SELECT s, vec_id AS c, w, x AS cx FROM els WHERE vec_id < 16), """ +
     """cc AS (SELECT s, c, SUM(CAST(round((cx*cx)*1e15) AS BIGINT))::BIGINT AS cc FROM cb GROUP BY 1, 2), """ +
     """xc AS (SELECT e.vec_id, e.s, b.c, SUM(CAST(round((e.x*b.cx)*1e15) AS BIGINT))::BIGINT AS xc """ +
     """FROM els e JOIN cb b ON b.s = e.s AND b.w = e.w GROUP BY 1, 2, 3), """ +
     """codek AS (SELECT x.vec_id, x.s, x.c, 2*x.xc - c2.cc AS key FROM xc x JOIN cc c2 ON c2.s = x.s AND c2.c = x.c), """ +
     """code AS (SELECT vec_id, s, c FROM (SELECT vec_id, s, c, row_number() OVER (PARTITION BY vec_id, s ORDER BY key DESC, c) AS rn FROM codek) WHERE rn = 1), """ +
     """q AS (SELECT vec_id AS qid, s, w, x AS qx FROM els WHERE vec_id < 5), """ +
     """lut AS (SELECT q2.qid, b.s, b.c, SUM(CAST(round((q2.qx*b.cx)*1e15) AS BIGINT))::BIGINT AS dt """ +
     """FROM cb b JOIN q q2 ON q2.s = b.s AND q2.w = b.w GROUP BY 1, 2, 3), """ +
     """qq AS (SELECT qid, SUM(CAST(round((qx*qx)*1e15) AS BIGINT))::BIGINT AS v FROM q GROUP BY 1), """ +
     """adc AS (SELECT cand.qid, code.vec_id, cand.list, SUM(l.dt)::BIGINT AS dt, SUM(c2.cc)::BIGINT AS nn """ +
     """FROM code JOIN cand ON cand.vec_id = code.vec_id """ +
     """JOIN lut l ON l.qid = cand.qid AND l.s = code.s AND l.c = code.c """ +
     """JOIN cc c2 ON c2.s = code.s AND c2.c = code.c GROUP BY 1, 2, 3), """ +
     """scored AS (SELECT a.qid, a.vec_id, a.list, CAST(a.dt AS DOUBLE) / """ +
     """(sqrt(CAST(qq.v AS DOUBLE)) * sqrt(CAST(a.nn AS DOUBLE))) AS sc FROM adc a JOIN qq USING (qid)), """)

  /** Shared by `x_knn_ivf_trained` and `x_knn_ivf_indexed`: the persisted
    * index materializes the same trained assignment the query-time path
    * computes, so both must return this exact top-k. */
  /** Shared by x_sketch_countmin (one-shot) and x_stream_countmin (the
    * streamed two-batch merge — CM merge is exact counter addition, so
    * the grown sketch is cell-identical to the one-shot build). */
  private def countMinOracle: String =
      (s"""WITH tok AS (SELECT unnest($TOK) AS t FROM documents), """ +
       """tok2 AS (SELECT t FROM tok WHERE t IS NOT NULL AND t <> ''), """ +
       s"""cm AS (SELECT i, ${h60sql("'cm:' || i::VARCHAR || ':' || t")} % 64 AS bucket, count(*) AS cnt """ +
       """FROM tok2, generate_series(0, 3) g(i) GROUP BY 1, 2), """ +
       """q AS (SELECT unnest(['join','hash','row','scan','the','a','dup','fast','zzz-never-seen']) AS token), """ +
       s"""qb AS (SELECT token, i, ${h60sql("'cm:' || i::VARCHAR || ':' || token")} % 64 AS bucket """ +
       """FROM q, generate_series(0, 3) g(i)) """ +
       """SELECT token, min(COALESCE(cm.cnt, 0))::BIGINT AS est """ +
       """FROM qb LEFT JOIN cm USING (i, bucket) GROUP BY token ORDER BY token""")

  /** x_stream_embed_ingest replayed: the [[knnJoinOracle]] chain run
    * TWICE sequentially — stage 1 matches batch 1 against the corpus
    * assignment set; stage 2 matches batch 2 against the corpus GROWN
    * by stage 1's survivors (assignment recomputed over the grown set
    * with the unchanged codebook — identical for corpus rows, and the
    * engine appends with the index's own codebook, so the recompute is
    * exact). Matched = any probed-list candidate's fixed-point cosine
    * ≥ 0.99. */
  private def embedIngestOracle: String = {
    def fx(a: String, b: String) =
      s"CAST(round((CAST($a AS DOUBLE) * CAST($b AS DOUBLE)) * 1e15) AS BIGINT)"
    def scaleSel(shift: Int, f: String, lo: String, hi: String) =
      s"SELECT vec_id + $shift, list_transform(embedding, x -> " +
      s"CAST(x * CAST($f AS FLOAT) AS FLOAT)) FROM embeddings WHERE $lo AND $hi"
    // (affinity → argmax assignment, affinity → top-4 probes) for a
    // given exploded relation vs the codebook
    def aff(src: String, out: String) =
      s"$out AS (SELECT $src.vec_id, cl.cid, SUM(${fx(s"$src.x", "cl.cx")})::BIGINT AS dxy " +
      s"FROM $src JOIN cl USING (i) GROUP BY 1, 2), " +
      s"${out}s AS (SELECT f.vec_id, f.cid, CAST(f.dxy AS DOUBLE) / sqrt(CAST(y.dyy AS DOUBLE)) AS s " +
      s"FROM $out f JOIN cyy y USING (cid)), "
    def stage(n: Int, batchE: String, corpusE: String, corpusN: String,
              assignSrc: String) =
      aff(corpusE, s"caf$n") +
      s"a$n AS (SELECT vec_id, cid AS list FROM (SELECT vec_id, cid, " +
      s"row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM caf${n}s) WHERE rn = 1), " +
      aff(batchE, s"baf$n") +
      s"p$n AS (SELECT vec_id AS qid, cid AS list FROM (SELECT vec_id, cid, " +
      s"row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM baf${n}s) WHERE rn <= 4), " +
      s"c$n AS (SELECT p.qid, a.vec_id AS nid FROM p$n p JOIN a$n a USING (list)), " +
      s"t$n AS (SELECT c.qid, c.nid, SUM(${fx("q.x", "t.x")})::BIGINT AS dxy " +
      s"FROM c$n c JOIN $batchE q ON q.vec_id = c.qid JOIN $corpusE t ON t.vec_id = c.nid AND t.i = q.i GROUP BY 1, 2), " +
      s"m$n AS (SELECT DISTINCT t$n.qid FROM t$n JOIN bn$n ON bn$n.vec_id = t$n.qid " +
      s"JOIN $corpusN cx ON cx.vec_id = t$n.nid " +
      s"WHERE CAST(t$n.dxy AS DOUBLE) / (sqrt(CAST(bn$n.dxx AS DOUBLE)) * sqrt(CAST(cx.dxx AS DOUBLE))) >= 0.99), " +
      s"s$n AS (SELECT ${assignSrc}.vec_id FROM $assignSrc LEFT JOIN m$n ON m$n.qid = ${assignSrc}.vec_id WHERE m$n.qid IS NULL), "
    "WITH el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings), " +
    "ce AS (SELECT vec_id, i, x FROM el WHERE vec_id >= 100), " +
    "b1v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 25 " +
    "UNION ALL " + scaleSel(30000, "1.5", "vec_id >= 100", "vec_id < 110") + "), " +
    "b2v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 25 AND vec_id < 50 " +
    "UNION ALL " + scaleSel(40000, "2.0", "vec_id >= 0", "vec_id < 5") + " " +
    "UNION ALL " + scaleSel(50000, "1.25", "vec_id >= 110", "vec_id < 115") + "), " +
    "b1e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM b1v), " +
    "b2e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM b2v), " +
    "cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vec_id AS cvid " +
    "FROM (SELECT DISTINCT vec_id FROM ce ORDER BY vec_id LIMIT 16)), " +
    "cl AS (SELECT cb.cid, ce.i, ce.x AS cx FROM cb JOIN ce ON ce.vec_id = cb.cvid), " +
    s"cyy AS (SELECT cid, SUM(${fx("cx", "cx")})::BIGINT AS dyy FROM cl GROUP BY 1), " +
    s"cn AS (SELECT vec_id, SUM(${fx("x", "x")})::BIGINT AS dxx FROM ce GROUP BY 1), " +
    s"bn1 AS (SELECT vec_id, SUM(${fx("x", "x")})::BIGINT AS dxx FROM b1e GROUP BY 1), " +
    s"bn2 AS (SELECT vec_id, SUM(${fx("x", "x")})::BIGINT AS dxx FROM b2e GROUP BY 1), " +
    stage(1, "b1e", "ce", "cn", "b1v") +
    "ge AS (SELECT ce.vec_id, ce.i, ce.x FROM ce " +
    "UNION ALL SELECT b1e.vec_id, b1e.i, b1e.x FROM b1e JOIN s1 USING (vec_id)), " +
    s"gn AS (SELECT vec_id, SUM(${fx("x", "x")})::BIGINT AS dxx FROM ge GROUP BY 1), " +
    stage(2, "b2e", "ge", "gn", "b2v") +
    "fin AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2) " +
    "SELECT vec_id FROM fin ORDER BY vec_id"
  }

  /** Naive-Bayes chain (planted labels, class counts, log-ratios,
    * prior, decimal term sums) shared by x_classify_nb and the
    * classifier-filtered ingest gate. */
  private def nbOracleCtes: String =
    ("""WITH planted AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 """ +
       """THEN text || ' premium curated encyclopedic exemplar prose' """ +
       """ELSE text END AS text FROM documents), """ +
       """tr AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS y, text FROM planted WHERE doc_id % 2 = 0), """ +
       s"""trf AS (SELECT y, ${h60sql("t")} % 4096 AS b FROM """ +
       """(SELECT y, unnest(string_split_regex(lower(text), '\s+')) AS t FROM tr) z WHERE t <> ''), """ +
       """cnt AS (SELECT y, b, count(*)::BIGINT AS c FROM trf GROUP BY 1, 2), """ +
       """tot AS (SELECT coalesce(sum(CASE WHEN y = 1 THEN c END), 0)::BIGINT AS t1, """ +
       """coalesce(sum(CASE WHEN y = 0 THEN c END), 0)::BIGINT AS t0 FROM cnt), """ +
       """pri AS (SELECT ln(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END)::DOUBLE / """ +
       """sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)::DOUBLE) AS lp FROM tr), """ +
       """lr AS (SELECT b, ln((coalesce(max(CASE WHEN y = 1 THEN c END), 0) + 1)::DOUBLE / (tot.t1 + 4096)::DOUBLE) """ +
       """- ln((coalesce(max(CASE WHEN y = 0 THEN c END), 0) + 1)::DOUBLE / (tot.t0 + 4096)::DOUBLE) AS lr """ +
       """FROM cnt CROSS JOIN tot GROUP BY b, tot.t1, tot.t0), """ +
       """dflt AS (SELECT ln(1::DOUBLE / (t1 + 4096)::DOUBLE) - ln(1::DOUBLE / (t0 + 4096)::DOUBLE) AS d FROM tot), """ +
       """te AS (SELECT doc_id, text FROM planted WHERE doc_id % 2 = 1), """ +
       s"""tef AS (SELECT doc_id, ${h60sql("t")} % 4096 AS b FROM """ +
       """(SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS t FROM te) w WHERE t <> ''), """ +
       """tfq AS (SELECT doc_id, b, count(*)::BIGINT AS tf FROM tef GROUP BY 1, 2), """ +
       """terms AS (SELECT t.doc_id, t.tf, CAST(t.tf * coalesce(lr.lr, dflt.d) AS DECIMAL(28,12)) AS term """ +
       """FROM tfq t LEFT JOIN lr USING (b) CROSS JOIN dflt), """ +
       """sc AS (SELECT doc_id, sum(tf)::BIGINT AS nf, (sum(term)::DOUBLE + pri.lp) AS s """ +
       """FROM terms CROSS JOIN pri GROUP BY doc_id, pri.lp) """)

  private def knnJoinOracle: String = knnJoinProbeOracle("")

  /** The batch kNN-join chain with an optional predicate over the
    * candidate (corpus) side — "" replays the plain join; a SQL
    * boolean over `a.vec_id` replays the FILTERED join (the allowed-id
    * semi-join lands between candidate generation and scoring). */
  private def knnJoinProbeOracle(candWhere: String): String =
    ("""WITH el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings), """ +
       """norms AS (SELECT vec_id, SUM(CAST(round((CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxx FROM el GROUP BY vec_id), """ +
       """cl AS (SELECT vec_id AS cid, i, x AS cx FROM el WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)), """ +
       """aff AS (SELECT el.vec_id, cl.cid, """ +
       """SUM(CAST(round((CAST(el.x AS DOUBLE) * CAST(cl.cx AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxy """ +
       """FROM el JOIN cl USING (i) GROUP BY 1, 2), """ +
       """ascore AS (SELECT a.vec_id, a.cid, CAST(a.dxy AS DOUBLE) / sqrt(CAST(n.dxx AS DOUBLE)) AS s """ +
       """FROM aff a JOIN norms n ON n.vec_id = a.cid), """ +
       """ranked AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM ascore), """ +
       """assign AS (SELECT vec_id, cid AS list FROM ranked WHERE rn = 1), """ +
       """probes AS (SELECT vec_id AS qid, cid AS list FROM ranked WHERE rn <= 4 AND vec_id < 5), """ +
       """cand AS (SELECT p.qid, a.vec_id AS nid, a.list FROM probes p JOIN assign a USING (list)""" +
       (if (candWhere.isEmpty) "" else s" WHERE $candWhere") + """), """ +
       """pt AS (SELECT c.qid, c.nid, """ +
       """SUM(CAST(round((CAST(q.x AS DOUBLE) * CAST(n.x AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxy """ +
       """FROM cand c JOIN el q ON q.vec_id = c.qid JOIN el n ON n.vec_id = c.nid AND n.i = q.i GROUP BY 1, 2), """ +
       """scored AS (SELECT pt.qid, pt.nid, CAST(pt.dxy AS DOUBLE) / """ +
       """(sqrt(CAST(nq.dxx AS DOUBLE)) * sqrt(CAST(nn.dxx AS DOUBLE))) AS sc """ +
       """FROM pt JOIN norms nq ON nq.vec_id = pt.qid JOIN norms nn ON nn.vec_id = pt.nid), """ +
       """topk AS (SELECT qid, nid, sc, list FROM (SELECT s.qid, s.nid, s.sc, c.list, """ +
       """row_number() OVER (PARTITION BY s.qid ORDER BY s.sc DESC, s.nid) AS rn """ +
       """FROM scored s JOIN cand c ON c.qid = s.qid AND c.nid = s.nid) WHERE rn <= 5) """ +
       """SELECT qid AS query_id, nid AS neighbor_id, round(sc, 6) AS score, list """ +
       """FROM topk ORDER BY query_id, neighbor_id""")

  private def ivfTrainedOracle: String = ivfTrainedProbeOracle("")

  /** The trained-IVF probe chain with an optional extra predicate over
    * the candidate set — "" replays the plain probe; a SQL boolean over
    * `a.vec_id` replays the FILTERED search (the allowed-id semi-join
    * lands exactly between candidate generation and rescoring, which
    * is where the engine applies it). */
  private def ivfTrainedProbeOracle(candWhere: String): String =
    (s"""WITH $kmeansCtes, """ +
     """as1 AS (SELECT vec_id, j AS list FROM (SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j) AS rn FROM s1) WHERE rn = 1), """ +
     """probes AS (SELECT j AS list FROM s1 WHERE vec_id = 0 ORDER BY s DESC, j LIMIT 3), """ +
     """cand AS (SELECT a.vec_id, a.list FROM as1 a JOIN probes USING (list)""" +
     (if (candWhere.isEmpty) "" else s" WHERE $candWhere") + """), """ +
     """norms AS (SELECT vec_id, SUM(CAST(round(x * x * 1e15) AS BIGINT))::BIGINT AS dxx FROM el GROUP BY 1), """ +
     """qe AS (SELECT i, x AS qx FROM el WHERE vec_id = 0), """ +
     """dots AS (SELECT el.vec_id, SUM(CAST(round(el.x * qe.qx * 1e15) AS BIGINT))::BIGINT AS dxy """ +
     """FROM el JOIN qe USING (i) WHERE el.vec_id IN (SELECT vec_id FROM cand) GROUP BY 1), """ +
     """scored AS (SELECT d.vec_id, CAST(d.dxy AS DOUBLE) / (sqrt(CAST(n.dxx AS DOUBLE)) * """ +
     """sqrt((SELECT CAST(dxx AS DOUBLE) FROM norms WHERE vec_id = 0))) AS sc """ +
     """FROM dots d JOIN norms n ON n.vec_id = d.vec_id) """ +
     """SELECT c.vec_id, round(sc, 6) AS score, c.list FROM scored JOIN cand c USING (vec_id) """ +
     """ORDER BY sc DESC, c.vec_id LIMIT 10""")

  private def extensionOracles: Map[String, String] = Map(
    "x_dedup_exact" ->
      "SELECT min(doc_id) AS keep_id, count(*) AS dups FROM documents GROUP BY text ORDER BY keep_id",

    "x_dedup_jaccard" ->
      (s"""WITH toks AS (SELECT doc_id, $TOK AS l FROM documents WHERE doc_id < 300), """ +
       """shr AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 1)), """ +
       """i -> array_to_string(l[i:i+2], ' '))) AS t FROM toks), """ +
       s"""sh AS (SELECT DISTINCT doc_id, ${h60sql("t")} AS s FROM shr), """ +
       """sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), """ +
       """inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n FROM sh a """ +
       """JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) """ +
       """SELECT id1, id2, CAST(n AS DOUBLE) / (sa.sz + sb.sz - n) AS jaccard FROM inter """ +
       """JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2 """ +
       """ORDER BY jaccard DESC, id1, id2 LIMIT 20"""),

    // containment re-derived over the planted corpus: one undirected
    // intersection, both directions normalized by their OWN set size,
    // thresholded before rounding (as the operator does)
    "x_dedup_containment" ->
      ("""WITH docs2 AS (SELECT doc_id, text FROM documents WHERE doc_id < 300 """ +
       """UNION ALL SELECT doc_id + 1000000, text || ' zzz' FROM documents WHERE doc_id < 3), """ +
       s"""toks AS (SELECT doc_id, $TOK AS l FROM docs2), """ +
       """shr AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 1)), """ +
       """i -> array_to_string(l[i:i+2], ' '))) AS t FROM toks), """ +
       s"""shc AS (SELECT DISTINCT doc_id, ${h60sql("t")} AS s FROM shr), """ +
       """sizes AS (SELECT doc_id, count(*) AS sz FROM shc GROUP BY 1), """ +
       """inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n FROM shc a """ +
       """JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2), """ +
       """dirs AS (SELECT id1 AS src_id, id2 AS dst_id, CAST(n AS DOUBLE) / sa.sz AS c """ +
       """FROM inter JOIN sizes sa ON sa.doc_id = id1 """ +
       """UNION ALL SELECT id2, id1, CAST(n AS DOUBLE) / sb.sz """ +
       """FROM inter JOIN sizes sb ON sb.doc_id = id2) """ +
       """SELECT src_id, dst_id, round(c, 6) AS containment FROM dirs """ +
       """WHERE c >= 0.6 ORDER BY src_id, dst_id"""),

    "x_dedup_jaccard_guard" ->
      (s"""WITH toks AS (SELECT doc_id, $TOK AS l FROM documents), """ +
       """shr AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 1)), """ +
       """i -> array_to_string(l[i:i+2], ' '))) AS t FROM toks), """ +
       s"""sh0 AS (SELECT DISTINCT doc_id, ${h60sql("t")} AS s FROM shr), """ +
       """freq AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 100), """ +
       """sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN freq USING (s)), """ +
       """sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1), """ +
       """inter AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS n FROM sh a """ +
       """JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2) """ +
       """SELECT id1, id2, CAST(n AS DOUBLE) / (sa.sz + sb.sz - n) AS jaccard FROM inter """ +
       """JOIN sizes sa ON sa.doc_id = id1 JOIN sizes sb ON sb.doc_id = id2 """ +
       """ORDER BY jaccard DESC, id1, id2 LIMIT 20"""),

    "x_dedup_minhash_lsh" ->
      (s"""WITH $minhashLshCtes """ +
       """SELECT id1, id2, est AS est_jaccard FROM agree WHERE est >= 0.5 ORDER BY id1, id2"""),

    // clustering = recursive reachability over the same LSH pair graph;
    // cluster label = min doc id reachable (mirrors hash-min convergence)
    "x_dedup_cluster" ->
      (s"""WITH RECURSIVE $minhashLshCtes, $reachCtes """ +
       """SELECT id AS doc_id, MIN(r) AS cluster FROM reach GROUP BY id ORDER BY doc_id"""),

    // cross-corpus LSH: one combined side-tagged corpus through the same
    // sig/band chain, candidates = new-side × ref-side band collisions
    "x_dedup_cross" -> crossDedupOracle,

    // the persisted index materializes the ref side's signatures/bands;
    // the probe result is identical to the direct cross-corpus join, so
    // the oracle is shared verbatim
    "x_dedup_cross_indexed" -> crossDedupOracle,

    // the incrementally-grown dedup index serves the identical pairs
    "x_dedup_cross_append" -> crossDedupOracle,

    // compaction is a physical rewrite, invisible to the pair set
    "x_dedup_cross_compact" -> crossDedupOracle,

    // tombstone-deleted planted docs stop pairing: the result equals
    // the oracle over the never-planted snapshot
    "x_dedup_cross_delete" -> crossDedupOracle,

    // intra-doc dedup: first occurrence per (doc, line) via a window,
    // blanks exempt, reassembled in position order
    "x_line_dedup_within" ->
      ("""WITH src AS (SELECT doc_id, 'INTRO' || chr(10) || text || chr(10) || 'INTRO' || """ +
       """chr(10) || chr(10) || chr(10) || 'INTRO' || chr(10) || 'tail' AS text FROM documents), """ +
       """ln AS (SELECT doc_id, generate_subscripts(string_split(text, chr(10)), 1) AS pos, """ +
       """unnest(string_split(text, chr(10))) AS line FROM src), """ +
       """f AS (SELECT *, row_number() OVER (PARTITION BY doc_id, line ORDER BY pos) AS occ FROM ln), """ +
       """kept AS (SELECT * FROM f WHERE trim(line) = '' OR occ = 1), """ +
       """agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text, """ +
       """count(*) AS n_kept FROM kept GROUP BY 1) """ +
       """SELECT s.doc_id, a.clean_text, COALESCE(a.n_kept, 0) AS n_kept, """ +
       """COALESCE(len(string_split(s.text, chr(10)))::BIGINT, 0) AS n_lines """ +
       """FROM src s LEFT JOIN agg a USING (doc_id) ORDER BY s.doc_id"""),

    // line dedup: same planted construction; doc-frequency counts
    // distinct containing docs per line hash, whitespace-only lines are
    // exempt, kept lines reassemble in position order
    "x_line_dedup" ->
      (s"""WITH src AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0 """ +
       """THEN '== COOKIE NOTICE ==' || chr(10) || text || chr(10) || 'All rights reserved' """ +
       """ELSE text || chr(10) || 'All rights reserved' END AS text FROM documents), """ +
       """ln AS (SELECT doc_id, generate_subscripts(string_split(text, chr(10)), 1) AS pos, """ +
       """unnest(string_split(text, chr(10))) AS line FROM src), """ +
       s"""hl AS (SELECT doc_id, pos, line, ${h60sql("line")} AS h FROM ln), """ +
       """boiler AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM hl WHERE trim(line) <> '') """ +
       """GROUP BY h HAVING count(*) > 100), """ +
       """kept AS (SELECT * FROM hl WHERE h NOT IN (SELECT h FROM boiler)), """ +
       """agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text, """ +
       """count(*) AS n_kept FROM kept GROUP BY doc_id) """ +
       """SELECT s.doc_id, COALESCE(a.clean_text, '') AS clean_text, """ +
       """COALESCE(a.n_kept, 0) AS n_kept, """ +
       """len(string_split(s.text, chr(10)))::BIGINT AS n_lines """ +
       """FROM src s LEFT JOIN agg a USING (doc_id) ORDER BY s.doc_id"""),

    // composed grouping = the clustering reachability labels LEFT-joined
    // back onto the whole planted corpus; singletons label themselves
    "x_neardup_groups" ->
      (s"""WITH RECURSIVE $minhashLshCtes, $reachCtes, """ +
       """lab AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id) """ +
       """SELECT d.doc_id, COALESCE(lab.cluster, d.doc_id) AS cluster, """ +
       """CAST(CASE WHEN COALESCE(lab.cluster, d.doc_id) = d.doc_id THEN 1 ELSE 0 END AS BIGINT) AS keep """ +
       """FROM docs2 d LEFT JOIN lab ON lab.id = d.doc_id ORDER BY d.doc_id"""),

    // keep-best = the same reachability labels + token-count score +
    // per-cluster argmax (row_number over score desc, id)
    "x_dedup_keep_best" ->
      (s"""WITH RECURSIVE $minhashLshCtes, $reachCtes, """ +
       """lab AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id), """ +
       """scored AS (SELECT d.doc_id, COALESCE(lab.cluster, d.doc_id) AS cluster, """ +
       """len(string_split_regex(lower(d.text), '\s+'))::BIGINT AS score """ +
       """FROM docs2 d LEFT JOIN lab ON lab.id = d.doc_id), """ +
       """rn AS (SELECT *, row_number() OVER (PARTITION BY cluster ORDER BY score DESC, doc_id) AS rn FROM scored) """ +
       """SELECT doc_id, cluster, score, CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep """ +
       """FROM rn ORDER BY doc_id"""),

    // streaming windows == batch buckets (same SQL as x_tumbling_window)
    "x_stream_window" ->
      ("""SELECT event_type, (epoch_us(ts) // 1000000) // 1800 AS bucket, count(*) AS n, """ +
       """CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value """ +
       """FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

    // gap-rule sessions re-derived in SQL with session_window's exact
    // break semantics (diff >= gap splits; window ends are exclusive)
    "x_stream_session" ->
      ("""WITH e AS (SELECT user_id, epoch_us(ts) AS us, value FROM events), """ +
       """o AS (SELECT *, CASE WHEN lag(us) OVER w IS NULL OR us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS new_s """ +
       """FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)), """ +
       """s AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM o) """ +
       """SELECT user_id, (min(us) // 1000000)::BIGINT AS sess_start, count(*) AS n_events, """ +
       """CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value """ +
       """FROM s GROUP BY user_id, sid ORDER BY 1, 2"""),

    // streaming dedup survivors must carry exactly the distinct-text
    // digest set (planted duplicates dropped, nothing else)
    "x_stream_dedup" ->
      """SELECT md5(text) AS digest FROM (SELECT DISTINCT text FROM documents) t ORDER BY digest""",

    // sequential ingest: batch-2 survivors depend on what batch 1
    // appended — the full two-step LSH cascade recomputed from scratch
    "x_stream_index_ingest" -> ingestDedupOracle,

    // streamed windows == the batch slice over the union: docs 200-299
    // in arrival order (batch 1 ids < batch 2 ids, ranked by id within
    // each), global token offsets, FULL ctx-32 windows only (the tail
    // stays in the sink's carried state, never in the table)
    "x_stream_window_ingest" ->
      (s"""WITH swtoks AS (SELECT doc_id, $TOK AS ts FROM documents """ +
       """WHERE doc_id >= 200 AND doc_id < 300), """ +
       """swpos AS (SELECT ts, (row_number() OVER (ORDER BY doc_id) - 1) AS p FROM swtoks), """ +
       """swoff AS (SELECT ts, p, COALESCE(SUM(len(ts)) OVER (ORDER BY p """ +
       """ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o FROM swpos), """ +
       """swtok AS (SELECT o + i - 1 AS tg, t FROM """ +
       """(SELECT o, unnest(ts) AS t, unnest(range(1, len(ts) + 1)) AS i FROM swoff)) """ +
       """SELECT (tg // 32)::BIGINT AS window_id, (tg % 32 + 1)::BIGINT AS slot, t AS token """ +
       """FROM swtok WHERE tg // 32 IN """ +
       """(SELECT tg // 32 FROM swtok GROUP BY 1 HAVING count(*) = 32) """ +
       """ORDER BY window_id, slot"""),

    // post-stream text-index probe == overlap ranking over base corpus
    // ∪ both streamed batches (incl. the planted all-query-token docs,
    // which must take the top 3 slots)
    "x_stream_text_ingest" ->
      (s"""WITH q AS (SELECT unnest(['the','data','quick','join','hash','never-in-corpus']) AS token), """ +
       """corpus AS (SELECT doc_id, text FROM documents WHERE doc_id < 300 """ +
       """UNION ALL SELECT (3000000 + r)::BIGINT AS doc_id, """ +
       """'the data quick join hash never-in-corpus the data quick join' AS text FROM range(3) t(r)), """ +
       s"""post AS (SELECT DISTINCT doc_id, unnest($TOK) AS token FROM corpus) """ +
       """SELECT p.doc_id, count(*)::BIGINT AS overlap """ +
       """FROM post p JOIN q USING (token) WHERE p.token <> '' """ +
       """GROUP BY 1 ORDER BY overlap DESC, p.doc_id LIMIT 10"""),

    // tokenize-on-ingest: the landed token_ids column == the x_bpe_ids
    // replay (recursive-CTE rank-greedy apply + vocab join) over
    // exactly the streamed documents; the vocab derives from the FULL
    // corpus (the model's training view), the apply chain only from the
    // streamed range
    "x_stream_token_ingest" ->
      (s"""WITH RECURSIVE ${bpeApplyCtesOver(
            "(SELECT doc_id, text FROM documents WHERE doc_id >= 200 AND doc_id < 300)")}, """ +
       s"""$bpeVocabCtes, """ +
       """enc AS (SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY widx, spos) AS tpos, token FROM toks) """ +
       """SELECT e.doc_id, e.tpos, COALESCE(v.token_id, -1) AS token_id """ +
       """FROM enc e LEFT JOIN vocab v ON e.token = v.token ORDER BY doc_id, tpos"""),

    // streaming index-dedup survivors == the fresh batch minus every
    // document the cross-corpus LSH matches against the indexed snapshot
    "x_stream_dedup_index" ->
      (s"""WITH $crossDedupCtes """ +
       """SELECT doc_id FROM docs2 WHERE side = 1 AND doc_id NOT IN """ +
       """(SELECT id_new FROM agree WHERE est >= 0.5) ORDER BY doc_id"""),

    // custom-state summaries == the batch GROUP BY, decimal-exact sum
    "x_stream_user_summary" ->
      ("""SELECT user_id, count(*) AS n_events, """ +
       """CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value, """ +
       """min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us """ +
       """FROM events GROUP BY 1 ORDER BY 1"""),

    // stream-static enrichment == the batch LEFT join + rollup
    "x_stream_enrich" ->
      ("""WITH e AS (SELECT ev.event_id, ev.user_id, c.c_mktsegment AS segment, ev.value """ +
       """FROM events ev LEFT JOIN (SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey < 100) c """ +
       """ON ev.user_id = c.c_custkey) """ +
       """SELECT segment, count(*)::BIGINT AS n, count(DISTINCT user_id)::BIGINT AS n_users, """ +
       """CAST(round(sum(CAST(value AS DECIMAL(18,6))), 6) AS DOUBLE) AS sum_value """ +
       """FROM e GROUP BY 1 ORDER BY 1"""),

    "x_dedup_minhash_sig" ->
      (s"""WITH toks AS (SELECT doc_id, $TOK AS l FROM documents WHERE doc_id < 300), """ +
       """sh AS (SELECT DISTINCT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 1)), """ +
       """i -> array_to_string(l[i:i+2], ' '))) AS s FROM toks), """ +
       s"""hm AS (SELECT doc_id, ${h60sql("s")} % 2147483647 AS h FROM sh) """ +
       """SELECT doc_id, g.i AS i, """ +
       """min((((g.i * 2654435761) % 2147483647 + 1) * h + (g.i * 40503) % 2147483647 + 7) % 2147483647) AS minhash """ +
       """FROM hm, generate_series(0, 15) g(i) GROUP BY 1, 2 ORDER BY doc_id, i"""),

    "x_dedup_simhash" ->
      (s"""WITH th AS (SELECT doc_id, unnest($TOK) AS tok FROM documents WHERE doc_id < 300), """ +
       s"""h AS (SELECT doc_id, ${h60sql("tok")} AS h FROM th), """ +
       """bits AS (SELECT doc_id, g.j AS j, SUM(CASE WHEN (h >> g.j) & 1 = 1 THEN 1 ELSE -1 END) AS s """ +
       """FROM h, generate_series(0, 59) g(j) GROUP BY 1, 2) """ +
       """SELECT doc_id, SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS simhash """ +
       """FROM bits GROUP BY doc_id ORDER BY doc_id"""),

    // simhash pairing: the oracle is the brute-force all-pairs hamming
    // filter — the engine's pigeonhole banding must return exactly it
    "x_dedup_simhash_pairs" ->
      (s"""WITH docs2 AS (SELECT doc_id, text FROM documents WHERE doc_id < 300 """ +
       """UNION ALL SELECT doc_id + 1000000, text || ' zzz' FROM documents WHERE doc_id < 3 """ +
       """UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 3), """ +
       s"""th AS (SELECT doc_id, unnest($TOK) AS tok FROM docs2), """ +
       s"""h AS (SELECT doc_id, ${h60sql("tok")} AS h FROM th), """ +
       """bits AS (SELECT doc_id, g.j AS j, SUM(CASE WHEN (h >> g.j) & 1 = 1 THEN 1 ELSE -1 END) AS s """ +
       """FROM h, generate_series(0, 59) g(j) GROUP BY 1, 2), """ +
       """sh AS (SELECT doc_id, SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)::BIGINT AS sim """ +
       """FROM bits GROUP BY doc_id) """ +
       """SELECT a.doc_id AS id1, b.doc_id AS id2, bit_count(xor(a.sim, b.sim))::BIGINT AS hamming """ +
       """FROM sh a JOIN sh b ON a.doc_id < b.doc_id """ +
       """WHERE bit_count(xor(a.sim, b.sim)) <= 5 ORDER BY id1, id2"""),

    "x_dedup_embed" ->
      ("SELECT * FROM (VALUES (0::BIGINT, 1000000::BIGINT, 1.0), " +
       "(1::BIGINT, 1000001::BIGINT, 1.0), (2::BIGINT, 1000002::BIGINT, 1.0)) " +
       "t(id1, id2, cosine) ORDER BY id1"),

    // same planted-pair ground truth as x_dedup_embed (the scaled copies
    // are the only >= 0.99 pairs): each copy clusters under its source,
    // every other vector is its own singleton group
    "x_dedup_embed_groups" ->
      ("""WITH allv AS (SELECT vec_id FROM embeddings """ +
       """UNION ALL SELECT vec_id + 1000000 FROM embeddings WHERE vec_id < 3) """ +
       """SELECT vec_id, CASE WHEN vec_id >= 1000000 THEN vec_id - 1000000 ELSE vec_id END AS cluster, """ +
       """CAST(CASE WHEN vec_id >= 1000000 THEN 0 ELSE 1 END AS BIGINT) AS keep """ +
       """FROM allv ORDER BY vec_id"""),

    // TF-IDF cosine pairs replayed exactly: integer idf units, decimal
    // dot/norm sums, one sqrt/divide chain — pairs AND the threshold
    // decisions are bit-exact
    "x_dedup_tfidf" ->
      (s"""WITH t AS (SELECT doc_id, unnest($TOK) AS token FROM documents WHERE doc_id < 100), """ +
       """tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM t WHERE token <> '' GROUP BY 1, 2), """ +
       """dfq AS (SELECT token, count(*)::BIGINT AS df FROM tf GROUP BY 1), """ +
       """n AS (SELECT count(*)::BIGINT AS n_docs FROM documents WHERE doc_id < 100), """ +
       s"""w AS (SELECT tf.doc_id, ${h60sql("tf.token")} AS h, """ +
       """CAST(tf.tf * CAST(round((ln((n.n_docs + 1)::DOUBLE / (dfq.df + 1)::DOUBLE) + 1.0) * 1e6) AS BIGINT) AS DECIMAL(38,0)) AS w """ +
       """FROM tf JOIN dfq USING (token), n), """ +
       """nrm AS (SELECT doc_id, SUM(w * w) AS dxx FROM w GROUP BY 1), """ +
       """dt AS (SELECT a.doc_id AS id1, b.doc_id AS id2, SUM(a.w * b.w) AS dxy """ +
       """FROM w a JOIN w b ON a.h = b.h AND a.doc_id < b.doc_id GROUP BY 1, 2), """ +
       """sc AS (SELECT dt.id1, dt.id2, CAST(dt.dxy AS DOUBLE) / """ +
       """(sqrt(CAST(n1.dxx AS DOUBLE)) * sqrt(CAST(n2.dxx AS DOUBLE))) AS cosine """ +
       """FROM dt JOIN nrm n1 ON n1.doc_id = dt.id1 JOIN nrm n2 ON n2.doc_id = dt.id2) """ +
       """SELECT id1, id2, round(cosine, 6) AS cosine FROM sc WHERE cosine >= 0.8 ORDER BY id1, id2"""),

    // SemDeDup replayed from scratch: the x_kmeans_assign CTEs give the
    // cluster labels, then every within-cluster (lower-id, higher-id)
    // pair is scored with the identical 1e-15 fixed-point cosine —
    // integer dot sums, one sqrt/multiply/divide chain — so each
    // keep/drop decision (threshold comparison included) is bit-exact
    "x_dedup_semantic" ->
      (s"""WITH $kmeansCtes, """ +
       """asg AS (SELECT vec_id, j AS list FROM (SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j) AS rn FROM s1) WHERE rn = 1), """ +
       """nrm AS (SELECT vec_id, SUM(CAST(round(x * x * 1e15) AS BIGINT))::BIGINT AS dxx FROM el GROUP BY 1), """ +
       """pe AS (SELECT a.vec_id AS id1, b.vec_id AS id2 FROM asg a JOIN asg b ON a.list = b.list AND a.vec_id < b.vec_id), """ +
       """dt AS (SELECT p.id1, p.id2, SUM(CAST(round(e1.x * e2.x * 1e15) AS BIGINT))::BIGINT AS dxy """ +
       """FROM pe p JOIN el e1 ON e1.vec_id = p.id1 JOIN el e2 ON e2.vec_id = p.id2 AND e2.i = e1.i GROUP BY 1, 2), """ +
       """dup AS (SELECT DISTINCT d.id2 AS vec_id FROM dt d JOIN nrm n1 ON n1.vec_id = d.id1 JOIN nrm n2 ON n2.vec_id = d.id2 """ +
       """WHERE CAST(d.dxy AS DOUBLE) / (sqrt(CAST(n1.dxx AS DOUBLE)) * sqrt(CAST(n2.dxx AS DOUBLE))) >= 0.4) """ +
       """SELECT a.vec_id, a.list AS cluster, CAST(CASE WHEN dup.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep """ +
       """FROM asg a LEFT JOIN dup USING (vec_id) ORDER BY a.vec_id"""),

    "x_knn_cosine" ->
      ("""WITH el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings), """ +
       """qe AS (SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS qx FROM embeddings WHERE vec_id = 0), """ +
       """terms AS (SELECT el.vec_id, """ +
       """CAST(round((CAST(el.x AS DOUBLE) * CAST(qe.qx AS DOUBLE)) * 1e15) AS BIGINT) AS xy, """ +
       """CAST(round((CAST(el.x AS DOUBLE) * CAST(el.x AS DOUBLE)) * 1e15) AS BIGINT) AS xx """ +
       """FROM el JOIN qe USING (i)), """ +
       """qq AS (SELECT SUM(CAST(round((CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE)) * 1e15) AS BIGINT)) AS dqq FROM qe), """ +
       """s AS (SELECT vec_id, SUM(xy) AS dxy, SUM(xx) AS dxx FROM terms GROUP BY vec_id), """ +
       """scored AS (SELECT vec_id, CAST(dxy AS DOUBLE) / (sqrt(CAST(dxx AS DOUBLE)) * sqrt((SELECT CAST(dqq AS DOUBLE) FROM qq))) AS sc FROM s) """ +
       """SELECT vec_id, round(sc, 6) AS score FROM scored ORDER BY sc DESC, vec_id LIMIT 10"""),

    // hyperplane-LSH ANN: plane weights are sign(bit0(md5("p:d"))),
    // projections in 1e-7 fixed point (mirrors Similarity.hyperplaneSignature),
    // candidate set = buckets within hamming 2, exact-decimal cosine scoring
    "x_knn_lsh" ->
      (s"""WITH e AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d, unnest(embedding) AS x FROM embeddings), """ +
       """r AS (SELECT vec_id, d, CAST(floor(CAST(x AS DOUBLE) * 1e7 + 0.5) AS BIGINT) AS rx FROM e), """ +
       s"""w AS (SELECT p, d, CASE WHEN ${hexsql("md5(p || ':' || d)")} & 1 = 1 THEN 1::BIGINT ELSE -1::BIGINT END AS wv """ +
       """FROM generate_series(0, 7) gp(p), generate_series(0, 63) gd(d)), """ +
       """proj AS (SELECT vec_id, p, SUM(rx * wv)::BIGINT AS pr FROM r JOIN w USING (d) GROUP BY 1, 2), """ +
       """buck AS (SELECT vec_id, SUM(CASE WHEN pr > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END)::BIGINT AS bucket FROM proj GROUP BY 1), """ +
       """qb AS (SELECT bucket AS qbucket FROM buck WHERE vec_id = 0), """ +
       """cand AS (SELECT b.vec_id, b.bucket FROM buck b, qb WHERE bit_count(xor(b.bucket, qb.qbucket)) <= 2), """ +
       """el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings WHERE vec_id IN (SELECT vec_id FROM cand)), """ +
       """qe AS (SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS qx FROM embeddings WHERE vec_id = 0), """ +
       """terms AS (SELECT el.vec_id, """ +
       """CAST(round((CAST(el.x AS DOUBLE) * CAST(qe.qx AS DOUBLE)) * 1e15) AS BIGINT) AS xy, """ +
       """CAST(round((CAST(el.x AS DOUBLE) * CAST(el.x AS DOUBLE)) * 1e15) AS BIGINT) AS xx """ +
       """FROM el JOIN qe USING (i)), """ +
       """qq AS (SELECT SUM(CAST(round((CAST(qx AS DOUBLE) * CAST(qx AS DOUBLE)) * 1e15) AS BIGINT)) AS dqq FROM qe), """ +
       """s AS (SELECT vec_id, SUM(xy) AS dxy, SUM(xx) AS dxx FROM terms GROUP BY vec_id), """ +
       """scored AS (SELECT vec_id, CAST(dxy AS DOUBLE) / (sqrt(CAST(dxx AS DOUBLE)) * sqrt((SELECT CAST(dqq AS DOUBLE) FROM qq))) AS sc FROM s) """ +
       """SELECT c.vec_id, round(sc, 6) AS score, c.bucket FROM scored JOIN cand c USING (vec_id) ORDER BY sc DESC, c.vec_id LIMIT 10"""),

    // IVF ANN: codebook = the 16 smallest-id vectors; list affinity is
    // dxy/sqrt(dyy) in 1e-15 fixed point (the row-norm factor is a
    // positive constant per row, so dropping it preserves the argmax),
    // ties to the smaller list id; probe = query's top-4 lists; exact
    // fixed-point cosine over the probed candidates
    "x_knn_ivf" ->
      ("""WITH el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings), """ +
       """norms AS (SELECT vec_id, SUM(CAST(round((CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxx FROM el GROUP BY vec_id), """ +
       """cl AS (SELECT vec_id AS cid, i, x AS cx FROM el WHERE vec_id IN (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 16)), """ +
       """aff AS (SELECT el.vec_id, cl.cid, """ +
       """SUM(CAST(round((CAST(el.x AS DOUBLE) * CAST(cl.cx AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxy """ +
       """FROM el JOIN cl USING (i) GROUP BY 1, 2), """ +
       """ascore AS (SELECT a.vec_id, a.cid, CAST(a.dxy AS DOUBLE) / sqrt(CAST(n.dxx AS DOUBLE)) AS s """ +
       """FROM aff a JOIN norms n ON n.vec_id = a.cid), """ +
       """assign AS (SELECT vec_id, cid AS list FROM (SELECT vec_id, cid, """ +
       """row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM ascore) WHERE rn = 1), """ +
       """probes AS (SELECT cid AS list FROM ascore WHERE vec_id = 0 ORDER BY s DESC, cid LIMIT 4), """ +
       """cand AS (SELECT a.vec_id, a.list FROM assign a JOIN probes USING (list)), """ +
       """qe AS (SELECT i, x AS qx FROM el WHERE vec_id = 0), """ +
       """terms AS (SELECT el.vec_id, CAST(round((CAST(el.x AS DOUBLE) * CAST(qe.qx AS DOUBLE)) * 1e15) AS BIGINT) AS xy """ +
       """FROM el JOIN qe USING (i) WHERE el.vec_id IN (SELECT vec_id FROM cand)), """ +
       """s2 AS (SELECT vec_id, SUM(xy)::BIGINT AS dxy FROM terms GROUP BY 1), """ +
       """scored AS (SELECT s2.vec_id, CAST(s2.dxy AS DOUBLE) / (sqrt(CAST(n.dxx AS DOUBLE)) * """ +
       """sqrt((SELECT CAST(dxx AS DOUBLE) FROM norms WHERE vec_id = 0))) AS sc """ +
       """FROM s2 JOIN norms n ON n.vec_id = s2.vec_id) """ +
       """SELECT c.vec_id, round(sc, 6) AS score, c.list FROM scored JOIN cand c USING (vec_id) """ +
       """ORDER BY sc DESC, c.vec_id LIMIT 10"""),

    // batch kNN join: x_knn_ivf generalized to 5 simultaneous queries —
    // probe selection becomes a per-query window, candidates a
    // probes⋈assignment join, and the top-k a per-query row_number
    "x_knn_join" -> knnJoinOracle,

    // the persisted-index batch probe serves the identical per-query
    // top-k (assignment was paid at build; same codebook, same
    // fixed-point arithmetic), so it shares the oracle
    "x_knn_join_indexed" -> knnJoinOracle,

    "x_knn_join_filtered" -> knnJoinProbeOracle("a.vec_id % 3 = 1"),

    "x_knn_join_stratified" -> knnJoinProbeOracle(
      "(p.qid % 2 = 0 AND a.vec_id % 2 = 0) OR " +
        "(p.qid % 2 = 1 AND a.vec_id % 3 = 1)"),

    // embedding cross-dedup: the knn-join chain over a split corpus —
    // codebook list ids are row_number-1 in vec_id order over the
    // corpus side; a new row is matched (dropped) iff any probed-list
    // candidate's fixed-point cosine clears the threshold
    "x_dedup_embed_cross" ->
      ("""WITH el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings), """ +
       """ns AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50 """ +
       """UNION ALL SELECT vec_id + 20000, list_transform(embedding, x -> CAST(x * CAST(1.5 AS FLOAT) AS FLOAT)) """ +
       """FROM embeddings WHERE vec_id >= 100 AND vec_id < 120), """ +
       """ne AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM ns), """ +
       """ce AS (SELECT vec_id, i, x FROM el WHERE vec_id >= 100), """ +
       """cn AS (SELECT vec_id, SUM(CAST(round((CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxx FROM ce GROUP BY 1), """ +
       """nnr AS (SELECT vec_id, SUM(CAST(round((CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxx FROM ne GROUP BY 1), """ +
       """cb AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, vec_id AS cvid """ +
       """FROM (SELECT DISTINCT vec_id FROM ce ORDER BY vec_id LIMIT 16)), """ +
       """cl AS (SELECT cb.cid, ce.i, ce.x AS cx FROM cb JOIN ce ON ce.vec_id = cb.cvid), """ +
       """cyy AS (SELECT cid, SUM(CAST(round((CAST(cx AS DOUBLE) * CAST(cx AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dyy FROM cl GROUP BY 1), """ +
       """caff AS (SELECT ce.vec_id, cl.cid, SUM(CAST(round((CAST(ce.x AS DOUBLE) * CAST(cl.cx AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxy """ +
       """FROM ce JOIN cl USING (i) GROUP BY 1, 2), """ +
       """cascore AS (SELECT a.vec_id, a.cid, CAST(a.dxy AS DOUBLE) / sqrt(CAST(y.dyy AS DOUBLE)) AS s FROM caff a JOIN cyy y USING (cid)), """ +
       """assign AS (SELECT vec_id, cid AS list FROM (SELECT vec_id, cid, """ +
       """row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM cascore) WHERE rn = 1), """ +
       """naff AS (SELECT ne.vec_id, cl.cid, SUM(CAST(round((CAST(ne.x AS DOUBLE) * CAST(cl.cx AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxy """ +
       """FROM ne JOIN cl USING (i) GROUP BY 1, 2), """ +
       """nascore AS (SELECT a.vec_id, a.cid, CAST(a.dxy AS DOUBLE) / sqrt(CAST(y.dyy AS DOUBLE)) AS s FROM naff a JOIN cyy y USING (cid)), """ +
       """probes AS (SELECT vec_id AS qid, cid AS list FROM (SELECT vec_id, cid, """ +
       """row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn FROM nascore) WHERE rn <= 4), """ +
       """cand AS (SELECT p.qid, a.vec_id AS nid FROM probes p JOIN assign a USING (list)), """ +
       """pt AS (SELECT c.qid, c.nid, SUM(CAST(round((CAST(q.x AS DOUBLE) * CAST(t.x AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS dxy """ +
       """FROM cand c JOIN ne q ON q.vec_id = c.qid JOIN ce t ON t.vec_id = c.nid AND t.i = q.i GROUP BY 1, 2), """ +
       """matched AS (SELECT DISTINCT pt.qid FROM pt JOIN nnr ON nnr.vec_id = pt.qid JOIN cn ON cn.vec_id = pt.nid """ +
       """WHERE CAST(pt.dxy AS DOUBLE) / (sqrt(CAST(nnr.dxx AS DOUBLE)) * sqrt(CAST(cn.dxx AS DOUBLE))) >= 0.99) """ +
       """SELECT ns.vec_id FROM ns LEFT JOIN matched m ON m.qid = ns.vec_id """ +
       """WHERE m.qid IS NULL ORDER BY ns.vec_id"""),

    // sequential two-batch ANN ingest replayed (see embedIngestOracle)
    "x_stream_embed_ingest" -> embedIngestOracle,

    // spherical k-means, 1 Lloyd iteration: seed codebook = 8 smallest-id
    // vectors; assignment ranks dxy/sqrt(dyy) (row norm dropped — argmax-
    // invariant) from 1e-15 fixed-point dots; member means accumulate
    // round(x*1e15) as exact integers; empty lists keep their seed
    // centroids re-derived in integer arithmetic: BIGINT sums of the
    // same round(x*1e15) fixed-point elements (DuckDB promotes to
    // HUGEINT on overflow), double division last, 1-based subscripts
    // shifted to the 0-based dim
    "x_embed_centroids" ->
      ("""WITH f AS (SELECT label, embedding FROM embeddings WHERE len(embedding) = 64 """ +
       """AND len(list_filter(embedding, x -> x IS NULL)) = 0), """ +
       """el AS (SELECT label, generate_subscripts(embedding, 1) AS i, """ +
       """CAST(unnest(embedding) AS DOUBLE) AS x FROM f), """ +
       """g AS (SELECT label, i, SUM(CAST(round(x * 1e15) AS BIGINT)) AS sf, COUNT(*) AS cnt FROM el GROUP BY 1, 2) """ +
       """SELECT label, (i - 1)::BIGINT AS dim, """ +
       """round(CAST(sf AS DOUBLE) / (cnt * 1e15), 6) AS centroid """ +
       """FROM g ORDER BY label, dim"""),

    // k-means|| init replayed round by round: candidate sets, Voronoi
    // weights, and the top-k-by-weight cut, all in exact arithmetic
    "x_kmeans_par_init" -> kmparOracle,

    "x_kmeans_assign" ->
      (s"""WITH $kmeansCtes """ +
       """SELECT vec_id, j AS list FROM (SELECT vec_id, j, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, j) AS rn FROM s1) WHERE rn = 1 ORDER BY vec_id"""),

    // trained IVF end-to-end: the 1-Lloyd-iteration codebook above, then
    // nprobe=3 probing by the query's own list affinities and exact
    // fixed-point cosine over the probed candidates
    "x_knn_ivf_trained" -> ivfTrainedOracle,
    "x_knn_ivf_trained_par" -> ivfTrainedParOracle,

    // the persisted index materializes the identical assignment, so the
    // probed top-k must equal the assign-at-query-time result exactly
    "x_knn_ivf_indexed" -> ivfTrainedOracle,

    "x_knn_filtered" -> ivfTrainedProbeOracle("a.vec_id % 3 = 1"),

    // the incrementally-grown index serves the identical top-k
    "x_knn_ivf_append" -> ivfTrainedOracle,

    // compaction is a physical rewrite, invisible to the top-k
    "x_knn_ivf_compact" -> ivfTrainedOracle,

    // seeded product quantization, mirrored algorithmically: codes from
    // fixed-point L2 assignment, ADC cosine against the quantized vector
    "x_knn_pq" -> pqOracle,

    // the persisted code table serves the identical ADC top-k
    "x_knn_pq_indexed" -> pqOracle,

    // the incrementally-grown code table serves the identical top-k
    "x_knn_pq_append" -> pqOracle,

    // compaction is a physical rewrite, invisible to the ADC top-k
    "x_knn_pq_compact" -> pqOracle,

    // tombstone-deleted planted query-vector near-copies leave the
    // top-k: the result equals the oracle over the never-planted corpus
    "x_knn_pq_delete" -> pqOracle,

    // IVF+PQ composed: candidates from the 4 probed seed lists, plain
    // ADC scores over their codes
    "x_knn_ivfpq" -> ivfPqOracle,

    "x_knn_ivfpq_filtered" ->
      (ivfPqChainWhere("a.vec_id % 3 = 1") +
       """SELECT c.vec_id, round(sc, 6) AS score, c.list FROM scored JOIN cand c ON c.vec_id = scored.vec_id """ +
       """ORDER BY sc DESC, c.vec_id LIMIT 10"""),

    // IVFADC refinement: ADC top-30 cut + exact-cosine re-rank tail
    "x_knn_ivfpq_rerank" -> ivfPqRerankOracle,

    // the batch refinement: per-qid ADC top-20 cuts + pair-cosine tail
    "x_knn_ivfpq_join_rerank" -> ivfPqJoinRerankOracle,

    // the batch ADC join: per-query probes/LUTs/top-k over 5 queries
    "x_knn_ivfpq_join" -> ivfPqJoinOracle,

    // SQ8: per-dim min/max params, affine byte codes, dequantized
    // fixed-point cosine — the whole chain recomputed from scratch
    "x_knn_sq" ->
      ("""WITH el AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS x FROM embeddings), """ +
       """mm AS (SELECT i, min(x)::DOUBLE AS mn, max(x)::DOUBLE AS mx FROM el GROUP BY 1), """ +
       """cd AS (SELECT el.vec_id, el.i, """ +
       """CASE WHEN (mm.mx - mm.mn) > 0 THEN least(greatest(floor(((CAST(el.x AS DOUBLE) - mm.mn) * 255) / (mm.mx - mm.mn)), 0), 255) ELSE 0 END AS c, """ +
       """mm.mn AS mn, mm.mx - mm.mn AS rng FROM el JOIN mm USING (i)), """ +
       """dq AS (SELECT vec_id, i, mn + ((c * rng) / 255) AS v FROM cd), """ +
       """q AS (SELECT i, CAST(x AS DOUBLE) AS qx FROM el WHERE vec_id = 0), """ +
       """qq AS (SELECT SUM(CAST(round((CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) * 1e15) AS BIGINT))::BIGINT AS v FROM el WHERE vec_id = 0), """ +
       """sc AS (SELECT dq.vec_id, SUM(CAST(round((q.qx * dq.v) * 1e15) AS BIGINT))::BIGINT AS dt, """ +
       """SUM(CAST(round((dq.v * dq.v) * 1e15) AS BIGINT))::BIGINT AS nn FROM dq JOIN q USING (i) GROUP BY 1), """ +
       """fin AS (SELECT vec_id, CAST(dt AS DOUBLE) / (sqrt((SELECT CAST(v AS DOUBLE) FROM qq)) * sqrt(CAST(nn AS DOUBLE))) AS s FROM sc) """ +
       """SELECT vec_id, round(s, 6) AS score FROM fin ORDER BY s DESC, vec_id LIMIT 10"""),

    // the incrementally-grown composed index serves the identical top-k
    "x_knn_ivfpq_append" -> ivfPqOracle,

    // compaction is a physical rewrite, invisible to the composed top-k
    "x_knn_ivfpq_compact" -> ivfPqOracle,

    // tombstone-deleted planted copies leave the composed top-k
    "x_knn_ivfpq_delete" -> ivfPqOracle,

    // tombstone-deleted planted query-vector copies leave the top-k:
    // the result equals the oracle over the never-planted corpus
    "x_knn_ivf_delete" -> ivfTrainedOracle,

    // overlap = distinct shared tokens between the fixed query and each
    // document; the index layout is invisible to the result
    "x_text_index" ->
      (s"""WITH q AS (SELECT unnest(['the','data','quick','join','hash','never-in-corpus']) AS token), """ +
       s"""post AS (SELECT DISTINCT doc_id, unnest($TOK) AS token FROM documents) """ +
       """SELECT p.doc_id, count(*)::BIGINT AS overlap """ +
       """FROM post p JOIN q USING (token) WHERE p.token <> '' """ +
       """GROUP BY 1 ORDER BY overlap DESC, p.doc_id LIMIT 10"""),

    // the incrementally-grown index serves the identical result
    "x_text_index_append" ->
      (s"""WITH q AS (SELECT unnest(['the','data','quick','join','hash','never-in-corpus']) AS token), """ +
       s"""post AS (SELECT DISTINCT doc_id, unnest($TOK) AS token FROM documents) """ +
       """SELECT p.doc_id, count(*)::BIGINT AS overlap """ +
       """FROM post p JOIN q USING (token) WHERE p.token <> '' """ +
       """GROUP BY 1 ORDER BY overlap DESC, p.doc_id LIMIT 10"""),

    // compaction is a physical rewrite, invisible to the ranking
    "x_text_index_compact" ->
      (s"""WITH q AS (SELECT unnest(['the','data','quick','join','hash','never-in-corpus']) AS token), """ +
       s"""post AS (SELECT DISTINCT doc_id, unnest($TOK) AS token FROM documents) """ +
       """SELECT p.doc_id, count(*)::BIGINT AS overlap """ +
       """FROM post p JOIN q USING (token) WHERE p.token <> '' """ +
       """GROUP BY 1 ORDER BY overlap DESC, p.doc_id LIMIT 10"""),

    // tombstone-deleted planted all-query-token docs leave the ranking:
    // the result equals the oracle over the never-planted corpus
    "x_text_index_delete" ->
      (s"""WITH q AS (SELECT unnest(['the','data','quick','join','hash','never-in-corpus']) AS token), """ +
       s"""post AS (SELECT DISTINCT doc_id, unnest($TOK) AS token FROM documents) """ +
       """SELECT p.doc_id, count(*)::BIGINT AS overlap """ +
       """FROM post p JOIN q USING (token) WHERE p.token <> '' """ +
       """GROUP BY 1 ORDER BY overlap DESC, p.doc_id LIMIT 10"""),

    // BM25 recomputed from the raw corpus: ln(1+(N-df+0.5)/(df+0.5)) idf,
    // k1=1.2, b=0.75, N = ALL documents, avgdl over all documents
    "x_text_bm25" ->
      (s"""WITH q AS (SELECT unnest(['the','data','quick','join','hash','never-in-corpus']) AS token), """ +
       s"""toks AS (SELECT doc_id, list_filter($TOK, t -> t <> '') AS l FROM documents), """ +
       """stats AS (SELECT count(*)::DOUBLE AS n, sum(len(l))::DOUBLE / count(*) AS avgdl FROM toks), """ +
       """post AS (SELECT doc_id, len(l)::BIGINT AS doc_len, unnest(l) AS token FROM toks), """ +
       """tft AS (SELECT doc_id, token, doc_len, count(*)::BIGINT AS tf FROM post GROUP BY 1, 2, 3), """ +
       """m AS (SELECT t.doc_id, t.token, t.doc_len, t.tf FROM tft t JOIN q USING (token)), """ +
       """dfreq AS (SELECT token, count(*)::BIGINT AS dfq FROM m GROUP BY 1), """ +
       """sc AS (SELECT m.doc_id, sum(ln(1 + (s.n - d.dfq + 0.5) / (d.dfq + 0.5)) * """ +
       """m.tf * 2.2 / (m.tf + 1.2 * (0.25 + 0.75 * m.doc_len / s.avgdl))) AS score """ +
       """FROM m JOIN dfreq d USING (token), stats s GROUP BY 1) """ +
       """SELECT doc_id, round(score, 6) AS score FROM sc """ +
       """ORDER BY score DESC, doc_id LIMIT 10"""),

    // batch BM25 replayed with a query_idx dimension: df per token over
    // the UNION's matched postings (same posting set whichever query
    // asked), per-query scoring and ranking windows
    "x_text_bm25_batch" ->
      (s"""WITH q AS (SELECT 0::BIGINT AS query_idx, unnest(['the','data','quick','join','hash','never-in-corpus']) AS token """ +
       """UNION ALL SELECT 1::BIGINT, unnest(['table','hash','merge'])), """ +
       s"""toks AS (SELECT doc_id, list_filter($TOK, t -> t <> '') AS l FROM documents), """ +
       """stats AS (SELECT count(*)::DOUBLE AS n, sum(len(l))::DOUBLE / count(*) AS avgdl FROM toks), """ +
       """post AS (SELECT doc_id, len(l)::BIGINT AS doc_len, unnest(l) AS token FROM toks), """ +
       """tft AS (SELECT doc_id, token, doc_len, count(*)::BIGINT AS tf FROM post GROUP BY 1, 2, 3), """ +
       """qt AS (SELECT DISTINCT token FROM q), """ +
       """m AS (SELECT t.doc_id, t.token, t.doc_len, t.tf FROM tft t JOIN qt USING (token)), """ +
       """dfreq AS (SELECT token, count(*)::BIGINT AS dfq FROM m GROUP BY 1), """ +
       """sc AS (SELECT q.query_idx, m.doc_id, sum(ln(1 + (s.n - d.dfq + 0.5) / (d.dfq + 0.5)) * """ +
       """m.tf * 2.2 / (m.tf + 1.2 * (0.25 + 0.75 * m.doc_len / s.avgdl))) AS score """ +
       """FROM m JOIN q ON q.token = m.token JOIN dfreq d ON d.token = m.token, stats s GROUP BY 1, 2), """ +
       """r AS (SELECT *, row_number() OVER (PARTITION BY query_idx ORDER BY score DESC, doc_id) AS rn FROM sc) """ +
       """SELECT query_idx, doc_id, round(score, 6) AS score FROM r WHERE rn <= 10 """ +
       """ORDER BY query_idx, score DESC, doc_id"""),

    // exact-phrase occurrence counts from the raw text: sliding-window
    // scan over the filtered token list (overlapping matches counted,
    // same as the index-side position alignment)
    // batch phrase suite: per-phrase sliding-window occurrence counts
    // over the raw text, full matching set (never-matching phrase
    // contributes nothing)
    "x_text_phrases" ->
      (s"""WITH toks AS (SELECT doc_id, list_filter($TOK, t -> t <> '') AS l FROM documents), """ +
       """p0 AS (SELECT 0::BIGINT AS phrase_idx, doc_id, len(list_filter(generate_series(1, len(l) - 1), i -> l[i] = 'table' AND l[i+1] = 'hash'))::BIGINT AS n_phrase FROM toks), """ +
       """p1 AS (SELECT 1::BIGINT AS phrase_idx, doc_id, len(list_filter(generate_series(1, len(l) - 1), i -> l[i] = 'merge' AND l[i+1] = 'group'))::BIGINT AS n_phrase FROM toks), """ +
       """p2 AS (SELECT 2::BIGINT AS phrase_idx, doc_id, len(list_filter(generate_series(1, len(l) - 1), i -> l[i] = 'slow' AND l[i+1] = 'key'))::BIGINT AS n_phrase FROM toks), """ +
       """p3 AS (SELECT 3::BIGINT AS phrase_idx, doc_id, len(list_filter(generate_series(1, len(l) - 1), i -> l[i] = 'zz-never' AND l[i+1] = 'matches'))::BIGINT AS n_phrase FROM toks) """ +
       """SELECT phrase_idx, doc_id, n_phrase FROM """ +
       """(SELECT * FROM p0 UNION ALL SELECT * FROM p1 UNION ALL SELECT * FROM p2 UNION ALL SELECT * FROM p3) """ +
       """WHERE n_phrase > 0 ORDER BY phrase_idx, doc_id"""),

    // conjunctive: docs holding ALL four tokens, by total occurrences
    "x_text_search_all" ->
      (s"""WITH q AS (SELECT unnest(['the','data','join','hash']) AS token), """ +
       s"""post AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM """ +
       s"""(SELECT doc_id, unnest($TOK) AS token FROM documents) WHERE token <> '' GROUP BY 1, 2), """ +
       """m AS (SELECT p.doc_id, sum(p.tf)::BIGINT AS hits, count(DISTINCT p.token) AS ntok """ +
       """FROM post p JOIN q USING (token) GROUP BY 1) """ +
       """SELECT doc_id, hits FROM m WHERE ntok = 4 """ +
       """ORDER BY hits DESC, doc_id LIMIT 15"""),

    "x_text_phrase" ->
      (s"""WITH toks AS (SELECT doc_id, list_filter($TOK, t -> t <> '') AS l FROM documents), """ +
       """c AS (SELECT doc_id, len(list_filter(generate_series(1, len(l) - 1), """ +
       """i -> l[i] = 'table' AND l[i+1] = 'hash')) AS n_phrase FROM toks) """ +
       """SELECT doc_id, n_phrase::BIGINT AS n_phrase FROM c WHERE n_phrase > 0 """ +
       """ORDER BY n_phrase DESC, doc_id LIMIT 10"""),

    // minimal cover span replayed from the raw token sequence: every
    // occurrence position is tried as a window start; the window must
    // reach the earliest at-or-after occurrence of each token
    "x_text_near" ->
      (s"""WITH toks AS (SELECT doc_id, list_filter($TOK, t -> t <> '') AS l FROM documents), """ +
       """c AS (SELECT doc_id, """ +
       """list_filter(generate_series(1, len(l)), i -> l[i] = 'table') AS p1, """ +
       """list_filter(generate_series(1, len(l)), i -> l[i] = 'hash') AS p2, """ +
       """list_filter(generate_series(1, len(l)), i -> l[i] = 'merge') AS p3 FROM toks), """ +
       """ok AS (SELECT doc_id, p1, p2, p3 FROM c WHERE len(p1) > 0 AND len(p2) > 0 AND len(p3) > 0), """ +
       """sp AS (SELECT doc_id, list_min(list_transform(list_concat(list_concat(p1, p2), p3), s -> """ +
       """CASE WHEN len(list_filter(p1, p -> p >= s)) > 0 AND len(list_filter(p2, p -> p >= s)) > 0 """ +
       """AND len(list_filter(p3, p -> p >= s)) > 0 """ +
       """THEN greatest(list_min(list_filter(p1, p -> p >= s)), list_min(list_filter(p2, p -> p >= s)), """ +
       """list_min(list_filter(p3, p -> p >= s))) - s + 1 ELSE NULL END)) AS min_span FROM ok) """ +
       """SELECT doc_id, min_span::BIGINT AS min_span FROM sp """ +
       """ORDER BY min_span, doc_id LIMIT 10"""),

    "x_lang_id" ->
      (s"""WITH c AS (SELECT doc_id, lang, ${langVoteColsSql("text")} FROM documents) """ +
       s"""SELECT doc_id, lang, $langVoteCaseSql AS guess FROM c ORDER BY doc_id"""),

    // the per-domain governance report: mass, exact-dup debt, and the
    // language spread, every feature recomputed per doc from the text
    "x_corpus_report" ->
      (s"""WITH crep AS (SELECT source AS dom, COALESCE(text, '') AS t FROM documents), """ +
       s"""cfeat AS (SELECT dom, length(t)::BIGINT AS nc, """ +
       s"""len(string_split_regex(lower(t), '\\s+'))::BIGINT AS nt, md5(t) AS dig, """ +
       s"""${langVoteColsSql("t")} FROM crep), """ +
       s"""cguess AS (SELECT dom, nc, nt, dig, $langVoteCaseSql AS lg FROM cfeat), """ +
       """cmain AS (SELECT dom, count(*)::BIGINT AS n_docs, SUM(nt)::BIGINT AS n_tokens, """ +
       """SUM(nc)::BIGINT AS n_chars, (count(*) - count(DISTINCT dig))::BIGINT AS n_dup_docs, """ +
       """count(DISTINCT lg)::BIGINT AS n_langs FROM cguess GROUP BY dom), """ +
       """clc AS (SELECT dom, lg, count(*)::BIGINT AS c FROM cguess GROUP BY 1, 2), """ +
       """ctop AS (SELECT dom, lg AS top_lang, c AS top_lang_docs FROM """ +
       """(SELECT *, row_number() OVER (PARTITION BY dom ORDER BY c DESC, lg) AS rn FROM clc) WHERE rn = 1) """ +
       """SELECT m.dom AS source, m.n_docs, m.n_tokens, m.n_chars, m.n_dup_docs, """ +
       """m.n_langs, t.top_lang, t.top_lang_docs """ +
       // NULLS FIRST pins a NULL-source stratum to Spark's ASC default —
       // DuckDB's NULLS LAST would flip the row order and the hash
       """FROM cmain m JOIN ctop t USING (dom) ORDER BY source NULLS FIRST"""),

    // the dataset card: the report rollup LEFT JOIN the quota chain
    "x_dataset_card" ->
      (s"""WITH crep AS (SELECT source AS dom, COALESCE(text, '') AS t FROM documents), """ +
       s"""cfeat AS (SELECT dom, length(t)::BIGINT AS nc, """ +
       s"""len(string_split_regex(lower(t), '\\s+'))::BIGINT AS nt, md5(t) AS dig, """ +
       s"""${langVoteColsSql("t")} FROM crep), """ +
       s"""cguess AS (SELECT dom, nc, nt, dig, $langVoteCaseSql AS lg FROM cfeat), """ +
       """cmain AS (SELECT dom, count(*)::BIGINT AS n_docs, SUM(nt)::BIGINT AS n_tokens, """ +
       """SUM(nc)::BIGINT AS n_chars, (count(*) - count(DISTINCT dig))::BIGINT AS n_dup_docs, """ +
       """count(DISTINCT lg)::BIGINT AS n_langs FROM cguess GROUP BY dom), """ +
       """clc AS (SELECT dom, lg, count(*)::BIGINT AS c FROM cguess GROUP BY 1, 2), """ +
       """ctop AS (SELECT dom, lg AS top_lang, c AS top_lang_docs FROM """ +
       """(SELECT *, row_number() OVER (PARTITION BY dom ORDER BY c DESC, lg) AS rn FROM clc) WHERE rn = 1), """ +
       """pcnt AS (SELECT source AS dom, count(*)::BIGINT AS c FROM documents WHERE doc_id IS NOT NULL GROUP BY 1), """ +
       """pm AS (SELECT dom, c, CAST(round(sqrt(c) * 1000000) AS BIGINT) AS md FROM pcnt), """ +
       """pt AS (SELECT SUM(md)::HUGEINT AS mt, SUM(c)::HUGEINT AS ct FROM pm), """ +
       """pq AS (SELECT dom, c, """ +
       """((c::HUGEINT * 1000000) // ct)::BIGINT AS raw_share_ppm, """ +
       """((md::HUGEINT * 1000000) // mt)::BIGINT AS target_share_ppm, """ +
       """((1000::HUGEINT * md) // (mt * c))::BIGINT AS f, """ +
       """((((1000::HUGEINT * md) % (mt * c)) * 1000000) // (mt * c))::BIGINT AS thr """ +
       """FROM pm, pt) """ +
       """SELECT m.dom AS source, m.n_docs, m.n_tokens, m.n_chars, m.n_dup_docs, """ +
       """m.n_langs, t.top_lang, t.top_lang_docs, """ +
       """p.c AS mass, p.raw_share_ppm, p.target_share_ppm, """ +
       """p.f AS quota_floor, p.thr AS quota_coin_ppm, """ +
       """(p.f * 1000000 + p.thr)::BIGINT AS epochs_ppm, """ +
       """((p.c::HUGEINT * (p.f::HUGEINT * 1000000 + p.thr)) // 1000000)::BIGINT AS expected_out, """ +
       """(CASE WHEN p.f < 100 OR (p.f = 100 AND p.thr = 0) THEN 0 ELSE 1 END)::BIGINT AS over_cap """ +
       """FROM cmain m JOIN ctop t USING (dom) LEFT JOIN pq p ON p.dom = m.dom """ +
       """ORDER BY source NULLS FIRST"""),

    // the contamination-debt report: the x_contamination dirty set
    // (>= 2 shared trigram hashes vs the docs < 20 suite) counted per
    // source, left-joined onto the same per-domain feature rollup
    "x_corpus_report_contam" ->
      (s"""WITH crep AS (SELECT doc_id, source AS dom, COALESCE(text, '') AS t FROM documents), """ +
       s"""cfeat AS (SELECT dom, length(t)::BIGINT AS nc, """ +
       s"""len(string_split_regex(lower(t), '\\s+'))::BIGINT AS nt, md5(t) AS dig, """ +
       s"""${langVoteColsSql("t")} FROM crep), """ +
       s"""cguess AS (SELECT dom, nc, nt, dig, $langVoteCaseSql AS lg FROM cfeat), """ +
       """cmain AS (SELECT dom, count(*)::BIGINT AS n_docs, SUM(nt)::BIGINT AS n_tokens, """ +
       """SUM(nc)::BIGINT AS n_chars, (count(*) - count(DISTINCT dig))::BIGINT AS n_dup_docs, """ +
       """count(DISTINCT lg)::BIGINT AS n_langs FROM cguess GROUP BY dom), """ +
       """clc AS (SELECT dom, lg, count(*)::BIGINT AS c FROM cguess GROUP BY 1, 2), """ +
       """ctop AS (SELECT dom, lg AS top_lang, c AS top_lang_docs FROM """ +
       """(SELECT *, row_number() OVER (PARTITION BY dom ORDER BY c DESC, lg) AS rn FROM clc) WHERE rn = 1), """ +
       s"""ktoks AS (SELECT doc_id, $TOK AS l FROM documents), """ +
       """kshr AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 1)), """ +
       """i -> array_to_string(l[i:i+2], ' '))) AS g FROM ktoks), """ +
       s"""ksh AS (SELECT DISTINCT doc_id, ${h60sql("g")} AS h FROM kshr), """ +
       """kb AS (SELECT doc_id AS bench_id, h FROM ksh WHERE doc_id < 20), """ +
       """kj AS (SELECT s.doc_id, kb.bench_id, count(*) AS shared FROM ksh s JOIN kb ON s.h = kb.h GROUP BY 1, 2), """ +
       """kdirty AS (SELECT DISTINCT doc_id FROM kj WHERE shared >= 2), """ +
       """ccd AS (SELECT c.dom, count(*)::BIGINT AS ncd FROM kdirty d JOIN crep c USING (doc_id) GROUP BY 1) """ +
       """SELECT m.dom AS source, m.n_docs, m.n_tokens, m.n_chars, m.n_dup_docs, """ +
       """m.n_langs, t.top_lang, t.top_lang_docs, COALESCE(cc.ncd, 0)::BIGINT AS n_contaminated_docs """ +
       """FROM cmain m JOIN ctop t USING (dom) LEFT JOIN ccd cc ON cc.dom = m.dom """ +
       """ORDER BY source NULLS FIRST"""),

    // the near-dup-debt report: the x_neardup_groups reachability
    // labels feed a per-domain count of non-kept docs (cluster <> id),
    // left-joined onto the same per-domain feature rollup
    "x_corpus_report_neardup" ->
      (s"""WITH RECURSIVE $minhashLshCtes, $reachCtes, """ +
       """lab AS (SELECT id, MIN(r) AS cluster FROM reach GROUP BY id), """ +
       """cdom AS (SELECT doc_id, CASE WHEN doc_id >= 1000000 THEN 'planted' """ +
       """WHEN doc_id % 2 = 0 THEN 'even' ELSE 'odd' END AS dom, """ +
       """COALESCE(text, '') AS t FROM docs2), """ +
       """nnd AS (SELECT c.dom, count(*)::BIGINT AS nn FROM cdom c """ +
       """JOIN lab ON lab.id = c.doc_id WHERE lab.cluster <> c.doc_id GROUP BY 1), """ +
       s"""nfeat AS (SELECT dom, length(t)::BIGINT AS nc, """ +
       s"""len(string_split_regex(lower(t), '\\s+'))::BIGINT AS nt, md5(t) AS dig, """ +
       s"""${langVoteColsSql("t")} FROM cdom), """ +
       s"""nguess AS (SELECT dom, nc, nt, dig, $langVoteCaseSql AS lg FROM nfeat), """ +
       """nmain AS (SELECT dom, count(*)::BIGINT AS n_docs, SUM(nt)::BIGINT AS n_tokens, """ +
       """SUM(nc)::BIGINT AS n_chars, (count(*) - count(DISTINCT dig))::BIGINT AS n_dup_docs, """ +
       """count(DISTINCT lg)::BIGINT AS n_langs FROM nguess GROUP BY dom), """ +
       """nlc AS (SELECT dom, lg, count(*)::BIGINT AS c FROM nguess GROUP BY 1, 2), """ +
       """ntop AS (SELECT dom, lg AS top_lang, c AS top_lang_docs FROM """ +
       """(SELECT *, row_number() OVER (PARTITION BY dom ORDER BY c DESC, lg) AS rn FROM nlc) WHERE rn = 1) """ +
       """SELECT m.dom, m.n_docs, m.n_tokens, m.n_chars, m.n_dup_docs, """ +
       """m.n_langs, t.top_lang, t.top_lang_docs, COALESCE(nnd.nn, 0)::BIGINT AS n_neardup_docs """ +
       """FROM nmain m JOIN ntop t USING (dom) LEFT JOIN nnd USING (dom) ORDER BY dom"""),

    "x_text_quality" ->
      (s"""WITH f AS (SELECT doc_id, length(text)::BIGINT AS n_chars, len($TOK)::BIGINT AS n_tokens, """ +
       """length(regexp_replace(text, '\s', '', 'g'))::BIGINT AS n_nospace, """ +
       """length(regexp_replace(text, '[^.,!?;:]', '', 'g'))::BIGINT AS n_punct, """ +
       """length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT AS n_digit, """ +
       s"""len(list_filter($TOK, t -> list_contains($EN_STOP, t)))::BIGINT AS n_stop FROM documents) """ +
       """SELECT doc_id, n_chars, n_tokens, """ +
       """CAST(n_nospace AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len, """ +
       """CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE) AS punct_ratio, """ +
       """CAST(n_digit AS DOUBLE) / CAST(n_chars AS DOUBLE) AS digit_ratio, """ +
       """CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stopword_ratio, """ +
       """least(1.0, CAST(n_tokens AS DOUBLE) / 200.0) * 0.5 """ +
       """+ (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 2.0 """ +
       """- (CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.5 AS quality_score """ +
       """FROM f ORDER BY doc_id"""),

    "x_token_count" ->
      (s"""SELECT doc_id, len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))::BIGINT AS n_bpe, """ +
       s"""len($TOK)::BIGINT AS n_ws FROM documents ORDER BY doc_id"""),

    "x_bpe_pairs" ->
      (s"""WITH $bpePairCtes """ +
       """SELECT l, r, sum(cnt)::BIGINT AS cnt FROM pp GROUP BY 1, 2 """ +
       """ORDER BY cnt DESC, l, r LIMIT 30"""),

    // mirrors BOTH learnBpe dials, not just the argmax: the dictionary
    // cap (top-65536 words by count desc, word asc) and the
    // minPairCount >= 2 stop — so the gate stays exact at any scale
    // factor, not only while the corpus vocabulary is under the cap
    "x_bpe_learn1" ->
      (s"""WITH wf0 AS (SELECT w AS word, count(*) AS cnt FROM """ +
       s"""(SELECT unnest($TOK) AS w FROM documents) WHERE w <> '' GROUP BY 1), """ +
       """wf AS (SELECT word, cnt FROM wf0 ORDER BY cnt DESC, word LIMIT 65536), """ +
       """pp AS (SELECT substr(word, i, 1) AS l, substr(word, i + 1, 1) AS r, cnt """ +
       """FROM (SELECT word, cnt, unnest(generate_series(1, len(word) - 1)) AS i """ +
       """FROM wf WHERE len(word) >= 2)) """ +
       """SELECT CAST(0 AS BIGINT) AS rank, l, r FROM pp GROUP BY l, r """ +
       """HAVING sum(cnt) >= 2 ORDER BY sum(cnt) DESC, l, r LIMIT 1"""),

    // rank-greedy BPE apply replayed as a recursive CTE: each word's
    // symbol list merges its minimum-rank adjacent pair (leftmost on
    // equal rank — list_position finds the first minimum) one step per
    // recursion level until no pair is in the merge map; the final
    // segmentation per word is the deepest step
    "x_bpe_encode" ->
      (s"""WITH RECURSIVE $bpeApplyCtes """ +
       """SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY widx, spos) AS tpos, token """ +
       """FROM toks ORDER BY doc_id, tpos"""),

    // deterministic vocabulary: corpus base symbols in binary order,
    // then merge products by rank (first rank wins a collision), dense
    // ids by position — replayed purely relationally
    "x_bpe_vocab" ->
      (s"""WITH $bpeVocabCtes SELECT token_id, token FROM vocab ORDER BY token_id"""),

    // id-emitting tokenizer: the recursive apply CTE joined to the
    // vocabulary — DuckDB replays the dense-id mapping the TokenIds
    // kernel computes (coalesce(-1) = the kernel's OOV convention)
    "x_bpe_ids" ->
      (s"""WITH RECURSIVE $bpeApplyCtes, $bpeVocabCtes, """ +
       """enc AS (SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY widx, spos) AS tpos, token FROM toks) """ +
       """SELECT e.doc_id, e.tpos, COALESCE(v.token_id, -1) AS token_id """ +
       """FROM enc e LEFT JOIN vocab v ON e.token = v.token ORDER BY doc_id, tpos"""),

    // the model-token context windows: the x_bpe_ids chain's per-doc
    // id sequences, the (salt "bw") permutation over ALL documents
    // (token-less docs hold a position with zero footprint), global
    // offsets, then window = tg // 128 / slot = tg % 128
    "x_bpe_windows" ->
      (s"""WITH RECURSIVE $bpeApplyCtes, $bpeVocabCtes, """ +
       """enc AS (SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY widx, spos) AS tpos, token FROM toks), """ +
       """idseq AS (SELECT e.doc_id, e.tpos, COALESCE(v.token_id, -1) AS tid """ +
       """FROM enc e LEFT JOIN vocab v ON e.token = v.token), """ +
       """dcnt AS (SELECT doc_id, count(*) AS n FROM idseq GROUP BY 1), """ +
       s"""dpos AS (SELECT d.doc_id, COALESCE(c.n, 0) AS n, (row_number() OVER (ORDER BY d.k % 32, d.k, d.doc_id) - 1) AS p """ +
       s"""FROM (SELECT doc_id, ${h60sql("'shuffle:bw:' || CAST(doc_id AS VARCHAR)")} AS k FROM documents) d """ +
       """LEFT JOIN dcnt c USING (doc_id)), """ +
       """doff AS (SELECT doc_id, COALESCE(SUM(n) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o FROM dpos), """ +
       """gt AS (SELECT (f.o + i.tpos - 1) AS tg, i.tid FROM idseq i JOIN doff f USING (doc_id)) """ +
       """SELECT (tg // 128)::BIGINT AS window_id, (tg % 128)::BIGINT AS slot, """ +
       """tid AS token_id FROM gt ORDER BY window_id, slot"""),

    // sequence packing by REAL tokenizer tokens: per-doc BPE token
    // counts from the apply CTE (token-free docs count 0 via the left
    // join), then the same contiguous-pack window as x_sample_pack
    "x_bpe_pack" ->
      (s"""WITH RECURSIVE $bpeApplyCtes, """ +
       """cnts AS (SELECT d.doc_id, COALESCE(d.lang, '') AS lang, COALESCE(t.n, 0)::BIGINT AS n_bpe """ +
       """FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1) t ON d.doc_id = t.doc_id), """ +
       """o AS (SELECT *, COALESCE(SUM(n_bpe) OVER (PARTITION BY lang ORDER BY doc_id """ +
       """ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pack_offset FROM cnts) """ +
       """SELECT doc_id, lang, n_bpe, pack_offset, pack_offset // 512 AS pack_id """ +
       """FROM o ORDER BY doc_id"""),

    // model-token chunking: per-word token counts off the apply CTE,
    // then the greedy budget walk replayed as a second recursive CTE
    // (first word of a chunk always accepted — an overlong word chunks
    // alone); word-free docs keep one empty chunk
    "x_bpe_chunk" ->
      (s"""WITH RECURSIVE $bpeApplyCtes, """ +
       """wcnt AS (SELECT doc_id, widx, count(*) AS c FROM toks GROUP BY 1, 2), """ +
       """wseq AS MATERIALIZED (SELECT w.doc_id, row_number() OVER (PARTITION BY w.doc_id ORDER BY w.widx) AS seq, w.w, wc.c """ +
       """FROM words w JOIN wcnt wc ON w.doc_id = wc.doc_id AND w.widx = wc.widx), """ +
       """walk AS (SELECT doc_id, seq, w, c, 0::BIGINT AS chunk_id, c AS running FROM wseq WHERE seq = 1 """ +
       """UNION ALL SELECT s.doc_id, s.seq, s.w, s.c, """ +
       """CASE WHEN p.running + s.c > 64 THEN p.chunk_id + 1 ELSE p.chunk_id END, """ +
       """CASE WHEN p.running + s.c > 64 THEN s.c ELSE p.running + s.c END """ +
       """FROM walk p JOIN wseq s ON s.doc_id = p.doc_id AND s.seq = p.seq + 1) """ +
       """SELECT doc_id, chunk_id, string_agg(w, ' ' ORDER BY seq) AS chunk_text, sum(c)::BIGINT AS n_tokens """ +
       """FROM walk GROUP BY 1, 2 """ +
       """UNION ALL SELECT doc_id, 0::BIGINT, '', 0::BIGINT FROM documents """ +
       """WHERE doc_id NOT IN (SELECT doc_id FROM words) """ +
       """ORDER BY doc_id, chunk_id"""),

    // decode(encode_ids(text)) == encode(text): the id mapping is
    // lossless on the training corpus, so the token-stream oracle is
    // x_bpe_encode's verbatim
    "x_bpe_decode" ->
      (s"""WITH RECURSIVE $bpeApplyCtes """ +
       """SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY widx, spos) AS tpos, token """ +
       """FROM toks ORDER BY doc_id, tpos"""),

    // total encoding under byte fallback: the apply chain runs over the
    // suffix-modified documents, the vocab over the ORIGINAL corpus
    // (that asymmetry is the point — the suffix words are post-training
    // data); a token missing from the vocab decomposes into its UTF-8
    // bytes arithmetically from unicode(token) (sound because an OOV
    // token is always a single unseen code point — merges only produce
    // in-vocab strings) and each byte joins the vocab by its
    // `<0xNN>` form
    "x_bpe_fallback" ->
      (s"""WITH RECURSIVE ${bpeApplyCtesOver(
            s"(SELECT doc_id, text || '$bpeOovSuffix' AS text FROM documents)")}, """ +
       s"""$bpeVocabFbCtes, """ +
       """oov AS (SELECT doc_id, widx, spos, unicode(token) AS cp FROM toks WHERE token NOT IN (SELECT token FROM vocab)), """ +
       """oovb AS (SELECT doc_id, widx, spos, CASE WHEN cp < 128 THEN [cp] """ +
       """WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64] """ +
       """WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64, 128 + cp % 64] """ +
       """ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64, 128 + (cp // 64) % 64, 128 + cp % 64] END AS bs FROM oov), """ +
       """expb AS (SELECT doc_id, widx, spos, generate_subscripts(bs, 1) AS bord, unnest(bs) AS b FROM oovb), """ +
       """exp AS (SELECT t.doc_id, t.widx, t.spos, 0 AS bord, v.token_id FROM toks t JOIN vocab v ON t.token = v.token """ +
       """UNION ALL SELECT e.doc_id, e.widx, e.spos, e.bord, v.token_id FROM expb e JOIN vocab v ON printf('<0x%02X>', e.b) = v.token) """ +
       """SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY widx, spos, bord) AS tpos, token_id::BIGINT AS token_id """ +
       """FROM exp ORDER BY doc_id, tpos"""),

    // packing with the per-document separator budgeted: the window sums
    // n_bpe + 1 — one EOS per document in the laid-out token stream
    "x_bpe_pack_sep" ->
      (s"""WITH RECURSIVE $bpeApplyCtes, """ +
       """cnts AS (SELECT d.doc_id, COALESCE(d.lang, '') AS lang, COALESCE(t.n, 0)::BIGINT AS n_bpe """ +
       """FROM documents d LEFT JOIN (SELECT doc_id, count(*) AS n FROM toks GROUP BY 1) t ON d.doc_id = t.doc_id), """ +
       """o AS (SELECT *, COALESCE(SUM(n_bpe + 1) OVER (PARTITION BY lang ORDER BY doc_id """ +
       """ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pack_offset FROM cnts) """ +
       """SELECT doc_id, lang, n_bpe, pack_offset, pack_offset // 512 AS pack_id """ +
       """FROM o ORDER BY doc_id"""),

    // chunking with 3 of the 64-token window reserved for separators:
    // the same greedy walk against the 61-token content budget
    "x_bpe_chunk_sep" ->
      (s"""WITH RECURSIVE $bpeApplyCtes, """ +
       """wcnt AS (SELECT doc_id, widx, count(*) AS c FROM toks GROUP BY 1, 2), """ +
       """wseq AS MATERIALIZED (SELECT w.doc_id, row_number() OVER (PARTITION BY w.doc_id ORDER BY w.widx) AS seq, w.w, wc.c """ +
       """FROM words w JOIN wcnt wc ON w.doc_id = wc.doc_id AND w.widx = wc.widx), """ +
       """walk AS (SELECT doc_id, seq, w, c, 0::BIGINT AS chunk_id, c AS running FROM wseq WHERE seq = 1 """ +
       """UNION ALL SELECT s.doc_id, s.seq, s.w, s.c, """ +
       """CASE WHEN p.running + s.c > 61 THEN p.chunk_id + 1 ELSE p.chunk_id END, """ +
       """CASE WHEN p.running + s.c > 61 THEN s.c ELSE p.running + s.c END """ +
       """FROM walk p JOIN wseq s ON s.doc_id = p.doc_id AND s.seq = p.seq + 1) """ +
       """SELECT doc_id, chunk_id, string_agg(w, ' ' ORDER BY seq) AS chunk_text, sum(c)::BIGINT AS n_tokens """ +
       """FROM walk GROUP BY 1, 2 """ +
       """UNION ALL SELECT doc_id, 0::BIGINT, '', 0::BIGINT FROM documents """ +
       """WHERE doc_id NOT IN (SELECT doc_id FROM words) """ +
       """ORDER BY doc_id, chunk_id"""),

    // the persisted model card replayed: merge count from the shared
    // literal, vocab/alphabet sizes from the vocab CTE, covered/total
    // mass from the maxWords=1000 dictionary cut (count desc, word asc),
    // covered_frac as the same bigint/bigint -> double division
    "x_bpe_card" ->
      (s"""WITH $bpeVocabCtes, """ +
       s"""cwf AS (SELECT w AS word, count(*)::BIGINT AS cnt FROM """ +
       s"""(SELECT unnest($TOK) AS w FROM documents) WHERE w <> '' GROUP BY 1), """ +
       """tot AS (SELECT COALESCE(sum(cnt), 0)::BIGINT AS total_mass FROM cwf), """ +
       """cov AS (SELECT COALESCE(sum(cnt), 0)::BIGINT AS covered_mass FROM """ +
       """(SELECT cnt FROM cwf ORDER BY cnt DESC, word LIMIT 1000)) """ +
       s"""SELECT (SELECT count(*) FROM (VALUES $bpeMergesValues) t(rnk, l, r))::BIGINT AS n_merges, """ +
       """(SELECT count(*) FROM vocab)::BIGINT AS vocab_size, """ +
       """(SELECT count(*) FROM vocab WHERE length(token) = 1)::BIGINT AS alphabet_size, """ +
       """covered_mass, total_mass, """ +
       """CASE WHEN total_mass = 0 THEN -1.0 ELSE covered_mass / total_mass END AS covered_frac, """ +
       """FALSE AS byte_fallback, 0::BIGINT AS n_specials FROM cov, tot"""),

    "x_fingerprint" ->
      (s"""SELECT doc_id, md5(text) AS md5, ${h60sql("text")} AS h60, """ +
       """length(text)::BIGINT AS n_chars FROM documents ORDER BY doc_id"""),

    "x_contamination" -> contaminationOracle,

    // the Bloom prefilter has no false negatives: bit-identical result
    "x_contamination_bloom" -> contaminationOracle,

    // persisted benchmark index: a materialization detail invisible to
    // the result — identical output, shared oracle
    "x_contamination_indexed" -> contaminationOracle,

    // token-space decontamination of the window stream: windows
    // replayed from the global-offset chain, 5-gram sets on both
    // sides, distinct intersection counts
    "x_contamination_windows" ->
      (s"""WITH $tokenStreamChain, """ +
       """wl AS (SELECT (tg // 64) AS w, list(t ORDER BY tg) AS wts FROM tok GROUP BY 1), """ +
       """wgr AS (SELECT w, unnest(list_transform(generate_series(1, greatest(len(wts) - 4, 1)), """ +
       """i -> array_to_string(wts[i:i+4], ' '))) AS g FROM wl), """ +
       s"""wg AS (SELECT DISTINCT w, ${h60sql("g")} AS h FROM wgr), """ +
       """wn AS (SELECT w, count(*) AS n_sh FROM wg GROUP BY 1), """ +
       s"""bt AS (SELECT doc_id AS bench_id, $TOK AS l FROM documents WHERE doc_id < 12), """ +
       """bgr AS (SELECT bench_id, unnest(list_transform(generate_series(1, greatest(len(l) - 4, 1)), """ +
       """i -> array_to_string(l[i:i+4], ' '))) AS g FROM bt), """ +
       s"""bg AS (SELECT DISTINCT bench_id, ${h60sql("g")} AS h FROM bgr), """ +
       """j AS (SELECT wg.w, bg.bench_id, count(*) AS shared FROM wg JOIN bg USING (h) GROUP BY 1, 2) """ +
       """SELECT j.w::BIGINT AS window_id, j.bench_id, j.shared::BIGINT AS shared, """ +
       """wn.n_sh::BIGINT AS n_sh FROM j JOIN wn USING (w) """ +
       """WHERE j.shared >= 2 ORDER BY window_id, bench_id"""),

    // the ingestion round trips: what comes back through the
    // normalizer must BE the parquet originals
    "x_source_jsonl" ->
      "SELECT doc_id, text, source FROM documents ORDER BY doc_id",

    "x_source_csv" ->
      "SELECT doc_id, text, source FROM documents ORDER BY doc_id",

    "x_source_jsonl_ids" ->
      (s"""SELECT ${h60sql("'ing:' || text")} AS doc_id, text """ +
       """FROM documents ORDER BY doc_id, text"""),

    // the crawl round trip: host and uri re-derived, doc_id the salted
    // uri hash
    "x_source_wet" ->
      ("""WITH w AS (SELECT 'https://' || source || '.example/' || CAST(doc_id AS VARCHAR) AS uri, """ +
       """text, source || '.example' AS host FROM documents) """ +
       s"""SELECT ${h60sql("'wet:' || uri")} AS doc_id, text, host AS source, uri """ +
       """FROM w ORDER BY uri"""),

    "x_sample_bottomk" ->
      (s"""SELECT doc_id, lang, source FROM (SELECT doc_id, lang, source, """ +
       s"""row_number() OVER (ORDER BY ${h60sql("'bottomk::' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn """ +
       """FROM documents WHERE doc_id IS NOT NULL) WHERE rn <= 50 ORDER BY doc_id"""),

    "x_sample_bottomk_group" ->
      (s"""SELECT doc_id, source FROM (SELECT doc_id, source, """ +
       s"""row_number() OVER (PARTITION BY source ORDER BY ${h60sql("'bottomk::' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rn """ +
       """FROM documents WHERE doc_id IS NOT NULL) WHERE rn <= 10 ORDER BY doc_id"""),

    "x_sample_stratified" ->
      (s"""SELECT doc_id, lang, source FROM documents """ +
       s"""WHERE ${h60sql("'sample:' || COALESCE(lang, '') || ':' || CAST(doc_id AS VARCHAR)")} % 1000000 < """ +
       """CASE lang WHEN 'en' THEN 300000 WHEN 'de' THEN 500000 WHEN 'fr' THEN 100000 """ +
       """WHEN 'zh' THEN 0 ELSE 250000 END ORDER BY doc_id"""),

    // the same 201-row bottom-k-by-hash sample, DuckDB's interpolated
    // quantile over it; probs cast to DOUBLE[] to match Spark's dtype
    "x_quantile_sample" ->
      (s"""WITH smp AS (SELECT n_chars FROM documents WHERE doc_id IS NOT NULL """ +
       s"""ORDER BY ${h60sql("'bottomk::' || CAST(doc_id AS VARCHAR)")}, doc_id LIMIT 201) """ +
       """SELECT p, round(v, 6) AS value FROM (SELECT """ +
       """unnest([0.25, 0.5, 0.75, 0.9]::DOUBLE[]) AS p, """ +
       """unnest(quantile_cont(n_chars, [0.25, 0.5, 0.75, 0.9])) AS v FROM smp) ORDER BY p"""),

    // mixture thresholds recomputed in SQL: per-domain counts -> rate =
    // min(1, frac*nOut/c) -> the same round(rate*1e6) integer threshold
    // (all arithmetic forced to DOUBLE to mirror the Scala driver side)
    "x_sample_mixture" ->
      ("""WITH cnt AS (SELECT source AS dm, count(*)::BIGINT AS c FROM documents """ +
       """WHERE source IN ('src0', 'src1', 'src2') AND doc_id IS NOT NULL GROUP BY 1), """ +
       """thr AS (SELECT dm, CAST(round(least(1.0::DOUBLE, """ +
       """((CASE dm WHEN 'src0' THEN 0.5 WHEN 'src1' THEN 0.3 ELSE 0.2 END)::DOUBLE * 60.0) """ +
       """/ c::DOUBLE) * 1000000.0) AS BIGINT) AS t FROM cnt) """ +
       """SELECT doc_id, source FROM documents JOIN thr ON source = dm """ +
       s"""WHERE ${h60sql("'sample:' || COALESCE(source, '') || ':' || CAST(doc_id AS VARCHAR)")} % 1000000 < t """ +
       """ORDER BY doc_id"""),

    "x_vocab" ->
      (s"""SELECT t AS token, count(*) AS cnt FROM (SELECT unnest($TOK) AS t FROM documents) """ +
       """WHERE t <> '' GROUP BY 1 HAVING count(*) >= 5 ORDER BY cnt DESC, token LIMIT 100"""),

    "x_normalize" ->
      ("""SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(""" +
       """'  lead' || chr(9) || chr(9) || ' mid  ' || chr(10) || ' ' || chr(10) || chr(10) || chr(10) || text || '  ' || chr(9), """ +
       """'[ \t]+', ' ', 'g'), ' ?\n ?', chr(10), 'g'), '\n{3,}', chr(10) || chr(10), 'g')) AS text_norm """ +
       """FROM documents ORDER BY doc_id"""),

    "x_profile" ->
      (s"""WITH c AS (SELECT COALESCE(lang, '') AS lang, len($TOK)::BIGINT AS v FROM documents), """ +
       """r AS (SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn, """ +
       """count(*) OVER (PARTITION BY lang) AS n FROM c WHERE v IS NOT NULL) """ +
       """SELECT lang, count(*) AS n, min(v) AS min, max(v) AS max, """ +
       """max(CASE WHEN rn = ceil(0.25 * n) THEN v END) AS p25, """ +
       """max(CASE WHEN rn = ceil(0.5 * n) THEN v END) AS p50, """ +
       """max(CASE WHEN rn = ceil(0.9 * n) THEN v END) AS p90 """ +
       """FROM r GROUP BY 1 ORDER BY 1"""),

    "x_pii_scrub" ->
      ("""WITH src AS (SELECT doc_id, CASE """ +
       """WHEN doc_id % 3 = 0 THEN text || ' contact bob@example.com or https://ex.org/a?b=1 tel 5551234567' """ +
       """WHEN doc_id % 3 = 1 THEN 'from alice.smith+x@mail.co: ' || text """ +
       """ELSE text END AS text FROM documents), """ +
       """s1 AS (SELECT doc_id, text AS t0, regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1 FROM src), """ +
       """s2 AS (SELECT *, regexp_replace(t1, 'https?://[^ \t\r\n]+', '<URL>', 'g') AS t2 FROM s1) """ +
       """SELECT doc_id, """ +
       """len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_emails, """ +
       """len(regexp_extract_all(t1, 'https?://[^ \t\r\n]+'))::BIGINT AS n_urls, """ +
       """len(regexp_extract_all(t2, '[0-9]{7,}'))::BIGINT AS n_longnums, """ +
       """regexp_replace(t2, '[0-9]{7,}', '<NUM>', 'g') AS text_clean """ +
       """FROM s2 ORDER BY doc_id"""),

    "x_tfidf" ->
      (s"""WITH t AS (SELECT doc_id, unnest($TOK) AS token FROM documents WHERE doc_id < 100), """ +
       """tf AS (SELECT doc_id, token, count(*) AS tf FROM t WHERE token <> '' GROUP BY 1, 2), """ +
       """dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1), """ +
       """n AS (SELECT count(*) AS n_docs FROM documents WHERE doc_id < 100) """ +
       """SELECT tf.doc_id, tf.token, tf.tf, dfq.df, (SELECT n_docs FROM n)::BIGINT AS n_docs """ +
       """FROM tf JOIN dfq USING (token) ORDER BY tf.tf DESC, tf.token, tf.doc_id LIMIT 100"""),

    // DSIR log weights recomputed from scratch: hashed-bigram buckets,
    // add-one over the FIXED bucket space, decimal term sum
    "x_dsir_weights" ->
      (dsirCtes +
       """SELECT doc.doc_id, coalesce(sc.nf, 0)::BIGINT AS n_feats, """ +
       """round(CAST(sc.s AS DOUBLE), 6) AS log_weight """ +
       """FROM documents doc LEFT JOIN sc USING (doc_id) ORDER BY doc.doc_id"""),

    // DSIR resampling replayed: the Gumbel noise is a pure function of
    // (doc_id, seed) through the same public hash, so the oracle draws
    // the identical 50-document sample
    "x_dsir_resample" ->
      (dsirCtes.stripSuffix(" ") + ", " +
       s"""sel AS (SELECT doc_id, CAST(s AS DOUBLE) AS lw, CAST(s AS DOUBLE) """ +
       s"""+ -ln(-ln((${h60sql("doc_id::VARCHAR || ':0'")}::DOUBLE + 0.5) / 1152921504606848000.0)) AS key """ +
       """FROM sc ORDER BY key DESC, doc_id LIMIT 50) """ +
       """SELECT doc_id, round(lw, 6) AS log_weight, round(key, 6) AS gumbel_key """ +
       """FROM sel ORDER BY doc_id"""),

    // unigram LM scores recomputed from scratch: identical smoothing,
    // identical DECIMAL(28,12) term sum (order-free), double division
    // entropy recomputed from per-doc token frequencies: ln(n) - s/n
    // with the same decimal term-sum discipline
    "x_entropy" ->
      (s"""WITH toks AS (SELECT doc_id, unnest(list_filter($TOK, t -> t <> '')) AS token FROM documents), """ +
       """tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2), """ +
       """sc AS (SELECT doc_id, sum(tf)::BIGINT AS n, """ +
       """sum(CAST(tf * ln(tf::DOUBLE) AS DECIMAL(28,12))) AS s FROM tf GROUP BY 1) """ +
       """SELECT d.doc_id, coalesce(sc.n, 0)::BIGINT AS n_tokens, """ +
       """round(ln(sc.n::DOUBLE) - CAST(sc.s AS DOUBLE) / sc.n, 6) AS entropy """ +
       """FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id"""),

    // bigram LM recomputed from scratch: add-one over (context count +
    // unigram vocab size), same decimal term-sum discipline
    "x_lm_bigram" ->
      (s"""WITH toks AS (SELECT doc_id, list_filter($TOK, t -> t <> '') AS l FROM documents), """ +
       """pz AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 1), """ +
       """i -> struct_pack(v := l[i], w := l[i+1]))) AS bg FROM toks), """ +
       """pairs AS (SELECT doc_id, bg.v AS v, bg.w AS w FROM pz), """ +
       """dtf AS (SELECT doc_id, v, w, count(*)::BIGINT AS tf FROM pairs GROUP BY 1, 2, 3), """ +
       """bg AS (SELECT v, w, sum(tf)::BIGINT AS c_bg FROM dtf GROUP BY 1, 2), """ +
       """ug AS (SELECT t, count(*)::BIGINT AS c_ug FROM (SELECT unnest(l) AS t FROM toks) GROUP BY 1), """ +
       """tot AS (SELECT count(*)::BIGINT AS v_size FROM ug), """ +
       """sc AS (SELECT dtf.doc_id, """ +
       """sum(CAST(dtf.tf * ln((bg.c_bg + 1)::DOUBLE / (ug.c_ug + tot.v_size)::DOUBLE) AS DECIMAL(28,12))) AS s, """ +
       """sum(dtf.tf)::BIGINT AS n FROM dtf JOIN bg USING (v, w) JOIN ug ON ug.t = dtf.v, tot GROUP BY 1) """ +
       """SELECT d.doc_id, coalesce(sc.n, 0)::BIGINT AS n_bigrams, """ +
       """round(CAST(sc.s AS DOUBLE) / sc.n, 6) AS lm2_score """ +
       """FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id"""),

    "x_lm_trigram" ->
      (s"""WITH toks AS (SELECT doc_id, list_filter($TOK, t -> t <> '') AS l FROM documents), """ +
       """tz AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 2), """ +
       """i -> struct_pack(u := l[i], v := l[i+1], w := l[i+2]))) AS tg FROM toks), """ +
       """tri AS (SELECT doc_id, tg.u AS u, tg.v AS v, tg.w AS w FROM tz), """ +
       """dtf AS (SELECT doc_id, u, v, w, count(*)::BIGINT AS tf FROM tri GROUP BY 1, 2, 3, 4), """ +
       """tg AS (SELECT u, v, w, sum(tf)::BIGINT AS c_tg FROM dtf GROUP BY 1, 2, 3), """ +
       """bz AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(l) - 1), """ +
       """i -> struct_pack(u := l[i], v := l[i+1]))) AS bg FROM toks), """ +
       """bg AS (SELECT bg.u AS u, bg.v AS v, count(*)::BIGINT AS c_bg FROM bz GROUP BY 1, 2), """ +
       """ug AS (SELECT count(DISTINCT t)::BIGINT AS v_size FROM (SELECT unnest(l) AS t FROM toks)), """ +
       """sc AS (SELECT dtf.doc_id, """ +
       """sum(CAST(dtf.tf * ln((tg.c_tg + 1)::DOUBLE / (bg.c_bg + ug.v_size)::DOUBLE) AS DECIMAL(28,12))) AS s, """ +
       """sum(dtf.tf)::BIGINT AS n FROM dtf JOIN tg USING (u, v, w) JOIN bg ON bg.u = dtf.u AND bg.v = dtf.v, ug GROUP BY 1) """ +
       """SELECT d.doc_id, coalesce(sc.n, 0)::BIGINT AS n_trigrams, """ +
       """round(CAST(sc.s AS DOUBLE) / sc.n, 6) AS lm3_score """ +
       """FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id"""),

    "x_lm_score" ->
      (s"""WITH toks AS (SELECT doc_id, unnest(list_filter($TOK, t -> t <> '')) AS token FROM documents), """ +
       """tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2), """ +
       """vocab AS (SELECT token, sum(tf)::BIGINT AS c FROM tf GROUP BY 1), """ +
       """tot AS (SELECT coalesce(sum(c), 0)::BIGINT AS t_total, count(*)::BIGINT AS v_size FROM vocab), """ +
       """sc AS (SELECT tf.doc_id, """ +
       """sum(CAST(tf.tf * ln((v.c + 1)::DOUBLE / (tot.t_total + tot.v_size)::DOUBLE) AS DECIMAL(28,12))) AS s, """ +
       """sum(tf.tf)::BIGINT AS len FROM tf JOIN vocab v USING (token), tot GROUP BY 1) """ +
       """SELECT d.doc_id, coalesce(sc.len, 0)::BIGINT AS n_tokens, """ +
       """round(CAST(sc.s AS DOUBLE) / sc.len, 6) AS lm_score """ +
       """FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id"""),

    // chunking: window starts are generate_series(1, len-overlap, stride)
    // zipped with their subscript (DuckDB unnests in lockstep); slices
    // clamp at the list end exactly like Spark's slice
    "x_chunk" ->
      (s"""WITH t AS (SELECT doc_id, string_split_regex(lower(COALESCE(text, '')), '\\s+') AS l FROM documents), """ +
       """st AS (SELECT doc_id, l, """ +
       """unnest(generate_series(1, greatest(len(l) - 8, 1), 24)) AS s, """ +
       """generate_subscripts(generate_series(1, greatest(len(l) - 8, 1), 24), 1) - 1 AS chunk_id FROM t) """ +
       """SELECT doc_id, chunk_id::BIGINT AS chunk_id, array_to_string(l[s:s+31], ' ') AS chunk_text, """ +
       """least(len(l) - s + 1, 32)::BIGINT AS n_tokens FROM st ORDER BY doc_id, chunk_id"""),

    // distinct shingle-hashes per doc, doc-frequency, per-doc rollup —
    // the same terms as the engine, shingle windows clamped at list end
    "x_repeated_ngrams" ->
      ("""WITH src AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 """ +
       """THEN text || ' shared boilerplate sentence repeated across documents verbatim' """ +
       """ELSE text END AS text FROM documents), """ +
       """toks AS (SELECT doc_id, string_split_regex(lower(text), '\s+') AS l FROM src), """ +
       """sh AS (SELECT DISTINCT doc_id, """ +
       s"""${h60sql("s")} AS h FROM (SELECT doc_id, """ +
       """unnest(list_transform(generate_series(1, greatest(len(l) - 4, 1)), """ +
       """i -> array_to_string(l[i:i+4], ' '))) AS s FROM toks) z), """ +
       """fr AS (SELECT h, count(*) AS df FROM sh GROUP BY 1), """ +
       """fin AS (SELECT s.doc_id, count(*) AS n_distinct, """ +
       """SUM(CASE WHEN fr.df >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_repeated """ +
       """FROM sh s JOIN fr USING (h) GROUP BY 1) """ +
       """SELECT d.doc_id, COALESCE(fin.n_distinct, 0)::BIGINT AS n_distinct, """ +
       """COALESCE(fin.n_repeated, 0)::BIGINT AS n_repeated """ +
       """FROM documents d LEFT JOIN fin USING (doc_id) ORDER BY d.doc_id"""),

    // duplicated-SPAN removal: rebuild every document token-by-token —
    // positional shingle hashes, cross-doc doc-frequency, covered
    // positions (each dup occurrence spreads over its n tokens), then
    // an ordered string_agg of the surviving tokens; untouched docs
    // keep their raw text verbatim through the cd-null branch
    "x_substr_dedup" ->
      ("""WITH src AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 """ +
       """THEN text || ' shared boilerplate sentence repeated across documents verbatim' """ +
       """ELSE text END AS text FROM documents), """ +
       """toks AS (SELECT doc_id, text, string_split_regex(text, '\s+') AS l FROM src), """ +
       s"""occ AS (SELECT doc_id, i - 1 AS pos, ${h60sql("lower(array_to_string(l[i:i+4], ' '))")} AS h """ +
       """FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 4)) AS i FROM toks) z), """ +
       """fr AS (SELECT h FROM (SELECT h, count(DISTINCT doc_id) AS df FROM occ GROUP BY 1) WHERE df >= 2), """ +
       """cov AS (SELECT DISTINCT o.doc_id, o.pos + g.g AS cp FROM occ o JOIN fr USING (h) """ +
       """CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS g) g), """ +
       """tok AS (SELECT doc_id, i - 1 AS pos, l[i] AS t """ +
       """FROM (SELECT doc_id, l, unnest(generate_series(1, len(l))) AS i FROM toks) z2), """ +
       """kept AS (SELECT tk.doc_id, tk.pos, tk.t FROM tok tk LEFT JOIN cov c """ +
       """ON c.doc_id = tk.doc_id AND c.cp = tk.pos WHERE c.doc_id IS NULL), """ +
       """reb AS (SELECT doc_id, string_agg(t, ' ' ORDER BY pos) AS nt, count(*) AS kc FROM kept GROUP BY 1), """ +
       """cd AS (SELECT DISTINCT doc_id FROM cov) """ +
       """SELECT s.doc_id, CASE WHEN cd.doc_id IS NULL THEN s.text ELSE coalesce(r.nt, '') END AS text, """ +
       """(CASE WHEN cd.doc_id IS NULL THEN 0 ELSE len(string_split_regex(s.text, '\s+')) - coalesce(r.kc, 0) END)::BIGINT AS removed_tokens """ +
       """FROM src s LEFT JOIN cd USING (doc_id) LEFT JOIN reb r USING (doc_id) ORDER BY s.doc_id"""),

    // Naive Bayes classifier replayed end-to-end: class/bucket counts,
    // add-one log-likelihood ratios (seen-bucket table + the smoothed
    // default), document-count prior, decimal term sums — the exact
    // arithmetic of Classifier.trainNaiveBayes/scoreNaiveBayes
    "x_classify_nb" ->
      (nbOracleCtes +
       """SELECT te.doc_id, coalesce(sc.nf, 0)::BIGINT AS n_feats, round(sc.s, 6) AS nb_score, """ +
       """(CASE WHEN sc.s IS NULL THEN NULL WHEN sc.s > 0 THEN 1 ELSE 0 END)::BIGINT AS nb_pred """ +
       """FROM te LEFT JOIN sc USING (doc_id) ORDER BY te.doc_id"""),

    // the classifier-filtered ingest sink stores exactly the docs the
    // trained model scores positive — same CTE chain, filtered final
    // the streamed crawl ingest == the batch read, replayed from the
    // originals
    "x_stream_wet_ingest" ->
      ("""WITH w AS (SELECT 'https://' || source || '.example/' || CAST(doc_id AS VARCHAR) AS uri, """ +
       """text, source || '.example' AS host FROM documents) """ +
       s"""SELECT ${h60sql("'wet:' || uri")} AS doc_id, text, host AS source, uri """ +
       """FROM w ORDER BY uri"""),

    // the decontamination sink's landed set: every doc minus those
    // sharing >= 2 distinct trigram hashes with any bench doc (< 20)
    "x_stream_contamination" ->
      (s"""WITH toks AS (SELECT doc_id, $TOK AS l FROM documents), """ +
       """shr AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 1)), """ +
       """i -> array_to_string(l[i:i+2], ' '))) AS t FROM toks), """ +
       s"""sh AS (SELECT DISTINCT doc_id, ${h60sql("t")} AS h FROM shr), """ +
       """b AS (SELECT doc_id AS bench_id, h FROM sh WHERE doc_id < 20), """ +
       """j AS (SELECT s.doc_id, b.bench_id, count(*) AS shared FROM sh s JOIN b ON s.h = b.h GROUP BY 1, 2), """ +
       """dirty AS (SELECT DISTINCT doc_id FROM j WHERE shared >= 2) """ +
       """SELECT doc_id FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM dirty) """ +
       """ORDER BY doc_id"""),

    "x_stream_classify" ->
      (nbOracleCtes +
       """SELECT te.doc_id FROM te JOIN sc USING (doc_id) WHERE sc.s > 0 ORDER BY te.doc_id"""),

    "x_repetition" ->
      (s"""WITH toks AS (SELECT doc_id, $TOK AS l FROM documents), """ +
       """g AS (SELECT doc_id, greatest(len(l) - 2, 1)::BIGINT AS n_grams FROM toks), """ +
       """shr AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 1)), """ +
       """i -> array_to_string(l[i:i+2], ' '))) AS t FROM toks), """ +
       """m AS (SELECT doc_id, max(c)::BIGINT AS max_rep FROM """ +
       """(SELECT doc_id, t, count(*) AS c FROM shr GROUP BY 1, 2) GROUP BY 1) """ +
       """SELECT g.doc_id, g.n_grams, m.max_rep FROM g JOIN m USING (doc_id) ORDER BY doc_id"""),

    // the Count-Min build and lookup mirrored term-for-term: row-salted
    // portable bucket hash, exact counter sums, min over rows
    "x_sketch_countmin" -> countMinOracle,

    // the streamed sketch merges to the cell-identical table, so the
    // probe estimates share the one-shot oracle verbatim
    "x_stream_countmin" -> countMinOracle,

    // heavy hitters: the engine's sketch prefilter is invisible to the
    // result by construction — the oracle is the plain exact HAVING
    "x_sketch_heavyhitters" ->
      (s"""SELECT t AS token, count(*) AS cnt FROM (SELECT unnest($TOK) AS t FROM documents) """ +
       """WHERE t IS NOT NULL AND t <> '' GROUP BY 1 HAVING count(*) >= 100 """ +
       """ORDER BY cnt DESC, token"""),

    "x_sketch_distinct" ->
      (s"""WITH t AS (SELECT COALESCE(lang, '') AS lang, unnest($TOK) AS tok FROM documents), """ +
       s"""h AS (SELECT DISTINCT lang, ${h60sql("tok")} AS h FROM t WHERE tok <> ''), """ +
       """r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM h), """ +
       """x AS (SELECT lang, count(*) AS exact, max(CASE WHEN rn = 256 THEN h END) AS hk FROM r GROUP BY 1) """ +
       """SELECT lang, CASE WHEN exact < 256 THEN exact """ +
       """ELSE CAST(floor(255 * 1152921504606846976.0 / hk + 0.5) AS BIGINT) END AS est_distinct, """ +
       """exact AS exact_distinct FROM x ORDER BY lang"""),

    // KMV overlap replayed exactly: the union k-min via a row_number
    // window with per-side membership flags, then the same floor(·+0.5)
    // estimator arithmetic — all six values bit-for-bit
    "x_sketch_overlap" ->
      (s"""WITH toks AS (SELECT doc_id, $TOK AS l FROM documents), """ +
       """shr AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(l) - 2, 1)), """ +
       """i -> array_to_string(l[i:i+2], ' '))) AS t FROM toks), """ +
       s"""ha AS (SELECT DISTINCT ${h60sql("t")} AS h FROM shr WHERE doc_id % 2 = 0), """ +
       s"""hb AS (SELECT DISTINCT ${h60sql("t")} AS h FROM shr WHERE doc_id % 2 = 1), """ +
       """un AS (SELECT h, max(a) AS in_a, max(b) AS in_b FROM """ +
       """(SELECT h, 1 AS a, 0 AS b FROM ha UNION ALL SELECT h, 0 AS a, 1 AS b FROM hb) u GROUP BY 1), """ +
       """r AS (SELECT h, in_a, in_b, row_number() OVER (ORDER BY h) AS rn FROM un), """ +
       """ag AS (SELECT count(*) AS total, least(count(*), 256) AS nk, """ +
       """count(*) FILTER (WHERE rn <= 256 AND in_a = 1 AND in_b = 1) AS inter, """ +
       """max(CASE WHEN rn = 256 THEN h END) AS hk FROM r), """ +
       """ue AS (SELECT *, CASE WHEN total < 256 THEN total """ +
       """ELSE CAST(floor(255 * 1152921504606846976.0 / hk + 0.5) AS BIGINT) END AS union_est FROM ag) """ +
       """SELECT 256::BIGINT AS k, nk::BIGINT AS n_kmin, union_est::BIGINT AS union_est, """ +
       """inter::BIGINT AS inter_kmin, """ +
       """CAST(inter AS DOUBLE) / CAST(nk AS DOUBLE) AS jaccard_est, """ +
       """CAST(floor(CAST(inter AS DOUBLE) / CAST(nk AS DOUBLE) * CAST(union_est AS DOUBLE) + 0.5) AS BIGINT) AS inter_est """ +
       """FROM ue"""),

    "x_sample_pack" ->
      (s"""WITH c AS (SELECT doc_id, COALESCE(source, '') AS source, len($TOK)::BIGINT AS n_tokens FROM documents), """ +
       """o AS (SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id """ +
       """ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pack_offset FROM c) """ +
       """SELECT doc_id, source, n_tokens, pack_offset, pack_offset // 4096 AS pack_id """ +
       """FROM o ORDER BY doc_id"""),

    // epoch mixing replayed: integer floor + the hash-bucket coin under
    // the driver-fixed round(frac*1e6) thresholds, copies via range()
    "x_sample_repeat" ->
      ("""WITH base AS (SELECT doc_id, source, """ +
       """(CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 0 WHEN 'src2' THEN 1 ELSE 0 END """ +
       s"""+ CASE WHEN (${h60sql("'epoch::' || COALESCE(source, '') || ':' || CAST(doc_id AS VARCHAR)")} % 1000000) < """ +
       """(CASE source WHEN 'src0' THEN 500000 WHEN 'src1' THEN 400000 WHEN 'src2' THEN 0 ELSE 250000 END) """ +
       """THEN 1 ELSE 0 END)::BIGINT AS n FROM documents WHERE doc_id IS NOT NULL) """ +
       """SELECT doc_id, source, epoch FROM """ +
       """(SELECT doc_id, source, unnest(range(0, n)) AS epoch FROM base WHERE n >= 1) """ +
       """ORDER BY doc_id, epoch"""),

    // the assembly recipe replayed stage by stage: budget-selection
    // window -> floor+coin copies via range() -> the pack window over
    // (n_tok + 1) separator-budgeted copy footprints
    "x_pipeline_recipe" ->
      (s"""WITH base AS (SELECT doc_id, COALESCE(source, '') AS source, n_chars::BIGINT AS score, """ +
       s"""len($TOK)::BIGINT AS n_tok FROM documents), """ +
       """sel AS (SELECT doc_id, source, n_tok FROM (SELECT *, """ +
       """SUM(n_tok) OVER (PARTITION BY source ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS ct """ +
       """FROM base) WHERE ct <= 1024), """ +
       """mix AS (SELECT doc_id, source, n_tok, """ +
       """(CASE source WHEN 'src0' THEN 2 WHEN 'src1' THEN 1 WHEN 'src2' THEN 0 ELSE 1 END """ +
       s"""+ CASE WHEN (${h60sql("'epoch::' || source || ':' || CAST(doc_id AS VARCHAR)")} % 1000000) < """ +
       """(CASE source WHEN 'src0' THEN 0 WHEN 'src1' THEN 500000 WHEN 'src2' THEN 500000 ELSE 0 END) """ +
       """THEN 1 ELSE 0 END)::BIGINT AS n FROM sel WHERE doc_id IS NOT NULL), """ +
       """cp AS (SELECT doc_id, source, n_tok, epoch FROM """ +
       """(SELECT doc_id, source, n_tok, unnest(range(0, n)) AS epoch FROM mix WHERE n >= 1)), """ +
       """o AS (SELECT *, COALESCE(SUM(n_tok + 1) OVER (PARTITION BY source ORDER BY doc_id, epoch """ +
       """ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS pack_offset FROM cp) """ +
       """SELECT doc_id, epoch, source, n_tok, pack_offset, pack_offset // 2048 AS pack_id """ +
       """FROM o ORDER BY doc_id, epoch"""),

    // the shard recipe replayed stage by stage: budget-selection window
    // -> the global (key mod 32, key, id) rank -> shard = pos mod 8 ->
    // per-shard rollup
    "x_pipeline_shard" ->
      (s"""WITH base AS (SELECT doc_id, COALESCE(source, '') AS source, n_chars::BIGINT AS score, """ +
       s"""len($TOK)::BIGINT AS n_tok FROM documents), """ +
       """sel AS (SELECT doc_id, n_tok FROM (SELECT *, """ +
       """SUM(n_tok) OVER (PARTITION BY source ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS ct """ +
       """FROM base) WHERE ct <= 4096), """ +
       s"""pos AS (SELECT doc_id, n_tok, (row_number() OVER (ORDER BY k % 32, k, doc_id) - 1) AS p """ +
       s"""FROM (SELECT doc_id, n_tok, ${h60sql("'shuffle:shard:' || CAST(doc_id AS VARCHAR)")} AS k FROM sel)) """ +
       """SELECT (p % 8)::BIGINT AS shard, count(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tokens, """ +
       """min(doc_id) AS min_doc, max(doc_id) AS max_doc """ +
       """FROM pos GROUP BY 1 ORDER BY 1"""),

    // the shard WRITER's committed manifest replayed per shard: same
    // selection window + global rank + mod-8 assignment as
    // x_pipeline_shard, plus the position range and the 64-row
    // file-split law (files per shard = ceil(rows/64))
    "x_shard_write" ->
      (s"""WITH base AS (SELECT doc_id, COALESCE(source, '') AS source, n_chars::BIGINT AS score, """ +
       s"""len($TOK)::BIGINT AS n_tok FROM documents), """ +
       """sel AS (SELECT doc_id, n_tok FROM (SELECT *, """ +
       """SUM(n_tok) OVER (PARTITION BY source ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS ct """ +
       """FROM base) WHERE ct <= 4096), """ +
       s"""pos AS (SELECT doc_id, n_tok, (row_number() OVER (ORDER BY k % 32, k, doc_id) - 1) AS p """ +
       s"""FROM (SELECT doc_id, n_tok, ${h60sql("'shuffle:shard:' || CAST(doc_id AS VARCHAR)")} AS k FROM sel)) """ +
       """SELECT (p % 8)::BIGINT AS shard, ((count(*) + 63) // 64)::BIGINT AS n_files, """ +
       """count(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tokens, """ +
       """min(p)::BIGINT AS min_pos, max(p)::BIGINT AS max_pos, """ +
       """min(doc_id) AS min_doc, max(doc_id) AS max_doc """ +
       """FROM pos GROUP BY 1 ORDER BY 1"""),

    // the written tree read back row-for-row: the same selection +
    // permutation, each row with its shard directory
    "x_shard_read" ->
      (s"""WITH base AS (SELECT doc_id, COALESCE(source, '') AS source, n_chars::BIGINT AS score, """ +
       s"""len($TOK)::BIGINT AS n_tok FROM documents), """ +
       """sel AS (SELECT doc_id, n_tok FROM (SELECT *, """ +
       """SUM(n_tok) OVER (PARTITION BY source ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS ct """ +
       """FROM base) WHERE ct <= 4096), """ +
       s"""pos AS (SELECT doc_id, n_tok, (row_number() OVER (ORDER BY k % 32, k, doc_id) - 1) AS p """ +
       s"""FROM (SELECT doc_id, n_tok, ${h60sql("'shuffle:shard:' || CAST(doc_id AS VARCHAR)")} AS k FROM sel)) """ +
       """SELECT doc_id, n_tok, p::BIGINT AS shuffle_pos, (p % 8)::BIGINT AS shard """ +
       """FROM pos ORDER BY doc_id"""),

    // the audit's expected one-row report: manifest and tree totals
    // both equal the selection/shuffle replay, zero file mismatches
    "x_shard_verify" ->
      (s"""WITH base AS (SELECT doc_id, COALESCE(source, '') AS source, n_chars::BIGINT AS score, """ +
       s"""len($TOK)::BIGINT AS n_tok FROM documents), """ +
       """sel AS (SELECT doc_id, n_tok FROM (SELECT *, """ +
       """SUM(n_tok) OVER (PARTITION BY source ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS ct """ +
       """FROM base) WHERE ct <= 4096), """ +
       s"""pos AS (SELECT doc_id, n_tok, (row_number() OVER (ORDER BY k % 32, k, doc_id) - 1) AS p """ +
       s"""FROM (SELECT doc_id, n_tok, ${h60sql("'shuffle:shard:' || CAST(doc_id AS VARCHAR)")} AS k FROM sel)), """ +
       """sh AS (SELECT (p % 8) AS shard, count(*) AS n, SUM(n_tok)::BIGINT AS t FROM pos GROUP BY 1), """ +
       """tot AS (SELECT SUM(((n + 63) // 64))::BIGINT AS nf, SUM(n)::BIGINT AS nd, SUM(t)::BIGINT AS nt FROM sh) """ +
       """SELECT nf AS n_files, nd AS n_docs, nt AS n_tokens, """ +
       """nf AS tree_files, nd AS tree_docs, nt AS tree_tokens, """ +
       """0::BIGINT AS n_file_mismatch, TRUE AS ok FROM tot"""),

    // the resume slice replayed: the same selection/shuffle chain with
    // the [100, 300) position cut
    "x_shard_slice" ->
      (s"""WITH base AS (SELECT doc_id, COALESCE(source, '') AS source, n_chars::BIGINT AS score, """ +
       s"""len($TOK)::BIGINT AS n_tok FROM documents), """ +
       """sel AS (SELECT doc_id, n_tok FROM (SELECT *, """ +
       """SUM(n_tok) OVER (PARTITION BY source ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS ct """ +
       """FROM base) WHERE ct <= 4096), """ +
       s"""pos AS (SELECT doc_id, n_tok, (row_number() OVER (ORDER BY k % 32, k, doc_id) - 1) AS p """ +
       s"""FROM (SELECT doc_id, n_tok, ${h60sql("'shuffle:shard:' || CAST(doc_id AS VARCHAR)")} AS k FROM sel)) """ +
       """SELECT doc_id, n_tok, p::BIGINT AS shuffle_pos, (p % 8)::BIGINT AS shard """ +
       """FROM pos WHERE p >= 100 AND p < 300 ORDER BY shuffle_pos"""),

    // both LIVE epochs' manifests replayed: the 2048- and 1024-token
    // selection chains (same salt/buckets permutation law), rolled per
    // shard with the 8-row file-split law (files = ceil(rows/8))
    "x_shard_epochs" ->
      (s"""WITH $shardEpochChain, """ +
       """r1 AS (SELECT 1::BIGINT AS epoch, (p % 8)::BIGINT AS shard, """ +
       """((count(*) + 7) // 8)::BIGINT AS n_files, count(*) AS n_docs, """ +
       """SUM(n_tok)::BIGINT AS n_tokens, min(p)::BIGINT AS min_pos, max(p)::BIGINT AS max_pos """ +
       """FROM pos1 GROUP BY (p % 8)), """ +
       """r2 AS (SELECT 2::BIGINT AS epoch, (p % 8)::BIGINT AS shard, """ +
       """((count(*) + 7) // 8)::BIGINT AS n_files, count(*) AS n_docs, """ +
       """SUM(n_tok)::BIGINT AS n_tokens, min(p)::BIGINT AS min_pos, max(p)::BIGINT AS max_pos """ +
       """FROM pos2 GROUP BY (p % 8)) """ +
       """SELECT * FROM r1 UNION ALL SELECT * FROM r2 ORDER BY epoch, shard"""),

    // the pinned epoch-1 read: the 2048-token identity's rows exactly
    "x_shard_epoch_read" ->
      (s"""WITH $shardEpochChain """ +
       """SELECT doc_id, n_tok, p::BIGINT AS shuffle_pos, (p % 8)::BIGINT AS shard """ +
       """FROM pos1 ORDER BY doc_id"""),

    // the epoch diff: symmetric difference of the two live selections,
    // token counts from the holding epoch
    "x_shard_epoch_diff" ->
      (s"""WITH $shardEpochChain """ +
       """SELECT doc_id, 'removed' AS side, n_tok AS n_tokens FROM sel1 """ +
       """WHERE doc_id NOT IN (SELECT doc_id FROM sel2) """ +
       """UNION ALL """ +
       """SELECT doc_id, 'added' AS side, n_tok AS n_tokens FROM sel2 """ +
       """WHERE doc_id NOT IN (SELECT doc_id FROM sel1) """ +
       """ORDER BY doc_id"""),

    // the cross-epoch continuation: new epoch minus the documents in
    // the old epoch's consumed position prefix, in new-epoch order
    "x_shard_resume_epoch" ->
      (s"""WITH $shardEpochChain """ +
       """SELECT doc_id, n_tok, p::BIGINT AS shuffle_pos, (p % 8)::BIGINT AS shard """ +
       """FROM pos2 WHERE doc_id NOT IN (SELECT doc_id FROM pos1 WHERE p < 64) """ +
       """ORDER BY shuffle_pos"""),

    // the resume tail: latest epoch (1024-token identity), positions
    // [64, N)
    "x_shard_resume" ->
      (s"""WITH $shardEpochChain """ +
       """SELECT doc_id, n_tok, p::BIGINT AS shuffle_pos, (p % 8)::BIGINT AS shard """ +
       """FROM pos2 WHERE p >= 64 ORDER BY shuffle_pos"""),

    // token-stream context windows replayed token by token: global
    // offset -> window = tg // 64, slot = tg % 64 — every token's
    // window placement from one arithmetic chain
    "x_token_windows" ->
      (s"""WITH $tokenStreamChain """ +
       """SELECT (tg // 64)::BIGINT AS window_id, (tg % 64)::BIGINT AS pos_in_window, """ +
       """t AS token FROM tok ORDER BY window_id, pos_in_window"""),

    // the per-window rollup: token count (64 everywhere except the
    // tail), contributing documents, and their position range
    "x_token_window_stats" ->
      (s"""WITH $tokenStreamChain """ +
       """SELECT (tg // 64)::BIGINT AS window_id, count(*)::BIGINT AS n_tok, """ +
       """count(DISTINCT p)::BIGINT AS n_docs, min(p)::BIGINT AS min_pos, """ +
       """max(p)::BIGINT AS max_pos FROM tok GROUP BY 1 ORDER BY 1"""),

    // the in-window document boundaries: per (window, doc) — first
    // slot = min(tg) mod 64 (windows tile the stream, so the doc's
    // first in-window token fixes the slot), slot count = tokens held
    "x_token_window_spans" ->
      (s"""WITH $tokenStreamChain """ +
       """SELECT (tg // 64)::BIGINT AS window_id, p::BIGINT AS pos, """ +
       """(min(tg) % 64)::BIGINT AS start, count(*)::BIGINT AS len """ +
       """FROM tok GROUP BY 1, 2 ORDER BY 1, 3"""),

    // the stream accounting: window count, full-window count, token
    // mass, and the last window id from the same token chain
    "x_token_window_report" ->
      (s"""WITH $tokenStreamChain, """ +
       """wrep AS (SELECT (tg // 64) AS w, count(*) AS c FROM tok GROUP BY 1) """ +
       // COALESCE mirrors windowStats' report-zeros-not-NULL-sums rule
       // on the empty stream (only max_window stays NULL on both sides)
       """SELECT count(*)::BIGINT AS n_windows, """ +
       """COALESCE(SUM(CASE WHEN c = 64 THEN 1 ELSE 0 END), 0)::BIGINT AS n_full, """ +
       """COALESCE(SUM(c), 0)::BIGINT AS n_tokens, max(w)::BIGINT AS max_window FROM wrep"""),

    // the tokenized shard tree's committed manifest per shard: full
    // windows only (the dropped tail is the one with < 64 tokens),
    // shard = window % 4, files = ceil(windows/32), 64 tokens each
    "x_token_shards" ->
      (s"""WITH $tokenStreamChain, """ +
       """wins AS (SELECT (tg // 64) AS w, count(*) AS c FROM tok GROUP BY 1 HAVING count(*) = 64) """ +
       """SELECT (w % 4)::BIGINT AS shard, ((count(*) + 31) // 32)::BIGINT AS n_files, """ +
       """count(*)::BIGINT AS n_windows, SUM(c)::BIGINT AS n_tokens, """ +
       """min(w)::BIGINT AS min_window, max(w)::BIGINT AS max_window """ +
       """FROM wins GROUP BY 1 ORDER BY 1"""),

    // the written windows read back: each full window's id, length,
    // shard, and its first/last stored token (payload pin)
    "x_token_shards_read" ->
      (s"""WITH $tokenStreamChain, """ +
       """wins AS (SELECT (tg // 64) AS w, count(*) AS c, arg_min(t, tg) AS ft, """ +
       """arg_max(t, tg) AS lt FROM tok GROUP BY 1 HAVING count(*) = 64) """ +
       """SELECT w::BIGINT AS window_id, c::BIGINT AS n_tok, (w % 4)::BIGINT AS shard, """ +
       """ft AS first_token, lt AS last_token FROM wins ORDER BY window_id"""),

    // temperature at alpha = 1: md = c·1e6 with no float anywhere —
    // the same HUGEINT quota chain under the "nat" salt
    "x_sample_temperature_nat" ->
      ("""WITH nbase AS (SELECT doc_id, CASE WHEN doc_id < 20 THEN 'small' """ +
       """WHEN doc_id < 120 THEN 'mid' ELSE 'big' END AS dom """ +
       """FROM documents WHERE doc_id IS NOT NULL), """ +
       """ncnt AS (SELECT dom, count(*)::BIGINT AS c FROM nbase GROUP BY dom), """ +
       """nm AS (SELECT dom, c, (c * 1000000)::BIGINT AS md FROM ncnt), """ +
       """ntot AS (SELECT SUM(md)::HUGEINT AS mt FROM nm), """ +
       """nq AS (SELECT dom, ((800::HUGEINT * md) // (mt * c))::BIGINT AS f, """ +
       """((((800::HUGEINT * md) % (mt * c)) * 1000000) // (mt * c))::BIGINT AS thr """ +
       """FROM nm, ntot), """ +
       s"""nn AS (SELECT b.doc_id, b.dom, (q.f + CASE WHEN (${h60sql("'epoch:nat:' || b.dom || ':' || CAST(b.doc_id AS VARCHAR)")} % 1000000) < q.thr """ +
       """THEN 1 ELSE 0 END) AS nc FROM nbase b JOIN nq q ON b.dom = q.dom) """ +
       """SELECT doc_id, dom, epoch FROM """ +
       """(SELECT doc_id, dom, unnest(range(0, nc)) AS epoch FROM nn WHERE nc >= 1) """ +
       """ORDER BY doc_id, epoch"""),

    // token-MASS temperature: the identical HUGEINT quota chain with
    // c = Σ whitespace tokens and the budget in tokens (sqrt snap —
    // exactly portable); every doc of a domain draws the same coin
    "x_sample_temperature_tok" ->
      (s"""WITH kbase AS (SELECT doc_id, CASE WHEN doc_id < 20 THEN 'small' """ +
       """WHEN doc_id < 120 THEN 'mid' ELSE 'big' END AS dom, """ +
       s"""len($TOK)::BIGINT AS n_tok FROM documents WHERE doc_id IS NOT NULL), """ +
       """kcnt AS (SELECT dom, SUM(n_tok)::BIGINT AS c FROM kbase GROUP BY dom), """ +
       """km AS (SELECT dom, c, CAST(round(sqrt(c) * 1000000) AS BIGINT) AS md FROM kcnt), """ +
       """ktot AS (SELECT SUM(md)::HUGEINT AS mt FROM km), """ +
       """kq AS (SELECT dom, ((30000::HUGEINT * md) // (mt * c))::BIGINT AS f, """ +
       """((((30000::HUGEINT * md) % (mt * c)) * 1000000) // (mt * c))::BIGINT AS thr """ +
       """FROM km, ktot), """ +
       s"""kn AS (SELECT b.doc_id, b.dom, (q.f + CASE WHEN (${h60sql("'epoch:tok:' || b.dom || ':' || CAST(b.doc_id AS VARCHAR)")} % 1000000) < q.thr """ +
       """THEN 1 ELSE 0 END) AS nc FROM kbase b JOIN kq q ON b.dom = q.dom) """ +
       """SELECT doc_id, dom, epoch FROM """ +
       """(SELECT doc_id, dom, unnest(range(0, nc)) AS epoch FROM kn WHERE nc >= 1) """ +
       """ORDER BY doc_id, epoch"""),

    // dyadic alpha = 0.75: md = round(sqrt(c)·sqrt(sqrt(c))·1e6) — the
    // same ascending sqrt-then-multiply chain the engine evaluates
    // (IEEE sqrt and * are correctly rounded, so the product is
    // bit-identical cross-engine), then the exact quota chain
    "x_sample_temperature_dyadic" ->
      ("""WITH ybase AS (SELECT doc_id, CASE WHEN doc_id < 20 THEN 'small' """ +
       """WHEN doc_id < 120 THEN 'mid' ELSE 'big' END AS dom """ +
       """FROM documents WHERE doc_id IS NOT NULL), """ +
       """ycnt AS (SELECT dom, count(*)::BIGINT AS c FROM ybase GROUP BY dom), """ +
       """ym AS (SELECT dom, c, CAST(round(sqrt(c) * sqrt(sqrt(c)) * 1000000) AS BIGINT) AS md FROM ycnt), """ +
       """ytot AS (SELECT SUM(md)::HUGEINT AS mt FROM ym), """ +
       """yq AS (SELECT dom, ((900::HUGEINT * md) // (mt * c))::BIGINT AS f, """ +
       """((((900::HUGEINT * md) % (mt * c)) * 1000000) // (mt * c))::BIGINT AS thr """ +
       """FROM ym, ytot), """ +
       s"""yn AS (SELECT b.doc_id, b.dom, (q.f + CASE WHEN (${h60sql("'epoch:dy:' || b.dom || ':' || CAST(b.doc_id AS VARCHAR)")} % 1000000) < q.thr """ +
       """THEN 1 ELSE 0 END) AS nc FROM ybase b JOIN yq q ON b.dom = q.dom) """ +
       """SELECT doc_id, dom, epoch FROM """ +
       """(SELECT doc_id, dom, unnest(range(0, nc)) AS epoch FROM yn WHERE nc >= 1) """ +
       """ORDER BY doc_id, epoch"""),

    // the tokenized-corpus assembly replayed stage by stage: selection
    // window -> sqrt-mass HUGEINT quotas -> floor+coin copies keyed
    // (doc, epoch) -> the global rank over concat(id,':',epoch) ->
    // global token offsets -> window/slot arithmetic -> rollup
    "x_pipeline_tokens" ->
      (s"""WITH pbase AS (SELECT doc_id, COALESCE(source, '') AS source, n_chars::BIGINT AS score, """ +
       s"""$TOK AS ts, len($TOK)::BIGINT AS n_tok FROM documents), """ +
       """psel AS (SELECT doc_id, source, ts, n_tok FROM (SELECT *, """ +
       """SUM(n_tok) OVER (PARTITION BY source ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS ct """ +
       """FROM pbase) WHERE ct <= 4096), """ +
       """pcnt AS (SELECT source, count(*)::BIGINT AS c FROM psel GROUP BY source), """ +
       """pm AS (SELECT source, c, CAST(round(sqrt(c) * 1000000) AS BIGINT) AS md FROM pcnt), """ +
       """ptot AS (SELECT SUM(md)::HUGEINT AS mt FROM pm), """ +
       """pq AS (SELECT source, ((300::HUGEINT * md) // (mt * c))::BIGINT AS f, """ +
       """((((300::HUGEINT * md) % (mt * c)) * 1000000) // (mt * c))::BIGINT AS thr FROM pm, ptot), """ +
       s"""pmix AS (SELECT s.doc_id, s.source, s.ts, s.n_tok, (q.f + CASE WHEN """ +
       s"""(${h60sql("'epoch:pt:' || s.source || ':' || CAST(s.doc_id AS VARCHAR)")} % 1000000) < q.thr """ +
       """THEN 1 ELSE 0 END) AS nc FROM psel s JOIN pq q USING (source)), """ +
       """pcp AS (SELECT doc_id, ts, n_tok, unnest(range(0, nc)) AS epoch FROM pmix WHERE nc >= 1), """ +
       s"""ppos AS (SELECT ts, n_tok, (row_number() OVER (ORDER BY k % 32, k, mix_id) - 1) AS p """ +
       s"""FROM (SELECT ts, n_tok, CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR) AS mix_id, """ +
       s"""${h60sql("'shuffle:pt:' || CAST(doc_id AS VARCHAR) || ':' || CAST(epoch AS VARCHAR)")} AS k FROM pcp)), """ +
       """poff AS (SELECT p, ts, COALESCE(SUM(n_tok) OVER (ORDER BY p """ +
       """ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o FROM ppos), """ +
       """ptok AS (SELECT p, o + i - 1 AS tg FROM """ +
       """(SELECT p, o, unnest(range(1, len(ts) + 1)) AS i FROM poff)) """ +
       """SELECT (tg // 64)::BIGINT AS window_id, count(*)::BIGINT AS n_tok, """ +
       """count(DISTINCT p)::BIGINT AS n_docs, min(p)::BIGINT AS min_pos, """ +
       """max(p)::BIGINT AS max_pos FROM ptok GROUP BY 1 ORDER BY 1"""),

    // the annealed pipeline replayed: per-source rank -> stage flag ->
    // the composite (stage, bucket, key, id) permutation -> global
    // token offsets -> the same window rollup
    "x_pipeline_anneal" ->
      (s"""WITH abase AS (SELECT doc_id, COALESCE(source, '') AS source, n_chars::BIGINT AS score, """ +
       s"""$TOK AS ts FROM documents), """ +
       """acnt AS (SELECT source, count(*)::BIGINT AS tot FROM abase GROUP BY 1), """ +
       """ark AS (SELECT abase.*, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rk FROM abase), """ +
       """ast AS (SELECT a.doc_id, a.ts, CASE WHEN a.rk <= (t.tot::HUGEINT * 250000) // 1000000 """ +
       """THEN 1 ELSE 0 END AS stage FROM ark a JOIN acnt t USING (source)), """ +
       s"""apos AS (SELECT ts, (row_number() OVER (ORDER BY stage, k % 16, k, doc_id) - 1) AS p """ +
       s"""FROM (SELECT doc_id, ts, stage, ${h60sql("'curriculum:an:' || CAST(doc_id AS VARCHAR)")} AS k FROM ast)), """ +
       """aoff AS (SELECT p, ts, COALESCE(SUM(len(ts)) OVER (ORDER BY p """ +
       """ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o FROM apos), """ +
       """atok AS (SELECT p, o + i - 1 AS tg FROM """ +
       """(SELECT p, o, unnest(range(1, len(ts) + 1)) AS i FROM aoff)) """ +
       """SELECT (tg // 64)::BIGINT AS window_id, count(*)::BIGINT AS n_tok, """ +
       """count(DISTINCT p)::BIGINT AS n_docs, min(p)::BIGINT AS min_pos, """ +
       """max(p)::BIGINT AS max_pos FROM atok GROUP BY 1 ORDER BY 1"""),

    // the tokenized-tree resume: full windows with id >= 212, first
    // payload token via arg_min over the token chain
    "x_token_resume" ->
      (s"""WITH $tokenStreamChain, """ +
       """wins AS (SELECT (tg // 64) AS w, count(*) AS c, arg_min(t, tg) AS ft """ +
       """FROM tok GROUP BY 1 HAVING count(*) = 64) """ +
       """SELECT w::BIGINT AS window_id, c::BIGINT AS n_tok, (w % 4)::BIGINT AS shard, """ +
       """ft AS first_token FROM wins WHERE w >= 212 ORDER BY window_id"""),

    // cross-epoch token resume replayed end to end: epoch-0 permutation
    // -> global token offsets -> the consumed prefix = FULL windows
    // [0, 6) -> its max contributing doc position -> consumed doc ids =
    // that position prefix -> epoch-1 permutation minus those ids,
    // re-densified by rank -> fresh offsets -> ctx-64 window rollup
    "x_token_resume_epoch" ->
      (s"""WITH tebase AS (SELECT doc_id, COALESCE(source, '') AS source, n_chars::BIGINT AS score, """ +
       s"""$TOK AS ts, len($TOK)::BIGINT AS n_tok FROM documents), """ +
       """tesel0 AS (SELECT doc_id, ts, n_tok FROM (SELECT *, """ +
       """SUM(n_tok) OVER (PARTITION BY source ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS ct """ +
       """FROM tebase) WHERE ct <= 4096), """ +
       s"""tepos0 AS (SELECT doc_id, ts, n_tok, (row_number() OVER (ORDER BY k % 32, k, doc_id) - 1) AS p """ +
       s"""FROM (SELECT doc_id, ts, n_tok, ${h60sql("'shuffle:te:' || CAST(doc_id AS VARCHAR)")} AS k FROM tesel0)), """ +
       """teoff0 AS (SELECT doc_id, ts, p, COALESCE(SUM(n_tok) OVER (ORDER BY p """ +
       """ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o FROM tepos0), """ +
       """tetok0 AS (SELECT p, o + i - 1 AS tg FROM """ +
       """(SELECT p, o, unnest(range(1, len(ts) + 1)) AS i FROM teoff0)), """ +
       // full windows only below the cut: the tree never committed a
       // partial tail, so a <64-token window is invisible to the engine
       """tewin0 AS (SELECT tg // 64 AS w, count(*) AS c, max(p) AS mp FROM tetok0 WHERE tg < 384 GROUP BY 1), """ +
       """tecons AS (SELECT MAX(mp) AS pmax FROM tewin0 WHERE c = 64), """ +
       """teids AS (SELECT doc_id FROM tepos0, tecons WHERE p <= pmax), """ +
       """tesel1 AS (SELECT doc_id, ts, n_tok FROM (SELECT *, """ +
       """SUM(n_tok) OVER (PARTITION BY source ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS ct """ +
       """FROM tebase) WHERE ct <= 2048), """ +
       s"""tepos1 AS (SELECT doc_id, ts, n_tok, (row_number() OVER (ORDER BY k % 32, k, doc_id) - 1) AS p """ +
       s"""FROM (SELECT doc_id, ts, n_tok, ${h60sql("'shuffle:te:' || CAST(doc_id AS VARCHAR)")} AS k FROM tesel1)), """ +
       """terem AS (SELECT doc_id, ts, n_tok, (row_number() OVER (ORDER BY p) - 1) AS rp """ +
       """FROM tepos1 WHERE doc_id NOT IN (SELECT doc_id FROM teids)), """ +
       """teoff1 AS (SELECT doc_id, ts, rp, COALESCE(SUM(n_tok) OVER (ORDER BY rp """ +
       """ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS o FROM terem), """ +
       """tetok1 AS (SELECT rp, o + i - 1 AS tg, t FROM """ +
       """(SELECT rp, o, unnest(ts) AS t, unnest(range(1, len(ts) + 1)) AS i FROM teoff1)) """ +
       """SELECT (tg // 64)::BIGINT AS window_id, count(*)::BIGINT AS n_tok, """ +
       """count(DISTINCT rp)::BIGINT AS n_docs, min(rp)::BIGINT AS min_pos, """ +
       """max(rp)::BIGINT AS max_pos, arg_min(t, tg) AS first_token, """ +
       """arg_max(t, tg) AS last_token FROM tetok1 GROUP BY 1 ORDER BY 1"""),

    // temperature mixing replayed from the counts up: md =
    // round(sqrt(c)·1e6) (IEEE sqrt is correctly rounded — exactly
    // portable), then EXACT integer quotas (floor + millionths coin)
    // over HUGEINT, then the same floor+coin copies as x_sample_repeat
    "x_sample_temperature" ->
      ("""WITH tbase AS (SELECT doc_id, CASE WHEN doc_id < 20 THEN 'small' """ +
       """WHEN doc_id < 120 THEN 'mid' ELSE 'big' END AS dom """ +
       """FROM documents WHERE doc_id IS NOT NULL), """ +
       """tcnt AS (SELECT dom, count(*)::BIGINT AS c FROM tbase GROUP BY dom), """ +
       """tm AS (SELECT dom, c, CAST(round(sqrt(c) * 1000000) AS BIGINT) AS md FROM tcnt), """ +
       """ttot AS (SELECT SUM(md)::HUGEINT AS mt FROM tm), """ +
       """tq AS (SELECT dom, ((1000::HUGEINT * md) // (mt * c))::BIGINT AS f, """ +
       """((((1000::HUGEINT * md) % (mt * c)) * 1000000) // (mt * c))::BIGINT AS thr """ +
       """FROM tm, ttot), """ +
       s"""tn AS (SELECT b.doc_id, b.dom, (q.f + CASE WHEN (${h60sql("'epoch::' || b.dom || ':' || CAST(b.doc_id AS VARCHAR)")} % 1000000) < q.thr """ +
       """THEN 1 ELSE 0 END) AS nc FROM tbase b JOIN tq q ON b.dom = q.dom) """ +
       """SELECT doc_id, dom, epoch FROM """ +
       """(SELECT doc_id, dom, unnest(range(0, nc)) AS epoch FROM tn WHERE nc >= 1) """ +
       """ORDER BY doc_id, epoch"""),

    // the mixing-card dry-run: the identical quota chain, stopped at
    // the per-domain aggregates (every column HUGEINT floor arithmetic
    // after the sqrt snap; over_cap as 0/1 BIGINT)
    "x_sample_plan" ->
      ("""WITH tbase AS (SELECT doc_id, CASE WHEN doc_id < 20 THEN 'small' """ +
       """WHEN doc_id < 120 THEN 'mid' ELSE 'big' END AS dom """ +
       """FROM documents WHERE doc_id IS NOT NULL), """ +
       """tcnt AS (SELECT dom, count(*)::BIGINT AS c FROM tbase GROUP BY dom), """ +
       """tm AS (SELECT dom, c, CAST(round(sqrt(c) * 1000000) AS BIGINT) AS md FROM tcnt), """ +
       """tt AS (SELECT SUM(md)::HUGEINT AS mt, SUM(c)::HUGEINT AS ct FROM tm), """ +
       """q AS (SELECT dom, c, md, """ +
       """((c::HUGEINT * 1000000) // ct)::BIGINT AS raw_share_ppm, """ +
       """((md::HUGEINT * 1000000) // mt)::BIGINT AS target_share_ppm, """ +
       """((1000::HUGEINT * md) // (mt * c))::BIGINT AS f, """ +
       """((((1000::HUGEINT * md) % (mt * c)) * 1000000) // (mt * c))::BIGINT AS thr """ +
       """FROM tm, tt) """ +
       """SELECT dom AS domain, c AS mass, raw_share_ppm, target_share_ppm, """ +
       """f AS quota_floor, thr AS quota_coin_ppm, """ +
       """(f * 1000000 + thr)::BIGINT AS epochs_ppm, """ +
       """((c::HUGEINT * (f::HUGEINT * 1000000 + thr)) // 1000000)::BIGINT AS expected_out, """ +
       """(CASE WHEN f < 100 OR (f = 100 AND thr = 0) THEN 0 ELSE 1 END)::BIGINT AS over_cap """ +
       """FROM q ORDER BY domain NULLS FIRST"""),

    // the token-mass card: the identical chain from SUM(token) masses
    "x_sample_plan_tok" ->
      (s"""WITH tbase AS (SELECT doc_id, CASE WHEN doc_id < 20 THEN 'small' """ +
       """WHEN doc_id < 120 THEN 'mid' ELSE 'big' END AS dom, """ +
       s"""len($TOK)::BIGINT AS nt """ +
       """FROM documents WHERE doc_id IS NOT NULL), """ +
       """tcnt AS (SELECT dom, SUM(nt)::BIGINT AS c FROM tbase GROUP BY dom), """ +
       """tm AS (SELECT dom, c, CAST(round(sqrt(c) * 1000000) AS BIGINT) AS md FROM tcnt), """ +
       """tt AS (SELECT SUM(md)::HUGEINT AS mt, SUM(c)::HUGEINT AS ct FROM tm), """ +
       """q AS (SELECT dom, c, md, """ +
       """((c::HUGEINT * 1000000) // ct)::BIGINT AS raw_share_ppm, """ +
       """((md::HUGEINT * 1000000) // mt)::BIGINT AS target_share_ppm, """ +
       """((30000::HUGEINT * md) // (mt * c))::BIGINT AS f, """ +
       """((((30000::HUGEINT * md) % (mt * c)) * 1000000) // (mt * c))::BIGINT AS thr """ +
       """FROM tm, tt) """ +
       """SELECT dom AS domain, c AS mass, raw_share_ppm, target_share_ppm, """ +
       """f AS quota_floor, thr AS quota_coin_ppm, """ +
       """(f * 1000000 + thr)::BIGINT AS epochs_ppm, """ +
       """((c::HUGEINT * (f::HUGEINT * 1000000 + thr)) // 1000000)::BIGINT AS expected_out, """ +
       """(CASE WHEN f < 100 OR (f = 100 AND thr = 0) THEN 0 ELSE 1 END)::BIGINT AS over_cap """ +
       """FROM q ORDER BY domain NULLS FIRST"""),

    // quantile selection replayed: per-source rank vs the source's own
    // floor(count·ppm/1e6) budget; in count mode cum_mass == sel_rank
    "x_quality_quantile" ->
      ("""WITH c AS (SELECT doc_id, COALESCE(source, '') AS source, n_chars::BIGINT AS n_chars FROM documents), """ +
       """t AS (SELECT source, count(*)::BIGINT AS tot FROM c GROUP BY 1), """ +
       """o AS (SELECT c.*, row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)::BIGINT AS sel_rank FROM c) """ +
       """SELECT o.doc_id, o.source, o.n_chars, o.sel_rank, o.sel_rank AS cum_mass, """ +
       """((t.tot::HUGEINT * 250000) // 1000000)::BIGINT AS keep_budget """ +
       """FROM o JOIN t USING (source) """ +
       """WHERE o.sel_rank <= (t.tot::HUGEINT * 250000) // 1000000 ORDER BY o.doc_id"""),

    // ...token-mass mode: inclusive running token sum vs the source's
    // floor(Σtokens·0.6) budget
    "x_quality_quantile_tok" ->
      (s"""WITH c AS (SELECT doc_id, COALESCE(source, '') AS source, n_chars::BIGINT AS n_chars, """ +
       s"""len($TOK)::BIGINT AS n_tokens FROM documents), """ +
       """t AS (SELECT source, SUM(n_tokens)::BIGINT AS tot FROM c GROUP BY 1), """ +
       """o AS (SELECT c.*, SUM(n_tokens) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id """ +
       """ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_mass, """ +
       """row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)::BIGINT AS sel_rank FROM c) """ +
       """SELECT o.doc_id, o.source, o.n_chars, o.n_tokens, o.sel_rank, o.cum_mass, """ +
       """((t.tot::HUGEINT * 600000) // 1000000)::BIGINT AS keep_budget """ +
       """FROM o JOIN t USING (source) """ +
       """WHERE o.cum_mass <= (t.tot::HUGEINT * 600000) // 1000000 ORDER BY o.doc_id"""),

    // budgeted selection replayed: the same (score desc, id) window's
    // inclusive running sum, prefix-cut at the budget
    "x_sample_budget" ->
      (s"""WITH c AS (SELECT doc_id, COALESCE(source, '') AS source, n_chars::BIGINT AS n_chars, """ +
       s"""len($TOK)::BIGINT AS n_tokens FROM documents), """ +
       """o AS (SELECT *, SUM(n_tokens) OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id """ +
       """ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_tokens, """ +
       """row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)::BIGINT AS sel_rank FROM c) """ +
       """SELECT doc_id, source, n_chars, n_tokens, cum_tokens, sel_rank """ +
       """FROM o WHERE cum_tokens <= 2048 ORDER BY doc_id"""),

    "x_sample_split" ->
      (s"""SELECT doc_id, lang, CASE WHEN b < 800000 THEN 'train' WHEN b < 900000 THEN 'val' """ +
       """WHEN b < 1000000 THEN 'test' ELSE 'rest' END AS split FROM """ +
       s"""(SELECT doc_id, lang, ${h60sql("'split:' || COALESCE(lang, '') || ':' || CAST(doc_id AS VARCHAR)")} % 1000000 AS b """ +
       """FROM documents) ORDER BY doc_id"""),

    // the staged rank == one global row_number over (stage, key mod B,
    // key, id)
    "x_sample_curriculum" ->
      (s"""SELECT doc_id, stage, (row_number() OVER (ORDER BY stage, k % 16, k, doc_id) - 1)::BIGINT AS shuffle_pos """ +
       s"""FROM (SELECT doc_id, (CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)::BIGINT AS stage, """ +
       s"""${h60sql("'curriculum:cu:' || CAST(doc_id AS VARCHAR)")} AS k FROM documents) """ +
       """ORDER BY doc_id"""),

    // the bucketed two-pass global rank == one global row_number over
    // (key mod B, key, id); hash60 is non-negative so % == pmod
    "x_sample_shuffle" ->
      (s"""SELECT doc_id, (row_number() OVER (ORDER BY k % 64, k, doc_id) - 1)::BIGINT AS shuffle_pos """ +
       s"""FROM (SELECT doc_id, ${h60sql("'shuffle:r14:' || CAST(doc_id AS VARCHAR)")} AS k FROM documents) """ +
       """ORDER BY doc_id"""),

    "x_sessionize" ->
      ("""WITH e AS (SELECT user_id, event_id, value, epoch_us(ts) // 1000000 AS sec FROM events), """ +
       """o AS (SELECT *, CASE WHEN lag(sec) OVER w IS NULL OR sec - lag(sec) OVER w > 1800 THEN 1 ELSE 0 END AS new_s """ +
       """FROM e WINDOW w AS (PARTITION BY user_id ORDER BY sec, event_id)), """ +
       """s AS (SELECT *, (SUM(new_s) OVER (PARTITION BY user_id ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING) - 1)::BIGINT AS session_id FROM o) """ +
       """SELECT user_id, session_id, count(*) AS n_events, max(sec) - min(sec) AS duration_sec, """ +
       """CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value """ +
       """FROM s GROUP BY 1, 2 ORDER BY 1, 2"""),

    "x_tumbling_window" ->
      ("""SELECT event_type, (epoch_us(ts) // 1000000) // 1800 AS bucket, count(*) AS n, """ +
       """CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value """ +
       """FROM events GROUP BY 1, 2 ORDER BY 1, 2"""),

    "x_agg_pricing" ->
      ("""SELECT l_returnflag, l_linestatus, """ +
       """CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, """ +
       """CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base, """ +
       """CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1.0 AS DECIMAL(8,4)) - CAST(l_discount AS DECIMAL(8,4)))), 4) AS DOUBLE) AS sum_disc, """ +
       """count(*) AS n FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""),

    "x_asof_join" ->
      ("""WITH ev AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec FROM events), """ +
       """o AS (SELECT o_custkey, epoch_us(o_orderdate) // 1000000 AS osec, o_orderkey, o_totalprice, """ +
       """row_number() OVER (PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) AS rn FROM orders), """ +
       """od AS (SELECT o_custkey, osec, o_orderkey, o_totalprice FROM o WHERE rn = 1) """ +
       """SELECT ev.event_id, ev.user_id, ev.sec, od.o_orderkey, od.o_totalprice """ +
       """FROM ev ASOF LEFT JOIN od ON ev.user_id = od.o_custkey AND ev.sec >= od.osec """ +
       """ORDER BY ev.event_id"""),

    "x_range_join" ->
      ("""WITH p AS (SELECT event_id, epoch_us(ts) // 1000000 AS t, value FROM events), """ +
       """w AS (SELECT user_id AS owner, min(epoch_us(ts) // 1000000) AS lo, """ +
       """min(epoch_us(ts) // 1000000) + 7199 AS hi FROM events GROUP BY 1) """ +
       """SELECT owner, count(*) AS n_events, """ +
       """CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value """ +
       """FROM w JOIN p ON p.t >= w.lo AND p.t <= w.hi """ +
       """GROUP BY 1 ORDER BY 1"""),

    "x_range_overlap" ->
      ("""WITH o AS (SELECT o_orderkey, epoch_us(o_orderdate) // 1000000 AS lo, """ +
       """epoch_us(o_orderdate) // 1000000 + 14*86400 - 1 AS hi FROM orders WHERE o_orderkey % 29 = 0) """ +
       """SELECT a.o_orderkey AS l_key, b.o_orderkey AS r_key, """ +
       """least(a.hi, b.hi) - greatest(a.lo, b.lo) + 1 AS overlap_sec """ +
       """FROM o a JOIN o b ON a.o_orderkey < b.o_orderkey """ +
       """AND greatest(a.lo, b.lo) <= least(a.hi, b.hi) """ +
       """ORDER BY overlap_sec DESC, l_key, r_key LIMIT 100"""),

    // the oracle affords the quadratic join at gate scale; the engine
    // side must reproduce it from the deletion-neighborhood index
    "x_fuzzy_join" ->
      ("""SELECT a.c_custkey AS lid, b.c_custkey AS rid, """ +
       """CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist """ +
       """FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey """ +
       """AND levenshtein(a.c_name, b.c_name) <= 1 ORDER BY lid, rid"""),

    "x_fuzzy_join2" ->
      ("""SELECT a.c_custkey AS lid, b.c_custkey AS rid, """ +
       """CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist """ +
       """FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey """ +
       """AND a.c_custkey <= 3000 AND b.c_custkey <= 3000 """ +
       """AND levenshtein(a.c_name, b.c_name) <= 2 ORDER BY lid, rid"""),

    "x_join_topk" ->
      ("""WITH ranked AS (SELECT o_orderpriority, o_orderkey, o_totalprice, c_name, n_name, """ +
       """row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rk """ +
       """FROM orders JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey) """ +
       """SELECT o_orderpriority, rk, o_orderkey, o_totalprice, c_name, n_name FROM ranked """ +
       """WHERE rk <= 3 ORDER BY o_orderpriority, rk"""),

    "x_pipeline_clean" ->
      (s"""WITH nd AS (SELECT doc_id, source, trim(regexp_replace(regexp_replace(regexp_replace(""" +
       """text, '[ \t]+', ' ', 'g'), ' ?\n ?', chr(10), 'g'), '\n{3,}', chr(10) || chr(10), 'g')) AS text FROM documents), """ +
       s"""dedup AS (SELECT min(doc_id) AS doc_id FROM nd GROUP BY text), """ +
       s"""f AS (SELECT d.doc_id, d.source, len($TOK)::BIGINT AS n_tokens, """ +
       s"""len(list_filter($TOK, t -> list_contains($EN_STOP, t)))::BIGINT AS n_stop, """ +
       """length(text)::BIGINT AS n_chars, """ +
       """length(regexp_replace(text, '[^.,!?;:]', '', 'g'))::BIGINT AS n_punct """ +
       """FROM nd d JOIN dedup USING (doc_id)), """ +
       """q AS (SELECT doc_id, source, n_tokens, """ +
       """least(1.0, CAST(n_tokens AS DOUBLE) / 200.0) * 0.5 """ +
       """+ (CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE)) * 2.0 """ +
       """- (CAST(n_punct AS DOUBLE) / CAST(n_chars AS DOUBLE)) * 0.5 AS quality_score, """ +
       """CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio FROM f) """ +
       """SELECT source, count(*) AS n, min(doc_id) AS min_id, sum(n_tokens)::BIGINT AS tokens, """ +
       """CAST(ROUND(SUM(CAST(quality_score AS DECIMAL(20,12))), 6) AS DOUBLE) AS sum_quality """ +
       """FROM q WHERE n_tokens >= 10 AND stop_ratio >= 0.05 GROUP BY source ORDER BY source NULLS FIRST"""),

    "x_multimodal_meta" ->
      (s"""SELECT doc_id, 'fake-rgb' AS format, """ +
       s"""((${hexsql("sha256(text)")} % 512) + 64)::INT AS width, """ +
       s"""(((${hexsql("sha256(text)")} >> 9) % 512) + 64)::INT AS height, """ +
       """octet_length(encode(text))::BIGINT AS n_bytes FROM documents ORDER BY doc_id"""),

    // byte-histogram featurizer mirror: bucket = ubyte % 16 = low hex
    // nibble of each UTF-8 byte; REAL/REAL division is float32-exact in
    // both engines (verified), so f0/f1 match Spark's float math bit-for-bit
    "x_multimodal_feat" ->
      ("""WITH h AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS len FROM documents), """ +
       """lo AS (SELECT doc_id, unnest(list_transform(generate_series(1, len), i -> substr(hx, 2 * i, 1))) AS nib FROM h), """ +
       """cnt AS (SELECT doc_id, """ +
       """SUM(CASE WHEN nib = '0' THEN 1 ELSE 0 END) AS c0, """ +
       """SUM(CASE WHEN nib = '1' THEN 1 ELSE 0 END) AS c1 FROM lo GROUP BY 1) """ +
       """SELECT h.doc_id AS id, h.len::BIGINT AS n_bytes, """ +
       """(coalesce(cnt.c0, 0)::REAL / greatest(h.len, 1)::REAL)::DOUBLE AS f0, """ +
       """(coalesce(cnt.c1, 0)::REAL / greatest(h.len, 1)::REAL)::DOUBLE AS f1 """ +
       """FROM h LEFT JOIN cnt USING (doc_id) ORDER BY id"""),

    // resize mirror: decode-stub dims from sha256 clamped at 128, the
    // byte slice mirrored on the HEX string (2 chars per byte — DuckDB
    // has no BLOB substring; VARCHAR substring clamps like Spark's)
    "x_multimodal_resize" ->
      (s"""WITH m AS (SELECT doc_id, encode(text) AS pl, """ +
       s"""least(((${hexsql("sha256(text)")} % 512) + 64), 128)::INT AS w, """ +
       s"""least((((${hexsql("sha256(text)")} >> 9) % 512) + 64), 128)::INT AS h FROM documents) """ +
       """SELECT doc_id, w AS width, h AS height, """ +
       """least(octet_length(pl), w * h)::BIGINT AS n_resized, """ +
       """lower(substring(hex(pl), 1, 2 * w * h)) AS payload_hex """ +
       """FROM m ORDER BY doc_id"""),

    // frame-sampling mirror on the hex string: Spark's
    // cast(double -> int) truncates and every position here is
    // positive, so trunc() reproduces it; byte pos p, len L map to hex
    // (2p-1, 2L)
    "x_multimodal_frames" ->
      ("""WITH p AS (SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS len FROM documents), """ +
       """g AS (SELECT doc_id, hx, greatest(len / 4, 1) AS fl FROM p), """ +
       """f AS (SELECT doc_id, i, """ +
       """substring(hx, 2 * CAST(trunc(i * fl + 1) AS INT) - 1, 2 * CAST(trunc(fl) AS INT)) AS fr """ +
       """FROM g CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) s) """ +
       """SELECT doc_id, i::BIGINT AS frame_idx, lower(fr) AS frame_hex """ +
       """FROM f ORDER BY doc_id, frame_idx""")
  )
}
