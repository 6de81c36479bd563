package graft

import graft.ndarray.NDArray
import graft.store.{HDFStore, StoreMode}
import graft.table.{HDFTable, RowIds}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The positional mutations share one file-run rewrite: each runs a
  * known number of Spark jobs and writes only directories it commits. */
class RewriteSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.spark.implicits._
  import TestSpark.jobsDuring

  private def rows(from: Int, n: Int): DataFrame =
    (from until from + n).map(i => (i.toLong, s"s$i")).toDF("k", "s")

  private def distributed(from: Int, n: Int): DataFrame =
    spark.range(from, from + n, 1, 2).select(col("id").as("k"), concat(lit("s"), col("id")).as("s"))

  private def keys(t: HDFTable): Seq[Long] =
    t.df.select(RowIds.Col, "k").as[(Long, Long)].collect().sortBy(_._1).map(_._2).toSeq

  test("job counts: mutations inside one file") {
    val st = HDFStore.open(spark, TestSpark.tmpDir("rw-jobs"), StoreMode.Overwrite)
    st.put("t", rows(0, 100), chunkSize = Some(10L))
    val t = st.table("t")
    val scattered = Seq((31L, 131L), (34L, 134L), (38L, 138L)).toDF(RowIds.Col, "k")
      .withColumn("s", concat(lit("s"), col("k")))
    assert(jobsDuring(t.applyUpdates(scattered))._2 == 1, "local applyUpdates")
    assert(jobsDuring(t.delete(52, 54))._2 == 1, "delete")
    assert(jobsDuring(t.insert(64, distributed(1000, 5)))._2 == 3,
      "mid-file insert of a distributed frame: the id job, the count pass and the rewrite")
    assert(keys(t) == (0 until 31) ++ Seq(131, 32, 33, 134, 35, 36, 37, 138) ++ (39 until 52) ++
      (55 until 67) ++ (1000 until 1005) ++ (67 until 100))

    val cells = spark.range(0, 64, 1, 1).select((col("id") / 8).cast("long").as("i0"),
      (col("id") % 8).as("i1"), col("id").cast("double").as("value"))
    val nd = NDArray.create(st, "nd", cells, Seq(8L, 8L))
    assert(nd.table.meta.segments.head.fileRows.headOption.forall(_ > 27L), "cells 0..27 lie in one file")
    val vals = (0 until 16).map(_ * 1000.0)
    assert(jobsDuring(nd.writeHyperslab(Seq(0L, 0L), Seq(4L, 4L), Seq(1L, 1L), Seq(1L, 1L), vals))._2 == 1,
      "NDArray.writeHyperslab of 4x4 cells")
    val got = nd.read().as[(Long, Long, Double)].collect().toSeq
    assert(got == (0 until 64).map { i =>
      val (r, c) = (i / 8, i % 8)
      (r.toLong, c.toLong, if (r < 4 && c < 4) (r * 4 + c) * 1000.0 else i.toDouble)
    })
    st.close()
  }

  test("inserts leave no unreferenced segment directory") {
    val st = HDFStore.open(spark, TestSpark.tmpDir("rw-orphans"), StoreMode.Overwrite)
    st.put("t", rows(0, 30), chunkSize = Some(10L))
    val t = st.table("t")
    val tableDir = new Path(st.rootPath, "tables/t")
    def segDirs = st.fs.listStatus(tableDir).map(_.getPath.getName).filter(_.startsWith("seg-")).toSet
    def referenced = t.meta.segments.map(_.dir.split('/')(2)).toSet
    var want = (0 until 30).map(_.toLong)
    for ((what, at, data) <- Seq(
        ("local mid-file insert", 15, rows(100, 3)),
        ("distributed mid-file insert", 5, distributed(200, 3)),
        ("local 0-row insert inside a file", 12, rows(300, 0)),
        ("local 0-row insert at a file seam", 13, rows(300, 0)),
        ("distributed 0-row insert inside a file", 12, distributed(300, 0)),
        ("distributed 0-row insert at the end", 36, distributed(300, 0)))) {
      val before = segDirs
      t.insert(at, data)
      want = want.patch(at, data.select("k").as[Long].collect().toSeq, 0)
      assert(keys(t) == want, what)
      assert((segDirs -- before -- referenced).isEmpty, s"$what left ${segDirs -- before -- referenced}")
    }
    st.close()
  }

  test("0-row appends leave no segment directory and commit only a changed attribute") {
    val st = HDFStore.open(spark, TestSpark.tmpDir("rw-empty-append"), StoreMode.Overwrite)
    st.put("t", rows(0, 30), chunkSize = Some(10L))
    val t = st.table("t")
    val tableDir = new Path(st.rootPath, "tables/t")
    def segDirs = st.fs.listStatus(tableDir).map(_.getPath.getName).filter(_.startsWith("seg-")).toSet
    for ((what, data) <- Seq("local" -> rows(300, 0), "distributed" -> distributed(300, 0));
         attr <- Seq(None, Some("batch" -> s"$what-1"))) {
      val (dirs, version) = (segDirs, st.version)
      t.appendWithAttr(data, attr)
      assert(segDirs == dirs, s"$what append with $attr left ${segDirs -- dirs}")
      assert(st.version == version + attr.size, s"$what append with $attr")
      attr.foreach { case (k, v) => assert(st.attr("t", k).contains(graft.store.AttrValue.of(v))) }
      assert(keys(t) == (0 until 30))
    }
    st.close()
  }
}
