package graft

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag
import scala.util.Random

import graft.store.{HDFStore, StoreMode}
import graft.table.{HDFTable, RowIds}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Seeded random sequences of positional writes, checked against a
  * `Vector` model of the table after every op: the rows read back through
  * `df`, a whole-table `slice`, `scanSlice` and a point read on both
  * sides of every file seam, and each parquet file's footer `_rowid`
  * range and count against the run the manifest assigns it. Each
  * sequence runs once with frames already on the driver and once with
  * frames computed by Spark tasks, so both write paths are taken. */
class TableModelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import TestSpark.spark.implicits._

  private type Rows = Vector[(Long, String)]

  /** `rows` as columns `(k, s)`, after an optional leading id column:
    * a `LocalRelation` when `local`, else computed by two Spark tasks. */
  private def frame(rows: Rows, local: Boolean, lead: Option[(String, Seq[Long])] = None): DataFrame =
    if (local) lead.fold(rows.toDF("k", "s")) { case (name, ids) =>
      ids.zip(rows).map { case (i, (k, s)) => (i, k, s) }.toDF(name, "k", "s")
    }
    else {
      def at[T: TypeTag](xs: Seq[T]) = element_at(typedLit(xs), (col("id") + 1).cast("int"))
      spark.range(0, rows.size.toLong, 1, 2).select(lead.toSeq.map { case (name, ids) => at(ids).as(name) } ++
        Seq(at(rows.map(_._1)).as("k"), at(rows.map(_._2)).as("s")): _*)
    }

  /** (global offset, path, stored id base, rows) of every parquet file of
    * `t` in id order, as the manifest's segments, their `fileRows` and
    * [[HDFStore.inIdOrder]] lay them out. */
  private def fileLayout(st: HDFStore, t: HDFTable): Seq[(Long, Path, Long, Long)] = {
    val m = t.meta
    m.segments.zip(m.offsets).flatMap { case (seg, off) =>
      val p = new Path(st.rootPath, seg.dir)
      val files = if (st.fs.getFileStatus(p).isFile) Seq(st.fs.getFileStatus(p))
        else HDFStore.inIdOrder(st.fs.listStatus(p).toSeq.filter(_.getPath.getName.endsWith(".parquet")))
      val counts = if (files.size == 1) Vector(seg.rows) else seg.fileRows
      assert(counts.size == files.size && counts.sum == seg.rows,
        s"${seg.dir}: fileRows $counts for ${files.size} files and ${seg.rows} rows")
      val bases = counts.scanLeft(seg.idBase)(_ + _)
      files.indices.map(i => (off + bases(i) - seg.idBase, files(i).getPath, bases(i), counts(i)))
    }
  }

  private def check(st: HDFStore, t: HDFTable, model: Rows, what: String): Seq[(Long, Path, Long, Long)] = {
    val layout = fileLayout(st, t)
    val conf = spark.sparkContext.hadoopConfiguration
    layout.foreach { case (_, path, base, rows) =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, conf))
      try {
        assert(r.getRecordCount == rows, s"$what: $path holds ${r.getRecordCount} rows, the manifest says $rows")
        val ids = r.getFooter.getBlocks.asScala.toSeq.filter(_.getRowCount > 0).map(_.getColumns.asScala
          .find(_.getPath.toDotString == RowIds.Col).get.getStatistics)
        if (rows > 0) {
          val (lo, hi) = (ids.map(_.genericGetMin.asInstanceOf[Long]).min, ids.map(_.genericGetMax.asInstanceOf[Long]).max)
          assert((lo, hi) == (base, base + rows - 1),
            s"$what: $path holds stored ids [$lo, $hi], the manifest says [$base, ${base + rows - 1}]")
        }
      } finally r.close()
    }
    def read(d: DataFrame) = d.select(RowIds.Col, "k", "s").as[(Long, Long, String)].collect().sortBy(_._1).toSeq
    val want = model.zipWithIndex.map { case ((k, s), i) => (i.toLong, k, s) }
    assert(t.nrows == model.size, what)
    assert(read(t.df) == want, s"$what: df")
    if (model.nonEmpty) {
      assert(read(t.slice(0, model.size - 1L)) == want, s"$what: slice")
      assert(read(t.scanSlice(0, model.size - 1L)) == want, s"$what: scanSlice")
      layout.map(_._1).filter(_ > 0).flatMap(o => Seq(o - 1, o)).distinct.foreach { p =>
        assert(read(t.point(p)) == Seq(want(p.toInt)), s"$what: point $p")
      }
    }
    layout
  }

  /** One seeded sequence: every op once in a shuffled order, then a few
    * more at random. */
  private def runSequence(seed: Long, chunk: Long, local: Boolean): Unit = {
    val rng = new Random(seed)
    val st = HDFStore.open(spark, TestSpark.tmpDir("model"), StoreMode.Overwrite)
    var next = 0L
    def fresh(n: Int): Rows = { val r = (next until next + n).map(k => (k, s"v$k")).toVector; next += n; r }
    var model = fresh(10 + rng.nextInt(6))
    st.put("t", frame(model, local), chunkSize = Some(chunk))
    val t = st.table("t")
    var layout = check(st, t, model, s"seed $seed: put")
    val ops = Seq("put", "append", "insert-boundary", "insert-mid", "update", "delete",
      "applyUpdates", "writeHyperslab", "compactSmallRuns")
    for ((op, step) <- (rng.shuffle(ops) ++ Seq.fill(3)(ops(rng.nextInt(ops.size)))).zipWithIndex) {
      val n = model.size
      val runs = layout.map(_._1) :+ n.toLong
      val desc = op match {
        case "put" =>
          model = fresh(8 + rng.nextInt(8))
          st.put("t", frame(model, local), chunkSize = Some(chunk))
          "put"
        case "append" =>
          val rows = fresh(rng.nextInt(4))
          t.append(frame(rows, local))
          model ++= rows
          s"append ${rows.size}"
        case "insert-boundary" =>
          val at = runs(rng.nextInt(runs.size)).toInt
          val rows = fresh(rng.nextInt(4))
          t.insert(at, frame(rows, local))
          model = model.patch(at, rows, 0)
          s"insert ${rows.size} at seam $at"
        case "insert-mid" =>
          val inner = runs.sliding(2).toSeq.flatMap { case Seq(a, b) => (a + 1 until b).map(_.toInt) }
          val at = if (inner.isEmpty) n else inner(rng.nextInt(inner.size))
          val rows = fresh(1 + rng.nextInt(3))
          t.insert(at, frame(rows, local))
          model = model.patch(at, rows, 0)
          s"insert ${rows.size} at $at"
        case "update" if n > 0 =>
          val at = rng.nextInt(n)
          val rows = fresh(1 + rng.nextInt(math.min(4, n - at)))
          t.update(at, frame(rows, local))
          model = model.patch(at, rows, rows.size)
          s"update ${rows.size} at $at"
        case "delete" if n > 1 =>
          val a = rng.nextInt(n - 1)
          val b = a + rng.nextInt(math.min(4, n - 1 - a))
          t.delete(a, b)
          model = model.patch(a, Nil, b - a + 1)
          s"delete [$a, $b]"
        case "applyUpdates" if n > 0 =>
          val ids = rng.shuffle((0L until n).toVector).take(1 + rng.nextInt(math.min(5, n)))
          val rows = fresh(ids.size)
          t.applyUpdates(frame(rows, local, Some(RowIds.Col -> ids)))
          ids.zip(rows).foreach { case (i, r) => model = model.updated(i.toInt, r) }
          s"applyUpdates at ${ids.mkString(",")}"
        case "writeHyperslab" if n > 0 =>
          val stride = 1 + rng.nextInt(3)
          val block = 1 + rng.nextInt(stride)
          val offset = rng.nextInt(n)
          val count = 1 + rng.nextInt(math.max(1, (n - offset - block) / stride + 1))
          if (offset + (count - 1) * stride + block - 1 >= n) "skip writeHyperslab"
          else {
            val rows = fresh(count * block)
            t.writeHyperslab(offset, count, stride, block,
              frame(rows, local, Some("pos" -> rows.indices.map(_.toLong))))
            rows.zipWithIndex.foreach { case (r, p) =>
              model = model.updated(offset + p / block * stride + p % block, r)
            }
            s"writeHyperslab off=$offset count=$count stride=$stride block=$block"
          }
        case "compactSmallRuns" =>
          val target = 2L + rng.nextInt(12)
          t.compactSmallRuns(target)
          s"compactSmallRuns $target"
        case other => s"skip $other"
      }
      layout = check(st, t, model, s"seed $seed step $step ($desc)")
    }
    st.close()
  }

  for (chunk <- Seq(1L, 3L, 100L); local <- Seq(true, false)) {
    val kind = if (local) "local" else "distributed"
    test(s"random op sequences match the model: chunk size $chunk, $kind frames") {
      runSequence(seed = 7919L * chunk + (if (local) 1 else 2), chunk, local)
    }
  }
}
