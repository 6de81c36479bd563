package perfbench

import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ndarray.NDArray
import graft.store.{HDFStore, StoreMode}
import graft.table.HDFTable

/** One lineitem-like row at table position `_rowid`. Every column but
  * `key` is a pure function of (`key`, salt), so the in-memory model only
  * has to track which key sits at which position. `tags` is the VLEN
  * array column. */
final case class Line(_rowid: Long, key: Long, orderkey: Long, partkey: Int,
                      suppkey: Int, linenumber: Int, quantity: Double,
                      extendedprice: Double, discount: Double, tax: Double,
                      returnflag: String, linestatus: String,
                      shipdate: LocalDate, shipmode: String, comment: String,
                      tags: Seq[Int])

final case class Cell(i0: Long, i1: Long, value: Double)

object Line {
  private val Modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val Words = Array("carefully", "final", "deposits", "sleep", "quickly",
    "regular", "accounts", "ironic", "packages", "haggle", "furiously", "express")

  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def of(pos: Long, key: Long, salt: Long): Line = {
    val h = mix(key ^ salt)
    val g = mix(h)
    val nWords = 3 + (g & 3).toInt
    Line(pos, key, key / 4 + 1, (h & 0xFFFF).toInt + 1, ((h >>> 16) & 0x3FF).toInt + 1,
      (key % 7).toInt + 1, ((h >>> 26) & 63) % 50 + 1.0,
      ((h >>> 32) & 0xFFFFFF) / 100.0, ((h >>> 40) & 15) % 11 / 100.0,
      ((h >>> 44) & 15) % 9 / 100.0, "ARN".substring(((h >>> 48) & 3).toInt % 3).take(1),
      if (((h >>> 50) & 1) == 0) "O" else "F",
      LocalDate.ofEpochDay(8000 + ((h >>> 51) & 2047)),
      Modes((((g >>> 8) & 0xFF) % Modes.length).toInt),
      (0 until nWords).map(i => Words((((g >>> (12 + 5 * i)) & 31) % Words.length).toInt)).mkString(" "),
      (0 until ((h >>> 61) & 7).toInt).map(i => (mix(key + i) & 0xFFFF).toInt))
  }

  def cell(idx: Long, salt: Long): Double = (mix(idx ^ salt) & 0xFFFFF) / 8.0
}

/** Growable positional model of the table: the key at each position. */
final class KeyModel(n0: Int) {
  private var a = new Array[Long](math.max(16, n0 * 2))
  var size = 0
  def apply(i: Long): Long = a(i.toInt)
  private def grow(k: Int): Unit = if (size + k > a.length) {
    val b = new Array[Long](math.max(a.length * 2, size + k)); System.arraycopy(a, 0, b, 0, size); a = b
  }
  def insert(at: Int, ks: Seq[Long]): Unit = {
    grow(ks.size)
    System.arraycopy(a, at, a, at + ks.size, size - at)
    ks.zipWithIndex.foreach { case (k, i) => a(at + i) = k }
    size += ks.size
  }
  def delete(from: Int, n: Int): Unit = {
    System.arraycopy(a, from + n, a, from, size - from - n); size -= n
  }
  def set(at: Int, ks: Seq[Long]): Unit = ks.zipWithIndex.foreach { case (k, i) => a(at + i) = k }
}

/** `table_ops`: the paper's positional-table surface under a 70/30
  * read/write mix, one closed-loop client. */
object TableOps {
  val Rows = 150000
  val Chunk = 50000L
  val Side = 512
  val Setups = 3

  /** One round of the op script: 17 reads and 11 writes. Point and slice
    * reads are the majority of reads and appends the majority of writes
    * (the common case of a positional store), so each p50 falls inside a
    * cluster of like ops rather than between two op types. The type order
    * is fixed; the seed drives the data and every op's positions and
    * payloads. */
  val Script: Seq[String] = Seq(
    "point", "append", "slice", "hyperslab", "point", "update", "slice", "nd_read",
    "append", "point", "scan", "slice", "insert", "point", "append", "select_rows",
    "slice", "delete", "point", "compact", "append", "hyperslab", "scan", "nd_write",
    "slice", "append", "point", "append")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val salt = Line.mix(ctx.seed)

    def createStore(root: String): (HDFStore, HDFTable, NDArray) = {
      val st = HDFStore.open(spark, root, StoreMode.Overwrite)
      val rows = spark.range(0, Rows.toLong, 1, ctx.cores).as[Long]
        .map(i => Line.of(i, i, salt)).toDF().drop("_rowid")
      st.put("lineitem", rows, chunkSize = Some(Chunk))
      val cells = spark.range(0, Side.toLong * Side, 1, ctx.cores).as[Long]
        .map(i => Cell(i / Side, i % Side, Line.cell(i, salt))).toDF()
      val nd = NDArray.create(st, "grid", cells, Seq(Side.toLong, Side.toLong),
        chunkSize = Some(32768L))
      (st, st.table("lineitem"), nd)
    }

    ctx.log("inputs ready")
    val setupSamples = (1 to Setups).map { k =>
      val t = System.nanoTime()
      val s = createStore(ctx.path(s"store-$k"))
      ctx.log(s"setup $k done")
      ((System.nanoTime() - t) / 1e9, s)
    }
    setupSamples.init.foreach { case (_, (st, _, _)) => Disk.delete(spark, st.root) }
    val (st, tbl, nd) = setupSamples.last._2

    val model = new KeyModel(Rows)
    model.insert(0, 0L until Rows.toLong)
    val grid = Array.tabulate(Side * Side)(i => Line.cell(i.toLong, salt))
    var nextKey = Rows.toLong
    val rng = ctx.rng

    def expect(pos: Seq[Long]): Seq[Line] = pos.map(p => Line.of(p, model(p), salt))
    def compare(got: Array[Line], want: Seq[Line]): Option[String] = {
      val g = got.sortBy(_._rowid).toSeq
      if (g.size != want.size) Some(s"${g.size} rows, expected ${want.size}")
      else g.zip(want).collectFirst {
        case (a, b) if a != b => s"at ${b._rowid}: got key ${a.key}, expected key ${b.key}"
      }
    }
    def lines(df: DataFrame): Array[Line] = df.as[Line].collect()

    // half the positions uniform, half in the newest 5% of rows
    def pos(span: Int): Long = {
      val n = model.size - span
      if (rng.nextBoolean()) rng.nextLong(n.toLong)
      else { val lo = (n * 0.95).toLong; lo + rng.nextLong(math.max(1L, n - lo)) }
    }
    def newRows(at: Long, k: Int): (Seq[Long], DataFrame) = {
      val ks = (0 until k).map(i => nextKey + i); nextKey += k
      (ks, ks.zipWithIndex.map { case (key, i) => Line.of(at + i, key, salt) }.toDF().drop("_rowid"))
    }

    val v0 = st.version
    val timed = ctx.rounds(Script) {
      case "point" =>
        val p = pos(1)
        ctx.op("read", "table.point")(lines(tbl.point(p)))(compare(_, expect(Seq(p))))
      case "slice" =>
        val p = pos(100)
        ctx.op("read", "table.slice")(lines(tbl.slice(p, p + 99)))(compare(_, expect(p to p + 99)))
      case "hyperslab" =>
        val p = pos(40 * 25)
        val want = for (k <- 0 until 40; b <- 0 until 2) yield p + k * 25 + b
        ctx.op("read", "table.hyperslab")(lines(tbl.hyperslab(p, 40, 25, 2)))(compare(_, expect(want)))
      case "select_rows" =>
        val ps = Seq.fill(20)(pos(1)).distinct.sorted
        ctx.op("read", "table.select_rows")(lines(tbl.selectRows(ps)))(compare(_, expect(ps)))
      case "scan" =>
        val p = pos(5000)
        val want = expect(p until p + 5000).filter(_.quantity > 25.0)
        ctx.op("read", "sources.scan") {
          lines(spark.read.format("hdfstore").option("table", "lineitem").load(st.root)
            .filter(col("_rowid").between(p, p + 4999) && col("quantity") > 25.0))
        }(compare(_, want))
      case "nd_read" =>
        val (r, c) = (rng.nextLong(Side - 16L), rng.nextLong(Side - 16L))
        val want = for (i <- 0 until 8; j <- 0 until 8)
          yield Cell(r + 2 * i, c + 2 * j, grid(((r + 2 * i) * Side + c + 2 * j).toInt))
        ctx.op("read", "ndarray.hyperslab_read") {
          nd.hyperslab(Seq(r, c), Seq(8L, 8L), Seq(2L, 2L), Seq(1L, 1L)).as[Cell].collect()
        }(got => if (got.toSeq == want) None else Some("ndarray hyperslab differs from the model"))
      case "append" =>
        val (ks, df) = newRows(model.size.toLong, 100)
        ctx.op("write", "table.append")(tbl.append(df))(_ => None)
        model.insert(model.size, ks)
      case "update" =>
        val p = pos(10)
        val (ks, df) = newRows(p, 10)
        ctx.op("write", "table.update")(tbl.update(p, df))(_ => None)
        model.set(p.toInt, ks)
      case "insert" =>
        val p = pos(1)
        val (ks, df) = newRows(p, 10)
        ctx.op("write", "table.insert")(tbl.insert(p, df))(_ => None)
        model.insert(p.toInt, ks)
      case "delete" =>
        val p = pos(10)
        ctx.op("write", "table.delete")(tbl.delete(p, p + 9))(_ => None)
        model.delete(p.toInt, 10)
      case "compact" =>
        ctx.op("write", "table.compact_small_runs")(tbl.compactSmallRuns(Chunk))(_ => None)
      case "nd_write" =>
        val (r, c) = (rng.nextLong(Side - 8L), rng.nextLong(Side - 8L))
        val vals = Seq.fill(16)(rng.nextInt(1 << 20) / 8.0)
        ctx.op("write", "ndarray.hyperslab_write") {
          nd.writeHyperslab(Seq(r, c), Seq(4L, 4L), Seq(2L, 2L), Seq(1L, 1L), vals)
        }(_ => None)
        for (i <- 0 until 4; j <- 0 until 4)
          grid(((r + 2 * i) * Side + c + 2 * j).toInt) = vals(i * 4 + j)
    }
    ctx.log(s"timed phase done: ${ctx.ops.size} ops")

    // end of run: full-scan key compare and full array compare
    ctx.check("table full scan") {
      val got = tbl.df.select(col("_rowid"), col("key")).as[(Long, Long)].collect().sortBy(_._1)
      if (got.length != model.size) Some(s"${got.length} rows, model has ${model.size}")
      else got.indices.collectFirst {
        case i if got(i)._1 != i || got(i)._2 != model(i.toLong) => s"position $i holds key ${got(i)._2}"
      }
    }
    ctx.check("ndarray full read") {
      val got = nd.read().select("value").as[Double].collect()
      if (got.sameElements(grid)) None else Some("array differs from the model")
    }
    ctx.check("row count") {
      if (tbl.nrows == model.size) None else Some(s"nrows ${tbl.nrows} vs model ${model.size}")
    }
    // self-test: the comparator must count a deliberately wrong expectation
    ctx.check("self-test") {
      val got = lines(tbl.point(0))
      val wrong = Seq(Line.of(0, model(0) + 1, salt))
      if (compare(got, wrong).isDefined) None else Some("a wrong expectation was not counted")
    }

    ctx.log("checks done")
    val commits = st.version - v0
    val segments = st.segmentCount("lineitem")
    val before = Disk.bytes(spark, st.root)
    st.vacuum(0)
    val after = Disk.bytes(spark, st.root)
    Outcome(setupSamples.map(_._1), timed, 0L, after, model.size.toLong + Side * Side,
      Map("store.commits" -> commits.toDouble, "store.segments_end" -> segments.toDouble,
        "store.files_end" -> Disk.parquetFiles(spark, st.root).toDouble,
        "store.unvacuumed_bytes" -> (before - after).toDouble))
  }
}
