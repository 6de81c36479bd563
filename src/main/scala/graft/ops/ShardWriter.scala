package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.{Bridge, DriverParquet}
import org.apache.spark.sql.types._

/**
 * Physical SHARD WRITER — the terminal step of the corpus-assembly
 * recipe (select under budget → deterministic global shuffle → pack
 * into shards): materializes the shuffled corpus as the file tree a
 * training job actually consumes, with a committed manifest and an
 * atomic publish. This is the Spark analog of the reference's chunked
 * bulk write (`nimtables.nim:94-104`; chunk-size knob `:60`), lifted
 * to a distributed layout.
 *
 * == Layout ==
 *
 * `path/shard=K/part-*.parquet` — the input rows plus their
 * `shuffle_pos`, hive-partitioned by `shard = shuffle_pos mod
 * numShards` (INTERLEAVED assignment: adjacent permutation positions
 * land on different shards, so shards are balanced to within one row
 * AND each is a decorrelated sample of the corpus — a range split
 * would make shard 0 "the first N/K documents" of the permutation,
 * re-introducing ordering structure between shards). Within a shard,
 * rows are laid out in ascending `shuffle_pos`; files split at
 * `maxRowsPerFile` rows, and because one shard is written by ONE task
 * from one sorted stream, each file holds a CONTIGUOUS position
 * range. A consumer streams a shard's files in MANIFEST order
 * (ascending `min_pos` — the committed file order; part-file name
 * order happens to agree below 1000 files per shard but is not the
 * contract) and reads that shard's slice of the permutation in
 * order, no shuffle and no index needed.
 *
 * `path/_manifest` — one row per DATA FILE (underscore sidecar,
 * invisible to the data scan): `(shard, file, n_docs, n_tokens,
 * min_pos, max_pos, min_id, max_id)` plus the constant IDENTITY
 * columns `(salt, buckets, num_shards, budget, n_total)`. The stats
 * are aggregated from a READ-BACK of the staged tree — the manifest
 * describes what is physically on disk, not what the writer intended
 * to put there.
 *
 * == Identity (the permutation contract) ==
 *
 * [[Sample.shuffleRank]]'s permutation is a function of BOTH `salt`
 * and `buckets`, and the row SET is a function of the selection
 * budget — so all three (plus `numShards`, which fixes the
 * row→shard map) are recorded in the manifest, and a re-run against
 * an existing tree with ANY of them changed is REFUSED loudly (the
 * index id-guard discipline): silently overwriting shards built
 * under a different permutation would hand a resuming training job a
 * different document order mid-run. A matching re-run REPLACES the
 * tree atomically (idempotent re-publish).
 *
 * == Atomicity ==
 *
 * Everything lands in a staging sibling first (data, then manifest,
 * then the layout-law verification below); the
 * [[IndexMaintenance.stagedSwap]] rename pair then makes it live.
 * A reader never sees a half-written tree; a crashed writer leaves
 * the old tree live (or, between the two renames, recoverable via
 * [[IndexMaintenance.restoreAfterCrash]]).
 *
 * == Layout laws (verified on the staged tree before the swap) ==
 *
 *  - `shuffle_pos` is a DENSE permutation `[0, N)` (so every shard's
 *    row count is exactly `ceil((N − shard) / numShards)` — checked
 *    per shard, driver-side from the manifest);
 *  - every row's `pos mod numShards == shard` (checked in the same
 *    aggregation pass that builds the manifest — zero extra I/O);
 *  - within a shard, files ordered by NAME carry non-overlapping,
 *    strictly increasing position ranges (driver-side over the
 *    manifest rows — shards × files rows, bounded by construction).
 *
 * == Scale shape ==
 *
 * One hash shuffle of the selected corpus on `shard` (numShards-way
 * — the only data movement), a per-shard sort of ~N/numShards rows,
 * one streaming read-back of the staged tree for the manifest
 * aggregation (map-side combine to files × shards rows). One shard =
 * one write task: size `numShards` for ~task-sized shards (training
 * shards are GBs by design — a 100 TB corpus at 4 GB/shard is 25k
 * shards = 25k tasks, comfortably parallel). The manifest is
 * files × shards rows — driver-trivial at any corpus size.
 */
object ShardWriter {

  /** Manifest sidecar path of a shard tree. */
  private def manifestPath(path: String) = s"$path/_manifest"

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The identity columns appended to every manifest row. */
  private val IdentityCols =
    Seq("salt", "buckets", "num_shards", "budget", "n_total")

  /** Write `df` (which must carry the `shuffle_pos` column produced by
    * [[Sample.shuffleRank]] — dense `[0, N)`) as a physical shard tree
    * at `path`. See the object doc for layout, identity, and
    * atomicity. `budget` records the upstream selection budget in the
    * manifest identity (pass the value actually used; it has no
    * effect on the rows written here).
    *
    * Fail-loud inputs: a NULL or negative token count raises per
    * offending row (the [[Sample.packByTokenBudget]] rule — a silently
    * mis-counted shard manifest would corrupt every downstream token
    * budget); a missing `shuffle_pos`, a non-dense permutation, or an
    * identity mismatch with an existing tree refuse before anything
    * is published. */
  def writeShards(df: DataFrame, idCol: String, tokenCol: String,
                  numShards: Int, path: String,
                  salt: String, buckets: Int, budget: Long,
                  maxRowsPerFile: Long = 1L << 20): Unit = {
    require(numShards >= 1 && numShards <= (1 << 20),
      s"numShards must be in [1, 2^20], got $numShards")
    require(maxRowsPerFile >= 1,
      s"maxRowsPerFile must be >= 1, got $maxRowsPerFile")
    require(df.columns.contains("shuffle_pos"),
      "writeShards: input must carry the 'shuffle_pos' column — run " +
        "Sample.shuffleRank AFTER the final selection, then write")
    require(!df.columns.contains("shard"),
      "writeShards appends a 'shard' column; the input already has one " +
        "— rename it first")
    val spark = df.sparkSession
    // recover a crash between stagedSwap's two renames BEFORE the
    // identity check: with the live tree absent the check would pass
    // vacuously, stagedSwap would restore the old tree and immediately
    // replace it — a drifted identity silently overwriting a recovered
    // tree, exactly the refusal this guard promises
    IndexMaintenance.restoreAfterCrash(spark, path)
    requireIdentityMatch(spark, path, salt, buckets, numShards, budget)
    // token counts are checked at WRITE time so the manifest's token
    // sums are trustworthy; the raise rides the projection that feeds
    // the shuffle (no extra pass)
    val checkedTok = when(
      col(tokenCol).isNotNull && col(tokenCol) >= 0, col(tokenCol))
      .otherwise(raise_error(concat(
        lit(s"writeShards: token count ('$tokenCol') must be a "),
        lit("non-negative number, got "),
        coalesce(col(tokenCol).cast("string"), lit("NULL")),
        lit(" for id "), coalesce(col(idCol).cast("string"), lit("NULL")))))
    IndexMaintenance.stagedSwap(spark, path) { tmp =>
      df.withColumn(tokenCol, checkedTok)
        .withColumn("shard", pmod(col("shuffle_pos"), lit(numShards.toLong)))
        // one shard value -> one hash partition -> ONE task writes the
        // whole shard from one sorted stream (hash collisions between
        // shard values only reduce parallelism, never split a shard)
        .repartition(numShards, col("shard"))
        .sortWithinPartitions("shard", "shuffle_pos")
        .write.partitionBy("shard")
        .option("maxRecordsPerFile", maxRowsPerFile)
        .mode("overwrite").parquet(tmp)
      writeManifest(spark, tmp, idCol, tokenCol, numShards,
        salt, buckets, budget)
    }
  }

  /** Build + verify + commit the `_manifest` sidecar from a read-back
    * of the staged tree. One streaming aggregation pass (map-side
    * combine to shards × files rows); the mod-assignment law rides the
    * same pass, the density and file-contiguity laws run driver-side
    * over the manifest rows. `min_id`/`max_id` keep the id column's
    * NATURAL type (a Long id gets numeric min/max, a string id
    * lexicographic — whatever the engine's `min` means for that type,
    * so a SQL replay agrees). */
  private def writeManifest(spark: SparkSession, tmp: String,
                            idCol: String, tokenCol: String,
                            numShards: Int, salt: String, buckets: Int,
                            budget: Long): Unit = {
    // a zero-row input writes a staged tree with no data files, which
    // the read-back cannot even infer a schema for — check for data
    // files FIRST and refuse with the intended message; any OTHER
    // read-back failure (corrupt footer, permissions) propagates
    // untranslated, pointing at the real I/O problem
    val stagedFs = fsOf(spark, tmp)
    val stagedFiles = stagedFs.listFiles(new Path(tmp), true)
    var hasData = false
    while (!hasData && stagedFiles.hasNext)
      hasData = stagedFiles.next().getPath.getName.endsWith(".parquet")
    if (!hasData) throw new IllegalArgumentException(
      "writeShards: the input selected zero rows (the staged tree " +
        "holds no data files) — refusing to publish an empty shard tree")
    val staged = spark.read.parquet(tmp)
    // eagerly materialized: the tiny per-file relation feeds the law
    // checks AND the manifest write — one real scan of the staged tree
    val perFile = staged.select(
        col("shard").cast(LongType).as("shard"),
        col("_metadata.file_name").as("file"),
        // normalized to LONG whatever integral type the input carried:
        // min_pos/max_pos flow into getAs[Long] law checks and the
        // MetaIO manifest template's Long exemplar — an IntegerType
        // shuffle_pos would otherwise throw at publish time
        col("shuffle_pos").cast(LongType).as("shuffle_pos"),
        col(idCol).as("_id"),
        col(tokenCol).cast(LongType).as("_tok"),
        (pmod(col("shuffle_pos"), lit(numShards.toLong)) =!=
          col("shard").cast(LongType)).cast(LongType).as("_bad"))
      .groupBy("shard", "file")
      .agg(count(lit(1)).as("n_docs"), sum("_tok").as("n_tokens"),
        min("shuffle_pos").as("min_pos"), max("shuffle_pos").as("max_pos"),
        min("_id").as("min_id"), max("_id").as("max_id"),
        sum("_bad").as("_n_bad"),
        countDistinct(col("shuffle_pos")).as("_n_distinct"))
      .localCheckpoint(true)
    val rows = perFile
      .select("shard", "file", "n_docs", "n_tokens", "min_pos", "max_pos",
        "_n_bad", "_n_distinct")
      .collect() // shards × files rows — bounded by construction
    require(rows.forall(_.getAs[Long]("_n_bad") == 0L),
      "writeShards: a row's shuffle_pos mod numShards does not match " +
        "its shard directory — the staged tree is corrupt; nothing was " +
        "published")
    val n = rows.map(_.getAs[Long]("n_docs")).sum
    // an EMPTY tree would be unreadable (no schema) and its manifest
    // identity unloadable — refuse before publishing (the
    // requireIndexNonEmpty discipline)
    require(n > 0L,
      "writeShards: the input selected zero rows — refusing to publish " +
        "an empty shard tree")
    // density law: dense [0, N) + interleaved assignment fixes every
    // shard's exact row count
    rows.groupBy(_.getAs[Long]("shard")).foreach { case (s, files) =>
      val want = (n - s + numShards - 1) / numShards // ceil((N - s) / K)
      val have = files.map(_.getAs[Long]("n_docs")).sum
      def refuse(what: String): Nothing = throw new IllegalArgumentException(
        s"writeShards: shard $s $what — shuffle_pos is not a dense " +
          s"[0, $n) permutation (filter BEFORE shuffleRank, not after); " +
          "nothing was published")
      if (have != want)
        refuse(s"holds $have rows where a dense permutation requires $want")
      // each FILE is written from one sorted stream of this shard's
      // positions {s, s+K, s+2K, ...}, so its positions must be EXACTLY
      // the arithmetic progression its row count implies: the span law
      // pins the endpoints, the mod law (above) pins every position to
      // the residue grid, and the distinct law rules out a duplicate
      // masking an in-file hole ({s, s, s+2K} satisfies span + count) —
      // c DISTINCT grid points inside a (c-1)·K span are the
      // progression, so together with non-overlap and the shard count
      // law the whole permutation is pinned dense
      files.foreach { f =>
        val (mn, mx, c) = (f.getAs[Long]("min_pos"),
          f.getAs[Long]("max_pos"), f.getAs[Long]("n_docs"))
        if (mx - mn != (c - 1) * numShards)
          refuse(s"file ${f.getAs[String]("file")} spans positions " +
            s"[$mn, $mx] with only $c rows")
        if (f.getAs[Long]("_n_distinct") != c)
          refuse(s"file ${f.getAs[String]("file")} holds " +
            s"${f.getAs[Long]("_n_distinct")} distinct positions in $c " +
            "rows — duplicated shuffle_pos")
      }
      // shard-global range law: min is the first position of the
      // residue class, max the last below N
      val mins = files.map(_.getAs[Long]("min_pos")).min
      val maxs = files.map(_.getAs[Long]("max_pos")).max
      if (mins != s || maxs != s + numShards * ((n - 1 - s) / numShards))
        refuse(s"covers positions [$mins, $maxs], expected [$s, " +
          s"${s + numShards * ((n - 1 - s) / numShards)}]")
      // file-contiguity law: ordered by min_pos, position ranges are
      // strictly increasing and non-overlapping. (The manifest's
      // min_pos IS the consumer's file order; part-file NAME order
      // happens to match below 1000 files per shard but is not the
      // contract.)
      files.sortBy(_.getAs[Long]("min_pos")).sliding(2).foreach {
        case Array(a, b) =>
          require(a.getAs[Long]("max_pos") < b.getAs[Long]("min_pos"),
            s"writeShards: shard $s files ${a.getAs[String]("file")} and " +
              s"${b.getAs[String]("file")} have overlapping position " +
              "ranges; nothing was published")
        case _ => ()
      }
    }
    // driver-direct manifest write: the rows are already checkpointed
    // driver-near and bounded at shards × files, so a Spark write would
    // pay a whole job to serialize them
    val manifestDf = perFile.drop("_n_bad", "_n_distinct")
      .withColumn("salt", lit(salt))
      .withColumn("buckets", lit(buckets))
      .withColumn("num_shards", lit(numShards))
      .withColumn("budget", lit(budget))
      .withColumn("n_total", lit(n))
      // the audited column NAMES ride the manifest so [[verifyShards]]
      // can re-derive every stat without being told the schema
      .withColumn("id_col", lit(idCol))
      .withColumn("token_col", lit(tokenCol))
    graft.store.MetaIO.writeRows(spark.sparkContext.hadoopConfiguration,
      manifestPath(tmp), manifestDf.schema, manifestDf.collect().toSeq)
    perFile.unpersist(); ()
  }

  /** Refuse a re-run whose permutation/selection identity differs from
    * the tree already at `path` (see the object doc). A tree with no
    * readable manifest is refused outright — it is not a shard tree
    * this writer published. */
  private def requireIdentityMatch(spark: SparkSession, path: String,
                                   salt: String, buckets: Int,
                                   numShards: Int, budget: Long): Unit = {
    val fs = fsOf(spark, path)
    if (!fs.exists(new Path(path))) return
    require(fs.exists(new Path(manifestPath(path))),
      s"writeShards: $path exists but has no _manifest sidecar — not a " +
        "shard tree this writer published; refusing to overwrite it " +
        "(remove it explicitly if that is intended)")
    val m = loadIdentity(spark, path)
    val mine = (salt, buckets, numShards, budget)
    require(m == mine,
      s"writeShards: $path was built under identity (salt, buckets, " +
        s"num_shards, budget) = $m; refusing a re-run under $mine — a " +
        "different permutation or selection would silently reorder the " +
        "corpus under a resuming consumer. Write to a new path, or " +
        "re-run with the recorded identity to re-publish")
  }

  /** The `(salt, buckets, numShards, budget)` identity a shard tree
    * was published under. */
  def loadIdentity(spark: SparkSession,
                   path: String): (String, Int, Int, Long) = {
    // driver-direct projected read (the identity is constant across
    // manifest rows); no Spark job for four scalars
    val m = graft.store.MetaIO.readRowColumns(
        spark.sparkContext.hadoopConfiguration, manifestPath(path),
        Seq("salt", "buckets", "num_shards", "budget"))
      .getOrElse(throw new IllegalStateException(
        s"shard tree at $path has no readable _manifest"))
    (m("salt").asInstanceOf[String], m("buckets").asInstanceOf[Int],
      m("num_shards").asInstanceOf[Int], m("budget").asInstanceOf[Long])
  }

  /** The committed per-file manifest of a shard tree, read on the driver
    * at call time (Spark's parquet decoder, schema from one footer —
    * [[graft.store.MetaIO.sparkSchemaOf]]): the same columns and rows as
    * a Spark read of `_manifest`, with no job. */
  def loadManifest(spark: SparkSession, path: String): DataFrame = {
    val dir = manifestPath(path)
    val schema = graft.store.MetaIO.sparkSchemaOf(spark.sparkContext.hadoopConfiguration, dir)
      .map(Bridge.asNullable(_).asInstanceOf[StructType])
      .getOrElse(throw new IllegalStateException(s"shard tree at $path has no readable _manifest"))
    val files = fsOf(spark, dir).listStatus(new Path(dir)).filter { s =>
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.sortBy(_.getPath.getName).toSeq
    val read = DriverParquet.reader(spark, schema, Nil)
    DriverParquet.frame(spark, schema, files.flatMap(read(_, _ => true)))
  }

  /** The manifest rows driver-direct ([[graft.store.MetaIO.readRows]]) —
    * the collect-right-after-read sites ([[shardFilesInOrder]],
    * [[readShardSlice]]) paid a full Spark job (listing, schema
    * inference, scheduling) for a shards × files table that is bounded
    * and driver-bound anyway; a file resume probe should cost one local
    * parquet read. Integral columns normalize to Long (legacy manifests
    * may carry int32). */
  private def manifestRows(spark: SparkSession,
                           path: String): Vector[Map[String, Any]] =
    graft.store.MetaIO.readRows(spark.sparkContext.hadoopConfiguration,
      manifestPath(path))

  private def asLong(v: Any): Long = v match {
    case l: Long => l
    case i: Int  => i.toLong
    case other => throw new IllegalStateException(
      s"shard manifest: expected an integral value, got $other")
  }

  /** Read a shard tree's data back (the `shard` partition column rides
    * along; `_manifest` is invisible to the scan). Within-file row
    * order is the position order by construction, but Spark's scan
    * does not promise cross-file ordering — a consumer that needs the
    * global order sorts by `shuffle_pos` (or streams files in
    * [[shardFilesInOrder]] order, the zero-shuffle path). Refuses a
    * path with no committed manifest: an EPOCH ROOT would otherwise
    * scan every epoch's rows merged — colliding `shuffle_pos`
    * permutations with no warning (pass [[epochPath]] or use
    * [[readShardEpoch]] instead). */
  def readShards(spark: SparkSession, path: String): DataFrame = {
    require(fsOf(spark, path).exists(new Path(manifestPath(path))),
      s"readShards: no _manifest at $path — not a published shard tree " +
        "(for an epoch lineage, read ONE epoch: readShardEpoch / " +
        "epochPath(root, epoch))")
    spark.read.parquet(path)
  }

  /** One shard's data FILES in consumption order (ascending committed
    * `min_pos` — each file is a contiguous slice of the shard's
    * positions, so reading them in this order streams the shard's
    * slice of the permutation with no sort and no index): absolute
    * paths under `path/shard=<shard>/`. The training-consumer entry
    * point — a reader outside Spark walks exactly this list. */
  def shardFilesInOrder(spark: SparkSession, path: String,
                        shard: Long): Seq[String] = {
    val files = manifestRows(spark, path)
      .filter(r => asLong(r("shard")) == shard)
      .sortBy(r => asLong(r("min_pos")))
      .map(r => r("file").asInstanceOf[String])
    require(files.nonEmpty,
      s"shardFilesInOrder: no manifest entries for shard $shard at $path")
    files.map(f => s"$path/shard=$shard/$f")
  }

  /** The permutation SLICE `[fromPos, untilPos)` of a shard tree — the
    * resume-a-training-run primitive (step N of a run with batch size
    * B starts at position N·B): only the files whose COMMITTED
    * position ranges intersect the slice are read (manifest pruning —
    * each file is a contiguous arithmetic range per shard, so a slice
    * touches ~`(span/N)·files` of them and a resume near the end of a
    * 100 TB corpus reads a tail's worth of files, not the tree), then
    * the exact bound filters row-wise. The `shard` partition column
    * survives via `basePath`. Rows come back unordered (Spark scan
    * semantics) — order by `shuffle_pos` if consuming directly. */
  def readShardSlice(spark: SparkSession, path: String,
                     fromPos: Long, untilPos: Long): DataFrame = {
    require(fromPos >= 0L && untilPos > fromPos,
      s"readShardSlice: need 0 <= fromPos < untilPos, got " +
        s"[$fromPos, $untilPos)")
    val files = manifestRows(spark, path)
      .filter(r => asLong(r("max_pos")) >= fromPos &&
        asLong(r("min_pos")) < untilPos)
      .map(r => s"$path/shard=${asLong(r("shard"))}/" +
        r("file").asInstanceOf[String])
    val inRange =
      col("shuffle_pos") >= fromPos && col("shuffle_pos") < untilPos
    if (files.isEmpty) readShards(spark, path).filter(lit(false))
    else spark.read.option("basePath", path).parquet(files.toSeq: _*)
      .filter(inRange)
  }

  /** Integrity AUDIT of a published shard tree — the check a training
    * job runs before trusting months-old shards: every per-file stat
    * (rows, token sum, position and id ranges) is re-derived from the
    * DATA and compared against the committed `_manifest`, catching
    * lost/extra/rewritten files and any in-file corruption that moves
    * a count or range. One streaming aggregation pass over the tree
    * (the manifest-build shape — map-side combine to files × shards
    * rows, driver-trivial compare); the audited columns come from the
    * manifest's own `id_col`/`token_col` record, so the caller needs
    * no schema knowledge. Returns ONE row:
    * `(n_files, n_docs, n_tokens, tree_files, tree_docs, tree_tokens,
    * n_file_mismatch, ok)` — manifest totals, re-derived totals, the
    * count of per-file stat disagreements (files missing from either
    * side included), and `ok = totals match ∧ zero mismatches`. */
  def verifyShards(spark: SparkSession, path: String): DataFrame = {
    val man = loadManifest(spark, path)
    require(man.columns.contains("id_col"),
      s"verifyShards: the manifest at $path predates the audit columns " +
        "(no id_col/token_col record) — re-publish with writeShards")
    val head = man.select("id_col", "token_col").head()
    val (idCol, tokenCol) = (head.getString(0), head.getString(1))
    val tree = spark.read.parquet(path).select(
        col("shard").cast(LongType).as("shard"),
        col("_metadata.file_name").as("file"),
        col("shuffle_pos"),
        col(idCol).as("_id"),
        col(tokenCol).cast(LongType).as("_tok"))
      .groupBy("shard", "file")
      .agg(count(lit(1)).as("t_docs"), sum("_tok").as("t_tokens"),
        min("shuffle_pos").as("t_min_pos"), max("shuffle_pos").as("t_max_pos"),
        min("_id").as("t_min_id"), max("_id").as("t_max_id"))
      // materialized once: the tiny per-file relation feeds the
      // mismatch count AND the totals — one real scan of the tree
      .localCheckpoint(true)
    val joined = man.join(tree, Seq("shard", "file"), "full_outer")
    val mismatch = joined.filter(
      !(col("n_docs") <=> col("t_docs")) ||
        !(col("n_tokens") <=> col("t_tokens")) ||
        !(col("min_pos") <=> col("t_min_pos")) ||
        !(col("max_pos") <=> col("t_max_pos")) ||
        !(col("min_id") <=> col("t_min_id")) ||
        !(col("max_id") <=> col("t_max_id")))
    val r = joined.agg(
      count(col("n_docs")).as("n_files"),
      coalesce(sum("n_docs"), lit(0L)).as("n_docs"),
      coalesce(sum("n_tokens"), lit(0L)).as("n_tokens"),
      count(col("t_docs")).as("tree_files"),
      coalesce(sum("t_docs"), lit(0L)).as("tree_docs"),
      coalesce(sum("t_tokens"), lit(0L)).as("tree_tokens")).head()
    val nBad = mismatch.count()
    tree.unpersist()
    val ok = nBad == 0L &&
      r.getLong(0) == r.getLong(3) && r.getLong(1) == r.getLong(4) &&
      r.getLong(2) == r.getLong(5)
    import spark.implicits._
    Seq((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), nBad, ok))
      .toDF("n_files", "n_docs", "n_tokens", "tree_files", "tree_docs",
        "tree_tokens", "n_file_mismatch", "ok")
  }

  /** The composed SELECT → SHUFFLE → WRITE recipe in one call: per-
    * `groupCol` quality selection under `budget` tokens
    * ([[Sample.selectByBudget]]), the deterministic global shuffle
    * ([[Sample.shuffleRank]] under (`salt`, `buckets`)), then
    * [[writeShards]] into `numShards` physical shards at `path`.
    *
    * `checkpointSelected` (default ON) is the recipe's persist seam:
    * selection and shuffle each evaluate their input twice, so the
    * UNCHECKPOINTED composition scans the base relation 4× — fine for
    * a raw parquet scan, wasteful for a derived pipeline. The seam
    * materializes the SELECTED set once (eager `localCheckpoint` —
    * bounded by the budget mass, the small end of the funnel) and cuts
    * base scans to selectByBudget's own 2 (ScaleDrive pins the
    * counts); pass `false` to trade the checkpoint's memory/disk for
    * re-scans when the base is cheap. */
  // ====================================================================
  // Epoch lineage — a GROWING corpus under the identity contract
  // ====================================================================
  //
  // [[writeShards]] refuses a re-run whose (salt, buckets, numShards,
  // budget) identity drifted — correct for resume safety, but a real
  // pipeline RE-SELECTS (a bigger budget, a grown corpus, a new salt)
  // monthly, and "write to a fresh path with no lineage" loses the
  // history consumers are pinned to. The epoch layer is the reference's
  // append-only growth model (`nimtables.nim:173-175` — existing bytes
  // are never rewritten, growth happens past the end) lifted to corpus
  // scale: `root/epoch=N/` holds one immutable shard tree per published
  // selection identity. A NEW identity lands as epoch latest+1 beside
  // the old; re-publishing the LATEST identity re-publishes its epoch in
  // place (the same idempotent atomic replace writeShards already
  // guarantees); an identity matching a RETIRED (non-latest) epoch is
  // refused — history is append-only, a consumer pinned to epoch N must
  // never see N's permutation change. [[pruneEpochsBefore]] retires old
  // epochs explicitly (never the latest), so "which epochs still exist"
  // is an operator decision, not a side effect of publishing.

  private val EpochRe = "^epoch=(\\d+)$".r

  /** Root-relative path of one epoch's shard tree. */
  def epochPath(root: String, epoch: Int): String = s"$root/epoch=$epoch"

  /** The epochs currently published under `root`, ascending. Restores
    * any epoch whose publish crashed between stagedSwap's two renames
    * (its tree is recoverable from the `.graft-compact-old` sibling) so
    * a crashed epoch cannot vanish from the lineage and have its number
    * silently reused by the next publish. */
  def listEpochs(spark: SparkSession, root: String): Seq[Int] = {
    val fs = fsOf(spark, root)
    if (!fs.exists(new Path(root))) return Seq.empty
    val names = fs.listStatus(new Path(root)).map(_.getPath.getName)
    val crashed = names.flatMap { n =>
      if (n.endsWith(".graft-compact-old"))
        Some(n.stripSuffix(".graft-compact-old")) else None
    }.collect { case n @ EpochRe(_) if !names.contains(n) => n }
    crashed.foreach(n => IndexMaintenance.restoreAfterCrash(spark, s"$root/$n"))
    (names ++ crashed).collect { case EpochRe(e) => e.toInt }
      .distinct.sorted.toSeq
  }

  /** The latest (consumable-by-default) epoch under `root`. */
  def latestEpoch(spark: SparkSession, root: String): Int = {
    val eps = listEpochs(spark, root)
    require(eps.nonEmpty, s"latestEpoch: no epochs published at $root")
    eps.last
  }

  /** Publish `df` (carrying `shuffle_pos`, as for [[writeShards]]) into
    * the epoch tree at `root` under the given selection identity, and
    * return the epoch it landed in: the latest epoch if the identity
    * matches it (idempotent re-publish), a NEW epoch `latest+1` if the
    * identity is new, and a loud refusal if the identity matches a
    * retired epoch (old epochs are immutable — pin that epoch to read
    * it). Each epoch is a full [[writeShards]] tree: staged-swap
    * atomicity, manifest, and layout laws all apply per epoch. */
  def writeShardEpoch(df: DataFrame, idCol: String, tokenCol: String,
                      numShards: Int, root: String,
                      salt: String, buckets: Int, budget: Long,
                      maxRowsPerFile: Long = 1L << 20): Int = {
    val spark = df.sparkSession
    // the mirror of readShards' epoch-root refusal: writing epoch=0
    // INSIDE a published single tree (or any foreign directory) would
    // corrupt it — a later scan sees leaf files at conflicting
    // partition depths
    val fs = fsOf(spark, root)
    if (fs.exists(new Path(root))) {
      require(!fs.exists(new Path(manifestPath(root))),
        s"writeShardEpoch: $root is a published single shard tree " +
          "(writeShards) — an epoch lineage nests one tree per " +
          "epoch=N; pass a fresh root, or keep using writeShards on " +
          "this path")
      def isEpochEntry(n: String): Boolean =
        Seq("", ".graft-compact-old", ".graft-compact-tmp").exists(sfx =>
          n.endsWith(sfx) &&
            EpochRe.findFirstIn(n.stripSuffix(sfx)).isDefined)
      val stray = fs.listStatus(new Path(root)).map(_.getPath.getName)
        .filterNot(isEpochEntry)
      require(stray.isEmpty,
        s"writeShardEpoch: $root holds non-epoch entries " +
          s"(${stray.take(3).mkString(", ")}) — not an epoch lineage " +
          "this writer published; refusing to write into it")
    }
    val eps = listEpochs(spark, root)
    val mine = (salt, buckets, numShards, budget)
    val owner = eps.find(e => loadIdentity(spark, epochPath(root, e)) == mine)
    val target = owner match {
      case Some(e) if e == eps.last => e // idempotent re-publish of HEAD
      case Some(e) => throw new IllegalArgumentException(
        s"writeShardEpoch: identity (salt, buckets, num_shards, budget) " +
          s"= $mine matches RETIRED epoch $e at $root (latest is " +
          s"${eps.last}); epochs are immutable once superseded — pin " +
          s"epoch $e to read it, or publish under a new identity")
      case None => eps.lastOption.getOrElse(-1) + 1
    }
    writeShards(df, idCol, tokenCol, numShards, epochPath(root, target),
      salt, buckets, budget, maxRowsPerFile)
    target
  }

  /** Read one PINNED epoch's shard tree (the consumer contract: a
    * training run records its epoch at step 0 and reads only that —
    * later publishes are invisible to it). */
  def readShardEpoch(spark: SparkSession, root: String,
                     epoch: Int): DataFrame = {
    val eps = listEpochs(spark, root)
    require(eps.contains(epoch),
      s"readShardEpoch: epoch $epoch not published at $root " +
        s"(have ${eps.mkString(", ")}) — it may have been pruned")
    readShards(spark, epochPath(root, epoch))
  }

  /** Retire every epoch BELOW `epoch` (exclusive): verifies the cut
    * keeps at least the latest epoch, then deletes the retired trees.
    * Returns the epochs removed. Deletion is the explicit lifecycle
    * step — a consumer pinned to a pruned epoch fails loudly at its
    * next [[readShardEpoch]], never reads a different permutation. */
  def pruneEpochsBefore(spark: SparkSession, root: String,
                        epoch: Int): Seq[Int] = {
    val eps = listEpochs(spark, root)
    require(eps.nonEmpty, s"pruneEpochsBefore: no epochs at $root")
    require(epoch <= eps.last,
      s"pruneEpochsBefore: cut $epoch would retire the latest epoch " +
        s"${eps.last} — the head of the lineage is never pruned")
    val gone = eps.filter(_ < epoch)
    val fs = fsOf(spark, root)
    gone.foreach { e =>
      require(fs.delete(new Path(epochPath(root, e)), true),
        s"pruneEpochsBefore: could not delete epoch $e at $root")
      // a crashed-swap sibling left by an old re-publish must go too:
      // listEpochs would otherwise "restore" the pruned epoch from the
      // stale sibling — a retired permutation silently re-entering the
      // lineage
      Seq(".graft-compact-old", ".graft-compact-tmp").foreach { sfx =>
        val p = new Path(epochPath(root, e) + sfx)
        if (fs.exists(p)) { fs.delete(p, true); () }
      }
    }
    gone
  }

  /** What CHANGED between two epochs' corpora — the governance question
    * a re-selection raises ("which documents entered / left the
    * training set between last month's epoch and this one"): one row
    * per document present in exactly ONE of the two epochs, with
    * `side = 'added'` (only in `eTo`) or `'removed'` (only in `eFrom`)
    * and its token count from the epoch that holds it. The id and
    * token columns come from the manifests' own records (and must
    * agree between the epochs — a diff across different schemas is
    * refused).
    *
    * Scale shape: two column-pruned scans (id + token only — text and
    * vectors never move) into one hash join on the id; rows in both
    * epochs are dropped pre-projection, so the output is the symmetric
    * difference only. */
  /** The (id, token) column names two epochs both record — refused on
    * disagreement (they would not be the same corpus). */
  private[ops] def sharedCols(spark: SparkSession, root: String, op: String,
                              eA: Int, eB: Int): (String, String) = {
    val eps = listEpochs(spark, root)
    require(eps.contains(eA) && eps.contains(eB) && eA != eB,
      s"$op: need two distinct published epochs, got ($eA, $eB) of " +
        eps.mkString(", "))
    def cols(e: Int): (String, String) = {
      // driver-direct projected read — two constant scalars, no job
      val m = graft.store.MetaIO.readRowColumns(
          spark.sparkContext.hadoopConfiguration,
          manifestPath(epochPath(root, e)), Seq("id_col", "token_col"))
        .getOrElse(throw new IllegalStateException(
          s"$op: epoch $e at $root has no readable _manifest"))
      (m("id_col").asInstanceOf[String], m("token_col").asInstanceOf[String])
    }
    val c = cols(eA)
    require(cols(eB) == c,
      s"$op: epochs $eA and $eB record different id/token columns " +
        s"($c vs ${cols(eB)}) — not the same corpus")
    c
  }

  def epochDiff(spark: SparkSession, root: String,
                eFrom: Int, eTo: Int): DataFrame = {
    val (idCol, tokenCol) = sharedCols(spark, root, "epochDiff",
      eFrom, eTo)
    def side(e: Int, tag: String) =
      readShards(spark, epochPath(root, e))
        .select(col(idCol), col(tokenCol).cast(LongType).as(s"_tok_$tag"))
    side(eFrom, "from")
      .join(side(eTo, "to"), Seq(idCol), "full_outer")
      // writeShards refuses NULL token counts, so a NULL side here
      // means ABSENT from that epoch — the symmetric difference
      .filter(col("_tok_from").isNull || col("_tok_to").isNull)
      .select(col(idCol),
        when(col("_tok_from").isNull, lit("added"))
          .otherwise(lit("removed")).as("side"),
        coalesce(col("_tok_to"), col("_tok_from")).as("n_tokens"))
  }

  /** Resume a training run ACROSS a re-selection: the run consumed the
    * first `step · batchSize` permutation positions of `oldEpoch`, the
    * corpus has since re-published as `newEpoch`, and the run wants to
    * continue on the new corpus WITHOUT re-seeing documents it already
    * trained on. Returns the new epoch's rows whose ids are not in the
    * consumed prefix, in the NEW epoch's permutation (`shuffle_pos`) —
    * stream it in position order like any epoch read. This is the only
    * sound cross-epoch resume: positions are NOT comparable between
    * epochs (different permutations), so continuation is by document
    * identity, not position.
    *
    * Scale shape: the consumed prefix is read manifest-PRUNED from the
    * old epoch (a prefix touches ~`(consumed/N)` of its files) and only
    * its id column survives into one left-anti hash join against the
    * new epoch — text/vectors never move, and a small consumed set
    * broadcasts under AQE. */
  def resumeIntoEpoch(spark: SparkSession, root: String,
                      oldEpoch: Int, newEpoch: Int,
                      step: Long, batchSize: Long): DataFrame = {
    require(step >= 0L && batchSize >= 1L,
      s"resumeIntoEpoch: need step >= 0 and batchSize >= 1, got " +
        s"($step, $batchSize)")
    val (idCol, _) = sharedCols(spark, root, "resumeIntoEpoch",
      oldEpoch, newEpoch)
    val fresh = readShardEpoch(spark, root, newEpoch)
    val from = step * batchSize
    if (from == 0L) fresh // nothing consumed yet — the whole new epoch
    else {
      val consumed = readShardSlice(spark, epochPath(root, oldEpoch),
        0L, from).select(idCol)
      fresh.join(consumed, Seq(idCol), "left_anti")
    }
  }

  /** Resume-a-training-run sugar over [[readShardSlice]]: global step
    * `step` of a run with `batchSize` documents per step restarts at
    * permutation position `step · batchSize`; everything from there to
    * the corpus end comes back, manifest-pruned to the files whose
    * committed ranges intersect the tail. */
  def resumeFrom(spark: SparkSession, path: String,
                 step: Long, batchSize: Long): DataFrame = {
    require(step >= 0L && batchSize >= 1L,
      s"resumeFrom: need step >= 0 and batchSize >= 1, got " +
        s"($step, $batchSize)")
    // driver-direct projected read (n_total is constant across rows)
    val n = asLong(graft.store.MetaIO.readRowColumns(
        spark.sparkContext.hadoopConfiguration, manifestPath(path),
        Seq("n_total"))
      .getOrElse(throw new IllegalStateException(
        s"resumeFrom: no readable _manifest at $path"))("n_total"))
    val from = step * batchSize
    require(from < n,
      s"resumeFrom: step $step x batch $batchSize = position $from is " +
        s"past the corpus end ($n rows) — the run already consumed " +
        "this epoch")
    readShardSlice(spark, path, from, n)
  }

  def writeShardRecipe(df: DataFrame, groupCol: String, idCol: String,
                       scoreCol: String, tokenCol: String, budget: Long,
                       numShards: Int, path: String,
                       salt: String = "", buckets: Int = 1024,
                       maxRowsPerFile: Long = 1L << 20,
                       checkpointSelected: Boolean = true): Unit = {
    val selected = Sample.selectByBudget(df, groupCol, idCol, scoreCol,
        tokenCol, budget)
      .drop("cum_tokens", "sel_rank")
    val sel =
      if (checkpointSelected) selected.localCheckpoint(true) else selected
    try {
      val shuffled = Sample.shuffleRank(sel, idCol, salt, buckets)
      writeShards(shuffled, idCol, tokenCol, numShards, path,
        salt, buckets, budget, maxRowsPerFile)
    } finally if (checkpointSelected) { sel.unpersist(); () }
  }
}
