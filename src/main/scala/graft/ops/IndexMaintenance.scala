package graft.ops

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One parquet data subtree of an index tree (`dir` relative to the
  * index root; "" is the root itself) and the ONE place its physical
  * layout is decided: hash (or, `byRange`, range) repartition on
  * `repartition`, within-partition `sort`, hive `partitionBy`. Every
  * build, append and compaction that writes the subtree through
  * [[write]] produces the same layout, so the three can never drift.
  * When `partitionBy` is set it leads `sort`: the partitionBy writer's
  * required ordering is then already satisfied, so the writer inserts no
  * second sort and the within-directory order is guaranteed. */
private[ops] final case class Subtree(dir: String, partitionBy: Seq[String],
                                      repartition: Seq[String],
                                      sort: Seq[String],
                                      byRange: Boolean = false) {
  def at(root: String): String = if (dir.isEmpty) root else s"$root/$dir"

  def write(df: DataFrame, root: String, mode: String): Unit = {
    val keys = repartition.map(col)
    val parts =
      if (byRange) df.repartitionByRange(keys: _*) else df.repartition(keys: _*)
    val w = parts.sortWithinPartitions(sort.map(col): _*).write.mode(mode)
    (if (partitionBy.isEmpty) w else w.partitionBy(partitionBy: _*))
      .parquet(at(root))
  }
}

/** What one persisted-index family looks like on disk — everything the
  * shared lifecycle in [[IndexMaintenance]] needs to delete from,
  * compact, stamp and freshness-check it:
  *
  *  - `data`: its parquet subtrees with their layouts; the FIRST one
  *    holds every indexed id (the compaction readability check and the
  *    Bloom rebuild read it);
  *  - [[memberIds]]: the frame a delete validates against and an append
  *    guard verifies Bloom hits against (default: the first subtree's
  *    `id` column);
  *  - `stampSidecar`: the driver-direct sidecar whose every row carries
  *    the freshness stamp columns `n_rows` and `id_hash_sum`;
  *  - `carried`: sidecars compaction copies byte-for-byte (the stamp
  *    sidecar always is — deletes already adjusted the stamp).
  *
  * `name` is the family stem of the public names
  * (`deleteFrom<name>Index`, `compact<name>Index`, `build<name>Index`)
  * and `kind` the noun in refusal messages. */
private[ops] sealed abstract class IndexLayout(val name: String,
                                               val kind: String,
                                               val data: Seq[Subtree],
                                               val stampSidecar: String,
                                               val carried: Seq[String] = Nil) {
  private def conf(spark: SparkSession) = spark.sparkContext.hadoopConfiguration
  private def builder = s"build${name}Index"

  def memberIds(spark: SparkSession, path: String): DataFrame =
    IndexMaintenance.readTree(spark, data.head.at(path)).select("id")

  /** A stamp sidecar without the hashed stamp columns (a raw `id_sum`
    * era tree) is INCOMPATIBLE, not unresolvable: on-disk indexes
    * outlive code, so name the remedy instead of erroring on a column. */
  private def predates(path: String, cols: Seq[String]) =
    new IllegalStateException(s"$kind at $path predates the hashed " +
      s"freshness stamp (columns: ${cols.mkString(", ")}); rebuild with $builder")

  private def unreadable(path: String) =
    new IllegalStateException(s"$kind at $path has no readable $stampSidecar")

  /** The stamp the index was built (and since appended/deleted) with:
    * one driver-direct projected read of the first sidecar row — the
    * stamp is constant across rows and the other columns (centroid
    * arrays, codewords) are never materialized. */
  def loadStamp(spark: SparkSession, path: String): Similarity.IvfStamp = {
    val dir = s"$path/$stampSidecar"
    val m = graft.store.MetaIO.readRowColumns(conf(spark), dir,
      Seq("n_rows", "id_hash_sum")).getOrElse {
      val cols = graft.store.MetaIO.columnsOf(conf(spark), dir)
        .getOrElse(throw unreadable(path))
      throw (if (cols.contains("id_hash_sum")) unreadable(path)
        else predates(path, cols))
    }
    Similarity.IvfStamp(m("n_rows").asInstanceOf[Long],
      m("id_hash_sum").asInstanceOf[java.math.BigDecimal])
  }

  /** Add `(dn, dh)` to the stamp of every sidecar row, and each `extra`
    * delta to its Long column; every other column is rewritten exactly
    * as read, in file order. The one stamp writer: appends pass their
    * observed delta, deletes its negation. */
  def shiftStamp(spark: SparkSession, path: String, dn: Long,
                 dh: java.math.BigDecimal,
                 extra: Seq[(String, Long)] = Nil): Unit = {
    val dir = s"$path/$stampSidecar"
    val rows = graft.store.MetaIO.readRows(conf(spark), dir)
    val names = rows.headOption.getOrElse(throw unreadable(path)).keys.toSeq
    if (!(Seq("n_rows", "id_hash_sum") ++ extra.map(_._1)).forall(names.contains))
      throw predates(path, names)
    val deltas = extra.toMap
    def shifted(k: String, v: Any): Any = k match {
      case "n_rows" => v.asInstanceOf[Long] + dn
      case "id_hash_sum" =>
        v.asInstanceOf[java.math.BigDecimal].add(dh).setScale(0)
      case _ => deltas.get(k).fold(v)(v.asInstanceOf[Long] + _)
    }
    val out = rows.map(m => names.map(k => shifted(k, m(k))))
    graft.store.MetaIO.writeRows(conf(spark), dir, names.zip(out.head), out)
  }

  /** The one append skeleton around a family's data write: the stamp
    * is checked before anything is written, the fused O(delta) id guard
    * and Bloom merge run over [[memberIds]] BEFORE the data lands (see
    * [[IndexIds]]), `write` appends the data — observing the delta stamp
    * (`Similarity.stampExprs`) on the given `Observation` — and returns
    * any extra stamp-column deltas, then the stamp is shifted
    * additively. A crash between the data write and the stamp rewrite
    * leaves the stamp behind the data, which the freshness contract
    * refuses — fail-loud; recover with a compact or a rebuild. */
  def append(df: DataFrame, idCol: String, path: String, skipIdCheck: Boolean)
            (write: org.apache.spark.sql.Observation => Seq[(String, Long)]): Unit = {
    val spark = df.sparkSession
    loadStamp(spark, path)
    IndexIds.guardAndMerge(spark, path, s"append${name}Index",
      memberIds(spark, path), df.select(col(idCol).cast(LongType).as("id")),
      skipIdCheck)
    val obs = org.apache.spark.sql.Observation()
    val extra = write(obs)
    val delta = Similarity.stampObserved(obs.get, df, idCol)
    shiftStamp(spark, path, delta.nRows, delta.idHashSum, extra)
  }

  /** Freshness contract for build-once/probe-many: the live source's
    * id-only stamp (a column-pruned count + hash-sum scan) must equal
    * the persisted one; a probe against an index whose corpus has since
    * churned would silently serve stale results. */
  def requireFresh(spark: SparkSession, path: String, df: DataFrame,
                   idCol: String): Unit =
    Similarity.requireStampFresh(kind, path, loadStamp(spark, path),
      Similarity.sourceStamp(df, idCol), builder)

  /** Delete hook: called before any job runs (its refusals come first);
    * the returned function maps the validated id frame to extra
    * stamp-column deltas beyond `n_rows`/`id_hash_sum`. */
  def deleteDeltas(spark: SparkSession,
                   path: String): DataFrame => Seq[(String, Long)] = _ => Nil

  /** Compaction hook: write the exact id Bloom of the staged tree at
    * `tmp` (tombstoned ids already purged by the rewrite). */
  def rebuildIds(spark: SparkSession, path: String, tmp: String,
                 resize: Option[(Long, Double)]): Unit = {
    val ids = IndexMaintenance.stagedIds(spark, data.head.at(tmp))
    IndexMaintenance.rebuildBloom(spark, path, ids, ids.count(), tmp, resize)
  }
}

private[ops] object IndexLayout {
  /** Text postings: hive-partitioned by token bucket, sorted by (token,
    * id) inside each bucket so scans stay min/max-prunable on token. */
  val postings = Subtree("", Seq("bucket"), Seq("bucket"),
    Seq("bucket", "token", "id"))
  /** IVF and IVF+PQ rows: hive-partitioned by inverted list, id-ordered
    * inside each list. */
  val lists = Subtree("", Seq("list"), Seq("list"), Seq("list", "id"))
  /** Dedup `bands/`: banded LSH rows sorted by (band, bh) so the probe's
    * equi-join streams. */
  val bands = Subtree("bands", Nil, Seq("band", "bh"), Seq("band", "bh", "id"))

  /** [[TextIndex]]. Token-free documents are counted in `_meta` and the
    * Bloom but hold no postings; their ids live in the `_tokenfree`
    * sidecar. */
  case object Text extends IndexLayout("Text", "text index", Seq(postings),
    "_meta") {
    // posting ids ∪ the token-free sidecar: a token-free document is
    // deletable, and an append must not re-admit one
    override def memberIds(spark: SparkSession, path: String): DataFrame =
      TextIndex.indexedIds(spark, path)

    // BM25's N/avgdl track the post-delete corpus: the deleted
    // postings' token mass leaves `total_tokens` — one postings scan
    // restricted to the deleted ids (a token-free doc contributes zero)
    override def deleteDeltas(spark: SparkSession,
                              path: String): DataFrame => Seq[(String, Long)] = {
      TextIndex.requireTokenTotal(TextIndex.loadMeta(spark, path), path)
      del => Seq("total_tokens" -> -IndexMaintenance.readTree(spark, path)
        .join(del, Seq("id"), "left_semi")
        .agg(coalesce(sum(col("tf")), lit(0L))).head().getLong(0))
    }

    // When the staged distinct-id count falls short of n_rows, the
    // live `_tokenfree` sidecar (minus tombstones) closes the gap: the
    // union is the complete live id set, so the Bloom is rebuilt
    // EXACTLY (tombstoned bits shed, resize allowed) and the surviving
    // token-free ids carry forward as a fresh sidecar. `>=` not `==`: a
    // crashed append can leave the sidecar over-approximating (ids
    // recorded, _meta never bumped) — a SUPERSET Bloom stays sound.
    // Only a LEGACY tree (token-free docs but no sidecar) still carries
    // the live Bloom verbatim ([[IndexIds.carryLive]]) — a resize is
    // refused there (unenumerable ids cannot enter a fresh filter) and
    // a missing Bloom fails loudly rather than silently shedding ids.
    override def rebuildIds(spark: SparkSession, path: String, tmp: String,
                            resize: Option[(Long, Double)]): Unit = {
      val nRows = loadStamp(spark, path).nRows
      val staged = IndexMaintenance.stagedIds(spark, tmp)
      val nStaged = staged.count()
      val tfLive =
        if (nStaged == nRows) None
        else TextIndex.loadTokenFreeIds(spark, path).map(tf =>
          IndexMaintenance.minusTombstones(spark, path, tf, "id")
            .localCheckpoint(true))
      val union = tfLive.fold(staged)(tf =>
        staged.union(tf).distinct().localCheckpoint(true))
      val nUnion = if (tfLive.isEmpty) nStaged else union.count()
      if (nUnion >= nRows)
        IndexMaintenance.rebuildBloom(spark, path, union, nUnion, tmp, resize)
      else {
        require(resize.isEmpty,
          s"compactTextIndex: $path indexes ${nRows - nUnion} token-free " +
            "document(s) with no _tokenfree sidecar record (a pre-sidecar " +
            "tree) — their ids exist only in the Bloom, and a resized " +
            "rebuild would lose them. Compact without bloomResize, or " +
            "rebuild the index from source.")
        require(IndexIds.carryLive(spark, path, tmp),
          s"compactTextIndex: $path indexes ${nRows - nUnion} " +
            "token-free document(s) whose ids are recorded ONLY in the " +
            "_idbloom sidecar, which is missing or unreadable — an exact " +
            "rebuild would drop them and re-open the double-append replay " +
            "window. Rebuild the index from source.")
      }
      tfLive.filter(_.limit(1).collect().nonEmpty).foreach(
        _.coalesce(1).write.mode("overwrite")
          .parquet(TextIndex.tokenFreePath(tmp)))
    }
  }

  /** [[Similarity.buildIvfIndex]]: centroids and stamp in `_codebook`. */
  case object Ivf extends IndexLayout("Ivf", "IVF index", Seq(lists),
    "_codebook")

  /** [[Quantize.buildPqIndex]]: one flat `(id, codes)` table, written
    * id-sorted per source partition at build and range-partitioned by id
    * at compaction; codewords and stamp in `_codebook`. */
  case object Pq extends IndexLayout("Pq", "PQ index",
    Seq(Subtree("", Nil, Seq("id"), Seq("id"), byRange = true)), "_codebook")

  /** [[Quantize.buildIvfPqIndex]]: coarse centroids and stamp in
    * `_coarse`, PQ codewords in `_pqcb`. */
  case object IvfPq extends IndexLayout("IvfPq", "IVF+PQ index", Seq(lists),
    "_coarse", carried = Seq("_pqcb"))

  /** [[DedupIndex]]: `sigs/` (one signature row per document — the id
    * set) and `bands/`; shingle parameters and stamp in `_meta`. */
  case object Dedup extends IndexLayout("Dedup", "dedup index",
    Seq(Subtree("sigs", Nil, Seq("id"), Seq("id")), bands), "_meta")
}

/**
 * Maintenance for the persisted-index family ([[TextIndex]],
 * [[Similarity.buildIvfIndex]], [[Quantize.buildPqIndex]],
 * [[Quantize.buildIvfPqIndex]], [[DedupIndex]]): DELETE and COMPACT —
 * the two operations that let an index live for months of appends
 * instead of being rebuilt whenever the corpus shrinks or the file
 * count grows.
 *
 * == One lifecycle, five layouts ==
 *
 * Every family runs the SAME delete, compact, stamp and freshness code;
 * what differs is declared once per family by an [[IndexLayout]]: its
 * data subtrees (each with partition columns, compaction repartition
 * and within-partition sort — the build and append writes go through
 * the same [[Subtree.write]]), its id-membership frame, its stamp
 * sidecar (`_meta`, `_codebook` or `_coarse`) and the sidecars
 * compaction carries unchanged. The public `deleteFrom*Index`,
 * `compact*Index`, `load*Stamp` and `require*Fresh` names are one-line
 * forwarders. Only the text family overrides hooks: its delete also
 * subtracts the deleted postings' `total_tokens`, and its Bloom rebuild
 * accounts for token-free documents.
 *
 * A sixth family plugs in by adding a case object to [[IndexLayout]]
 * (plus a branch in [[indexFamily]] if [[compactIfOverdue]] should
 * detect it): at build, write its data through the declared subtrees,
 * put the observed `n_rows`/`id_hash_sum` (`Similarity.stampExprs`) on
 * every row of its stamp sidecar and write the [[IndexIds]] Bloom; wrap
 * its append's data write in [[IndexLayout.append]] (id guard, Bloom
 * merge, additive stamp); read through [[minusTombstones]]. Delete,
 * compact, health and freshness then work unchanged.
 *
 * == Delete (tombstones) ==
 *
 * `deleteFrom*Index(ids)` removes documents/vectors LOGICALLY: the ids
 * land in a `_tombstones/` sidecar (underscore — invisible to parquet
 * listings) that every probe filters away, and the freshness stamp is
 * updated SUBTRACTIVELY (row count and `hash60(id)` sum are additive in
 * both directions), so after the delete the index verifies fresh
 * against the post-delete source and probes behave exactly as if the
 * ids had never been indexed. No data files are rewritten — a
 * right-to-erasure pass over a 100 TB index is a sidecar append plus a
 * stamp rewrite, not an index-sized job. Physical removal happens at
 * the next compaction.
 *
 * Contracts, fail-loud: every requested id must actually be indexed
 * (subtracting a never-indexed id would corrupt the stamp) and not
 * already tombstoned (a double delete would subtract twice). A
 * tombstoned id can NOT be re-appended until a compaction physically
 * purges it — its rows still exist, so the append guard's precise
 * verify refuses it (and a probe-side tombstone would otherwise
 * suppress the re-appended rows too).
 *
 * == Compact (staging + swap) ==
 *
 * Repeated appends leave ≥1 parquet file per touched partition
 * directory per batch — months of daily appends degrade listing and
 * scan cost even though pruning still works — and tombstones make
 * probes pay a filter or anti-join. `compact*Index` rewrites the tree:
 * one pass per subtree re-reads it MINUS tombstones and writes it with
 * its declared layout (~1 file per partition) into a staging sibling
 * `<path>.graft-compact-tmp`, byte-copies the stamp and carried
 * sidecars (deletes already adjusted the stamp), rebuilds the
 * [[IndexIds]] Bloom EXACTLY from the surviving ids (shedding
 * tombstoned ids and accumulated false-positive mass — read back from
 * the STAGED tree's id column, so the old tree is scanned exactly
 * once; `bloomResize` adopts new sizing at this natural resize point),
 * drops `_tombstones`, then swaps:
 *
 *   rename(path -> path.graft-compact-old); rename(tmp -> path);
 *   delete(old)
 *
 * Probes are byte-identical before/after (the gates re-run their
 * oracles against a compacted tree). A crash between the two renames
 * leaves no live tree but both halves intact — the next compact (or
 * probe) of that path should call the recovery rename documented on
 * [[restoreAfterCrash]]; compact runs it automatically on entry. This
 * is also the recovery path for an append that crashed between its
 * data and stamp writes: compact rebuilds sidecars from what actually
 * landed — EXCEPT the stamp, which intentionally stays whatever the
 * sidecar says (if the stamp is behind the data, rebuild; compact must
 * never bless a half-appended tree as fresh).
 */
object IndexMaintenance {

  private def fsOf(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tombstones(path: String) = s"$path/_tombstones"

  /** The one reader of index trees — data subtrees and sidecars alike.
    * The schema comes from one data file's footer on the driver
    * ([[graft.store.MetaIO.sparkSchemaOf]]), so planning the read runs
    * no Spark job; partition columns (`bucket`, `list`) are still
    * discovered from the paths, and a column a tree predates (text
    * `positions`) is absent exactly as inference would leave it. A dir
    * without data files takes the inferring read, which raises Spark's
    * own error for it. */
  private[graft] def readTree(spark: SparkSession, dir: String): DataFrame =
    graft.store.MetaIO.sparkSchemaOf(spark.sparkContext.hadoopConfiguration, dir)
      .fold(spark.read.parquet(dir))(spark.read.schema(_).parquet(dir))

  /** DATA files under `root` — underscore sidecars (`_meta`,
    * `_idbloom`, `_tombstones`), `_SUCCESS` markers and hidden files
    * excluded, wherever they sit in the tree. ONE recursive listing
    * call (a single RemoteIterator stream), not one RPC per partition
    * directory — a text index can have 2^16 bucket dirs. */
  private def dataFileCount(fs: org.apache.hadoop.fs.FileSystem,
                            root: String): Long = {
    // qualified BEFORE taking the URI path: a relative root would fail
    // to prefix-strip the fully-qualified listing paths, and ancestor
    // directory names would leak into the hidden-segment filter
    val rootPath = fs.makeQualified(new Path(root))
    if (!fs.exists(rootPath)) return 0L
    val rootUri = rootPath.toUri.getPath
    val it = fs.listFiles(rootPath, true)
    var n = 0L
    while (it.hasNext) {
      val rel = it.next().getPath.toUri.getPath
        .stripPrefix(rootUri).stripPrefix("/")
      if (!rel.split("/").exists(s => s.startsWith("_") || s.startsWith(".")))
        n += 1
    }
    n
  }

  /** Refuse to install a staged tree that holds NO data files — it
    * would throw "unable to infer schema" on every later read, turning
    * a still-working index (whose live files the probes anti-join
    * down to zero rows) into an unreadable one. Reached when every
    * DATA-bearing row is tombstoned (for a text index, token-free
    * documents may still be live in `_meta`/Bloom — they have no rows
    * to compact); the remedy is a rebuild from source, not a
    * compact. */
  private def requireStagedReadable(spark: SparkSession, op: String,
                                    path: String,
                                    stagedData: String): Unit =
    require(dataFileCount(fsOf(spark, stagedData), stagedData) > 0L,
      s"$op: every data-bearing row of $path is tombstoned — the " +
        "compacted tree would hold no data files and be unreadable. The " +
        "live tree still serves probes (tombstones filter everything); " +
        "rebuild the index from source instead of compacting. (A text " +
        "index may still count live token-free documents in _meta — a " +
        "rebuild from source preserves them; this refusal loses " +
        "nothing.)")

  /** Tombstone bytes past which probes stop BROADCASTING the sidecar:
    * repeated deletes accumulate until compaction, and a forced
    * broadcast of an overgrown set dies on the broadcast limit instead
    * of degrading. 64 MB of parquet'd ids (~tens of millions of
    * tombstones) is far past "takedown-sized" — at that point the
    * shuffle anti-join is the right plan anyway and compaction is
    * overdue ([[indexHealth]] says so). */
  private[ops] val TombstoneBroadcastBytes: Long = 64L << 20

  /** Bytes under which the tombstone sidecar is read DRIVER-DIRECT and
    * applied as a codegen'd set-membership FILTER instead of a join:
    * a probe against an index with a takedown-sized delete list paid a
    * Spark read job + a broadcast build job per probe for a few
    * thousand longs. */
  private[ops] val TombstoneLocalBytes: Long = 4L << 20

  /** Id count past which the driver-direct filter is NOT used even
    * under [[TombstoneLocalBytes]]: delta-encoded sorted ids compress
    * to a few bits each, so 4 MB can hold millions of ids — too many
    * for an `InSet` literal planned into every probe. Checked from the
    * parquet footers before any id is read. */
  private[ops] val TombstoneLocalIds: Long = 250000L

  /** Probe-side tombstone filter. Takedown-sized sidecars (the common
    * case) are read once on the driver and become a `NOT IN <set>`
    * filter — no scan job, no broadcast, no join in the probe's plan;
    * mid-sized sets (past either local cap) keep the broadcast
    * anti-join, and sets past `maxBroadcastBytes` fall back to the
    * shuffle anti-join. The sidecar is listed once (its byte size is
    * the listing's file lengths) and each of its files opened once (the
    * id cap is checked from the footers before any id is read). Zero
    * cost when no delete has ever run. NULL ids are kept on every path
    * (an anti-join never matches NULL — the filter preserves that). */
  private[graft] def minusTombstones(spark: SparkSession, indexPath: String,
                                     df: DataFrame, idCol: String,
                                     maxBroadcastBytes: Long =
                                       TombstoneBroadcastBytes,
                                     maxLocalBytes: Long =
                                       TombstoneLocalBytes): DataFrame = {
    val dir = tombstones(indexPath)
    val listing =
      try Some(fsOf(spark, indexPath).listStatus(new Path(dir)).toSeq)
      catch { case _: java.io.FileNotFoundException => None }
    listing.fold(df) { files =>
      val bytes = files.filter(_.isFile).map(_.getLen).sum
      val local =
        if (bytes > maxLocalBytes) None
        else graft.store.MetaIO.readLongColumn(
          spark.sparkContext.hadoopConfiguration, files, "id", TombstoneLocalIds)
      local match {
        case Some(ids) if ids.isEmpty => df
        // coalesce(..., true): InSet(NULL) is NULL, and a bare NOT NULL
        // filter would drop null-id rows the anti-join keeps
        case Some(ids) =>
          df.filter(coalesce(!col(idCol).isInCollection(ids), lit(true)))
        case None =>
          val ts = readTree(spark, dir).select(col("id").as(idCol))
          df.join(if (bytes <= maxBroadcastBytes) broadcast(ts) else ts,
            Seq(idCol), "left_anti")
      }
    }
  }

  /** One-row health report for any persisted index tree — the
    * "compaction overdue?" signal the delete path cannot raise itself
    * (deletes are sidecar appends; nothing ever fails until a probe
    * pays for the accumulation). Columns:
    * `n_tombstones` / `tombstone_bytes` (0 when no delete ever ran),
    * `n_files` (DATA files only — underscore sidecars, `_SUCCESS`
    * markers and hidden files excluded, so the number is a real
    * append-fragmentation proxy that deletes cannot inflate),
    * `bloom_ids` / `bloom_expected` / `bloom_fill` (id-sidecar fill;
    * fill > 1 means fpp has degraded past its design point; nulls when
    * no sidecar), and `compaction_overdue` — true when the tombstone
    * set has outgrown the probe broadcast valve or the Bloom is
    * overfull. Cost: namenode metadata plus parquet footers, no Spark
    * job; the index data is never read. */
  def indexHealth(spark: SparkSession, path: String): DataFrame = {
    val fs = fsOf(spark, path)
    // a missing tree must not read as a healthy all-zero row — a
    // monitor watching a deleted or misspelled path would report it
    // fine forever
    require(fs.exists(new Path(path)),
      s"indexHealth: no index tree at $path")
    val tp = new Path(tombstones(path))
    val (nTomb, tombBytes) =
      if (!fs.exists(tp)) (0L, 0L)
      else (graft.store.MetaIO.rowCount(spark.sparkContext.hadoopConfiguration,
          tombstones(path)), fs.getContentSummary(tp).getLength)
    val nFiles = dataFileCount(fs, path)
    // scalar sidecar stats only — never the Bloom binary (GBs at
    // billion-id scale; this runs from streaming maintenance hooks)
    val bloom = IndexIds.loadStats(spark, path)
    val fill = bloom.map(b => b.nIds.toDouble / b.expected.toDouble)
    val overdue = tombBytes > TombstoneBroadcastBytes ||
      fill.exists(_ > 1.0)
    import spark.implicits._
    Seq((nTomb, tombBytes, nFiles, bloom.map(_.nIds), bloom.map(_.expected),
        fill, overdue))
      .toDF("n_tombstones", "tombstone_bytes", "n_files", "bloom_ids",
        "bloom_expected", "bloom_fill", "compaction_overdue")
  }

  /** The index family at `path`, detected from the tree's own shape —
    * every family is self-describing by construction (`_coarse` only on
    * IVFPQ, `sigs/` only on dedup trees, `n_buckets` only in a text
    * `_meta`, and the two `_codebook` schemas differ in their key
    * columns). Fails loudly on anything unrecognized. */
  private[ops] def indexFamily(spark: SparkSession, path: String): IndexLayout = {
    val fs = fsOf(spark, path)
    def has(p: String) = fs.exists(new Path(s"$path/$p"))
    val conf = spark.sparkContext.hadoopConfiguration
    if (has("_coarse")) IndexLayout.IvfPq
    else if (has("sigs")) IndexLayout.Dedup
    else if (has("_meta") && graft.store.MetaIO.columnsOf(conf, s"$path/_meta")
      .exists(_.contains("n_buckets"))) IndexLayout.Text
    else if (has("_codebook")) {
      val cols = graft.store.MetaIO.columnsOf(conf, s"$path/_codebook")
        .getOrElse(throw new IllegalArgumentException(
          s"indexFamily: $path/_codebook is unreadable")).toSet
      if (cols.contains("s")) IndexLayout.Pq
      else if (cols.contains("centroid")) IndexLayout.Ivf
      else throw new IllegalArgumentException(
        s"indexFamily: $path/_codebook matches neither the PQ (s, j, " +
          "codeword) nor the IVF (j, centroid) schema")
    } else throw new IllegalArgumentException(
      s"indexFamily: $path is not a recognized graft index tree")
  }

  /** Close the maintenance loop [[indexHealth]] can only report on:
    * compact `path` iff its health has crossed a threshold — the
    * tombstone sidecar outgrew the probe broadcast valve
    * (`maxTombstoneBytes`, default the valve itself) or the id Bloom
    * overfilled (`maxBloomFill`, default 1.0 = design fill). Returns
    * true iff a compaction ran; a healthy index costs one health check
    * (namenode metadata and parquet footers, no Spark job — cheap
    * enough to call from an ingest sink every N batches).
    *
    * When the BLOOM is what tripped and no explicit `bloomResize` was
    * given, compacting at the old sizing would restore nothing — the
    * sidecar is resized automatically to twice its live id count at
    * its existing fpp (never below the original `expected`). The
    * family is auto-detected ([[indexFamily]]). A legacy text tree
    * whose token-free ids exist only in the Bloom cannot resize; the
    * AUTO path detects that upfront (before any staged write) and —
    * when the fill trip was the only reason to compact — returns false
    * rather than rewrite the index every trip for no benefit
    * (indexHealth keeps reporting the overfill; rebuild is the
    * documented reset). An EXPLICIT `bloomResize` on such a tree still
    * fails loudly downstream. */
  def compactIfOverdue(spark: SparkSession, path: String,
                       bloomResize: Option[(Long, Double)] = None,
                       maxTombstoneBytes: Long = TombstoneBroadcastBytes,
                       maxBloomFill: Double = 1.0): Boolean = {
    val h = indexHealth(spark, path).head()
    val tombOver = h.getAs[Long]("tombstone_bytes") > maxTombstoneBytes
    val fillOver = Option(h.getAs[java.lang.Double]("bloom_fill"))
      .exists(_.doubleValue() > maxBloomFill)
    if (!tombOver && !fillOver) return false
    val autoResize = bloomResize.orElse {
      if (!fillOver) None
      else IndexIds.loadStats(spark, path).map { ib =>
        (math.max(2L * ib.nIds, ib.expected), ib.fpp) }
    }
    val layout = indexFamily(spark, path)
    // An AUTO-derived resize on a pre-`_tokenfree` text tree that
    // indexes token-free docs is unsound (their ids exist only in the
    // Bloom; a resized rebuild would drop them) — and the text compact
    // can only refuse it AFTER the staged write, an index-rewrite-sized
    // cost a maintenance hook would then pay on EVERY trip. Detect
    // upfront with the same arithmetic (one pruned id-column count,
    // only on this rare legacy path) and drop the resize; an explicit
    // caller-passed bloomResize still fails loudly downstream.
    val resize =
      if (layout != IndexLayout.Text || autoResize.isEmpty ||
          bloomResize.isDefined || fsOf(spark, path).exists(
            new Path(TextIndex.tokenFreePath(path)))) autoResize
      else {
        val live = minusTombstones(spark, path,
          readTree(spark, path).select("id").distinct(), "id").count()
        if (layout.loadStamp(spark, path).nRows <= live) autoResize
        else None
      }
    // the resize was dropped and the Bloom trip was the only reason to
    // be here: compacting cannot lower the fill (the sidecar carries
    // verbatim), so running it every trip would be a full-rewrite loop
    // with no benefit — leave the index alone; indexHealth keeps
    // reporting the overfill, and a rebuild is the documented reset
    if (!tombOver && resize.isEmpty) return false
    compact(layout, spark, path, resize)
    true
  }

  /** Normalize + validate a delete request: distinct non-null Long ids,
    * none already tombstoned, all present in `indexIds`. Returns the
    * validated id frame (cached) plus its count and hash-sum for the
    * subtractive stamp. */
  private def validatedDeleteIds(spark: SparkSession, indexPath: String,
                                 op: String, ids: DataFrame,
                                 indexIds: DataFrame): (DataFrame, Long,
                                                        java.math.BigDecimal) = {
    // materialized EAGERLY: the validated frame feeds four separate
    // jobs (already-tombstoned check, membership check, stamp
    // aggregation, tombstone write) — a non-deterministic `ids` input
    // (a sample, a limit) re-evaluated per job could tombstone a
    // different id set than was validated and stamped, permanently
    // corrupting the subtractive freshness stamp
    val del = ids.select(col(ids.columns.head).cast(LongType).as("id"))
      .filter(col("id").isNotNull).distinct()
      .localCheckpoint(true)
    val already = minusTombstones(spark, indexPath, del, "id")
    // ids already tombstoned = del minus (del minus tombstones)
    val dupTomb = del.join(already, Seq("id"), "left_anti").limit(1).collect()
    require(dupTomb.isEmpty,
      s"$op: id ${if (dupTomb.nonEmpty) dupTomb(0).getLong(0) else ""} is " +
        s"already deleted from $indexPath — a second delete would subtract " +
        "its stamp twice")
    val missing = del.join(indexIds, Seq("id"), "left_semi")
    val absent = del.join(missing, Seq("id"), "left_anti").limit(1).collect()
    require(absent.isEmpty,
      s"$op: id ${if (absent.nonEmpty) absent(0).getLong(0) else ""} is not " +
        s"indexed at $indexPath — deleting it would corrupt the freshness " +
        "stamp")
    // one agg for the subtractive stamp terms (same hash60-of-string
    // discipline as Similarity.stampExprs, so subtraction is exact)
    val r = del.agg(count(lit(1)).as("n"),
      coalesce(sum(TextStats.hash60(col("id").cast(StringType))
          .cast(DecimalType(38, 0))),
        lit(java.math.BigDecimal.ZERO).cast(DecimalType(38, 0))).as("h")).head()
    (del, r.getLong(0), r.getDecimal(1))
  }

  /** The one delete: refuse an unreadable or legacy stamp before any
    * job, validate, take the layout's extra stamp deltas, append the
    * tombstones, then subtract from the stamp (driver-direct). */
  private def delete(layout: IndexLayout, spark: SparkSession, path: String,
                     ids: DataFrame): Unit = {
    layout.loadStamp(spark, path)
    val extra = layout.deleteDeltas(spark, path)
    val (del, n, h) = validatedDeleteIds(spark, path,
      s"deleteFrom${layout.name}Index", ids, layout.memberIds(spark, path))
    val deltas = extra(del)
    del.coalesce(1).write.mode("append").parquet(tombstones(path))
    layout.shiftStamp(spark, path, -n, h.negate(), deltas)
  }

  private def idFrame(spark: SparkSession, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("id")
  }

  /** Logically delete documents from a [[TextIndex]] tree: tombstones +
    * subtractive `_meta` (row count, id-hash sum, AND the deleted
    * postings' token mass, so BM25's N/avgdl track the post-delete
    * corpus). */
  def deleteFromTextIndex(spark: SparkSession, path: String,
                          ids: DataFrame): Unit =
    delete(IndexLayout.Text, spark, path, ids)

  /** Convenience overload: delete by literal id list. */
  def deleteFromTextIndex(spark: SparkSession, path: String,
                          ids: Seq[Long]): Unit =
    delete(IndexLayout.Text, spark, path, idFrame(spark, ids))

  /** Logically delete vectors from a [[Similarity.buildIvfIndex]] tree:
    * tombstones + subtractive stamp in `_codebook` (centroids
    * unchanged — deletion never retrains). */
  def deleteFromIvfIndex(spark: SparkSession, path: String,
                         ids: DataFrame): Unit =
    delete(IndexLayout.Ivf, spark, path, ids)

  def deleteFromIvfIndex(spark: SparkSession, path: String,
                         ids: Seq[Long]): Unit =
    delete(IndexLayout.Ivf, spark, path, idFrame(spark, ids))

  /** Logically delete documents from a [[DedupIndex]] tree: tombstones
    * + subtractive `_meta` stamp. Probes filter the `bands/` side, so a
    * tombstoned document can never generate a candidate pair. */
  def deleteFromDedupIndex(spark: SparkSession, path: String,
                           ids: DataFrame): Unit =
    delete(IndexLayout.Dedup, spark, path, ids)

  def deleteFromDedupIndex(spark: SparkSession, path: String,
                           ids: Seq[Long]): Unit =
    delete(IndexLayout.Dedup, spark, path, idFrame(spark, ids))

  /** Logically delete vectors from a [[Quantize.buildPqIndex]] code
    * table: tombstones + subtractive stamp in `_codebook` (PQ
    * codebooks unchanged — deletion never retrains). */
  def deleteFromPqIndex(spark: SparkSession, path: String,
                        ids: DataFrame): Unit =
    delete(IndexLayout.Pq, spark, path, ids)

  def deleteFromPqIndex(spark: SparkSession, path: String,
                        ids: Seq[Long]): Unit =
    delete(IndexLayout.Pq, spark, path, idFrame(spark, ids))

  /** Logically delete vectors from a [[Quantize.buildIvfPqIndex]]
    * tree: tombstones + subtractive stamp in `_coarse` (both codebooks
    * unchanged). */
  def deleteFromIvfPqIndex(spark: SparkSession, path: String,
                           ids: DataFrame): Unit =
    delete(IndexLayout.IvfPq, spark, path, ids)

  def deleteFromIvfPqIndex(spark: SparkSession, path: String,
                           ids: Seq[Long]): Unit =
    delete(IndexLayout.IvfPq, spark, path, idFrame(spark, ids))

  /** Recovery for a crash between compact's two swap renames: the live
    * tree is gone but `<path>.graft-compact-old` (and possibly the
    * fully-written tmp) survive. Restores the OLD tree — the
    * conservative choice: the compacted tmp may or may not be complete,
    * the old tree certainly is; re-run compact afterwards. No-op when
    * the live tree exists. */
  def restoreAfterCrash(spark: SparkSession, path: String): Unit = {
    val fs = fsOf(spark, path)
    val live = new Path(path)
    val old = new Path(path + ".graft-compact-old")
    if (!fs.exists(live) && fs.exists(old)) {
      require(fs.rename(old, live),
        s"restoreAfterCrash: rename $old -> $live failed")
    }
  }

  /** The staging + swap shell shared by the compacts and the shard
    * writer ([[ShardWriter]]): `writeStaged(tmpPath)` must produce a
    * complete, self-describing tree at `tmpPath`; the swap then makes
    * it live. Reads of the old tree all happen inside `writeStaged`,
    * before any rename. */
  private[ops] def stagedSwap(spark: SparkSession, path: String)
                             (writeStaged: String => Unit): Unit = {
    restoreAfterCrash(spark, path)
    val fs = fsOf(spark, path)
    val tmp = new Path(path + ".graft-compact-tmp")
    val old = new Path(path + ".graft-compact-old")
    fs.delete(tmp, true); fs.delete(old, true)
    // a REFUSED compaction (all rows tombstoned, token-free carry
    // failure, ...) must not leave the full staged tree behind: the
    // refusal explicitly tells the user NOT to retry compacting, so
    // nothing would ever reclaim an index-sized tmp directory
    try writeStaged(tmp.toString)
    catch { case e: Throwable => fs.delete(tmp, true); throw e }
    // first-time install (shard writer): no live tree to move aside —
    // one rename makes the staged tree live atomically
    if (!fs.exists(new Path(path))) {
      Option(new Path(path).getParent).foreach(fs.mkdirs)
      require(fs.rename(tmp, new Path(path)),
        s"stagedSwap: rename $tmp -> $path failed")
      return
    }
    require(fs.rename(new Path(path), old),
      s"compact: rename $path -> $old failed")
    require(fs.rename(tmp, new Path(path)),
      s"compact: rename $tmp -> $path failed (RECOVER: rename $old back " +
        s"to $path, then re-run)")
    fs.delete(old, true); ()
  }

  /** The distinct ids of a STAGED subtree, materialized once: the set
    * feeds a count AND the Bloom aggregation — without the checkpoint
    * each would rescan the tree. Reading the compacted output (not the
    * old tree) means the tombstone filter is never re-paid and the read
    * is the id column of a fresh ~1-file-per-partition tree. */
  private[ops] def stagedIds(spark: SparkSession, dir: String): DataFrame =
    readTree(spark, dir).select("id").distinct().localCheckpoint(true)

  /** Write a fresh [[IndexIds]] Bloom of `ids` (`n` distinct) at
    * `tmpPath`. Compaction is the natural RESIZE point: `resize` adopts
    * new `(expectedIds, fpp)` sizing. Appends merge Blooms bit-for-bit,
    * so sizing is otherwise fixed at build time forever — an index that
    * outgrows its original `expectedIds` degrades fpp permanently until
    * a compact re-sizes it. Default keeps the live sidecar's sizing (or
    * the defaults for legacy trees). */
  private[ops] def rebuildBloom(spark: SparkSession, livePath: String,
                                ids: DataFrame, n: Long, tmpPath: String,
                                resize: Option[(Long, Double)]): Unit = {
    val (expected, fpp) = resize.getOrElse(
      IndexIds.load(spark, livePath)
        .map(ib => (ib.expected, ib.fpp))
        .getOrElse((IndexIds.DefaultExpectedIds, IndexIds.DefaultFpp)))
    require(expected >= 1 && fpp > 0.0 && fpp < 1.0,
      s"compact: Bloom resize needs expectedIds >= 1 and fpp in (0, 1), " +
        s"got ($expected, $fpp)")
    IndexIds.writeFresh(spark, tmpPath, ids, n, expected, fpp)
  }

  /** The one compaction (see class doc): each data subtree rewritten
    * minus tombstones with its declared layout, the stamp and carried
    * sidecars byte-copied, the Bloom rebuilt from the staged ids, the
    * tombstones left behind. */
  private def compact(layout: IndexLayout, spark: SparkSession, path: String,
                      resize: Option[(Long, Double)]): Unit =
    stagedSwap(spark, path) { tmp =>
      layout.data.foreach(t => t.write(minusTombstones(spark, path,
        readTree(spark, t.at(path)), "id"), tmp, "overwrite"))
      requireStagedReadable(spark, s"compact${layout.name}Index", path,
        layout.data.head.at(tmp))
      val fs = fsOf(spark, path)
      (layout.stampSidecar +: layout.carried).foreach { s =>
        require(FileUtil.copy(fs, new Path(s"$path/$s"), fs,
            new Path(s"$tmp/$s"), false, spark.sparkContext.hadoopConfiguration),
          s"compact${layout.name}Index: copying $path/$s failed")
      }
      layout.rebuildIds(spark, path, tmp, resize)
    }

  /** Compact a [[TextIndex]] tree (see class doc): tombstoned postings
    * physically purged, ~1 file per bucket directory, same
    * (bucket, token, id) order, `_meta` carried unchanged, Bloom
    * rebuilt exact, tombstones dropped. */
  def compactTextIndex(spark: SparkSession, path: String,
                       bloomResize: Option[(Long, Double)] = None): Unit =
    compact(IndexLayout.Text, spark, path, bloomResize)

  /** Compact a [[Similarity.buildIvfIndex]] tree: tombstoned vectors
    * purged, ~1 file per list directory, same (list, id) order,
    * `_codebook` carried unchanged, Bloom rebuilt, tombstones
    * dropped. */
  def compactIvfIndex(spark: SparkSession, path: String,
                      bloomResize: Option[(Long, Double)] = None): Unit =
    compact(IndexLayout.Ivf, spark, path, bloomResize)

  /** Compact a [[Quantize.buildPqIndex]] code table: tombstoned rows
    * purged, files coalesced into an id-range layout with the
    * build-time id sort, `_codebook` carried unchanged, Bloom rebuilt,
    * tombstones dropped. */
  def compactPqIndex(spark: SparkSession, path: String,
                     bloomResize: Option[(Long, Double)] = None): Unit =
    compact(IndexLayout.Pq, spark, path, bloomResize)

  /** Compact a [[Quantize.buildIvfPqIndex]] tree: tombstoned rows
    * purged, ~1 file per list directory, same (list, id) order, both
    * codebook sidecars carried unchanged, Bloom rebuilt, tombstones
    * dropped. */
  def compactIvfPqIndex(spark: SparkSession, path: String,
                        bloomResize: Option[(Long, Double)] = None): Unit =
    compact(IndexLayout.IvfPq, spark, path, bloomResize)

  /** Compact a [[DedupIndex]] tree: tombstoned signatures and band
    * rows purged, both subtrees rewritten at ~shuffle-partition file
    * counts with their build-time sort, `_meta` carried unchanged,
    * Bloom rebuilt, tombstones dropped. */
  def compactDedupIndex(spark: SparkSession, path: String,
                        bloomResize: Option[(Long, Double)] = None): Unit =
    compact(IndexLayout.Dedup, spark, path, bloomResize)
}
