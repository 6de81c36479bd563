package graft.store

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftx.DriverParquet
import org.apache.spark.sql.types.{DataType, StructType}

import graft.schema.SchemaUtil
import graft.table.{HDFTable, RowIds, TypedTable}

/** Open modes ≙ the reference's `HDMode` enum (`nimtables.nim:29-30`):
  * `hdRead` / `hdOverwrite` / `hdReadWrite` / `hdInfer`
  * (open-if-exists-else-create). */
sealed trait StoreMode
object StoreMode {
  case object Read      extends StoreMode
  case object Overwrite extends StoreMode
  case object ReadWrite extends StoreMode
  case object Infer     extends StoreMode
}

/**
 * A keyed store of positional tables — the Spark-native re-expression of
 * the reference's `HDFStore` (`nimtables.nim:12-89`). One store = one
 * directory (any Hadoop-supported filesystem: file://, hdfs://, s3a://)
 * holding a versioned JSON catalog (`Manifest`) plus per-table parquet
 * segment directories.
 *
 * Design stance (SURVEY §7.1): the store is a LIBRARY over
 * `org.apache.spark.sql` — every read is a DataFrame whose positional
 * predicates push down to parquet row-group stats; every mutation is a
 * copy-on-write of only the affected segments plus an atomic catalog swap.
 *
 * @param defaultChunkSize ≙ `openHDFStore(chunkSize=)` (`nimtables.nim:60`,
 *   default 5000 records/HDF5-chunk). Here it maps to `maxRecordsPerFile`.
 *   Unlike the reference we default to None (let Spark size files): 5000-row
 *   files at 100 TB would be millions of tiny files.
 * @param defaultCodec ≙ `openHDFStore(compression=)` — the reference's
 *   bool turns on zlib; `Some("gzip")` is the parity value, snappy/zstd/lz4
 *   cover the blosc codec family (`nimhdf5/filters.nim:19-96`).
 */
final class HDFStore private (
    val spark: SparkSession,
    val root: String,
    val readOnly: Boolean,
    val defaultChunkSize: Option[Long],
    val defaultCodec: Option[String],
    private val pinnedVersion: Option[Long] = None) extends AutoCloseable {

  private[graft] val rootPath = new Path(root)
  private[graft] val fs: FileSystem =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private[graft] var manifest: Manifest = Manifest.load(fs, rootPath, pinnedVersion)
  private var closed = false

  /** Current catalog version (monotonic; each commit bumps it). */
  def version: Long = manifest.version

  /** Time travel: a read-only handle pinned to an earlier catalog version
    * (within the retained window, and before [[vacuum]] reclaims the
    * snapshot's files). Snapshot isolation falls out of copy-on-write:
    * old manifests reference immutable segment files. */
  def atVersion(v: Long): HDFStore = {
    checkOpen()
    new HDFStore(spark, root, readOnly = true, defaultChunkSize, defaultCodec, Some(v))
  }

  // ---------------------------------------------------------------- catalog

  private def checkOpen(): Unit =
    if (closed) throw new IllegalStateException(s"store $root is closed")
  private[graft] def checkWritable(): Unit = {
    checkOpen()
    if (readOnly) throw new UnsupportedOperationException(
      s"store $root opened read-only (StoreMode.Read)")
  }

  /** Normalize an object name: HDF5-style absolute paths `/a/b` and plain
    * names `a/b` address the same object. */
  private[graft] def norm(name: String): String =
    name.split('/').filter(_.nonEmpty).mkString("/")

  /** All table keys, ≙ `keys()` (`nimtables.nim:91-92`). */
  def keys: Seq[String] = { checkOpen(); manifest.tables.keys.toSeq.sorted }

  /** Keys under a group prefix with optional depth cap — ≙ the nimhdf5
    * iterators (`nimhdf5/files.nim:469-516`). depth < 0 = unlimited;
    * depth = 1 lists direct children only. */
  def keys(prefix: String, depth: Int): Seq[String] = {
    checkOpen()
    val p = norm(prefix)
    keys.filter { k =>
      val rel =
        if (p.isEmpty) Some(k)
        else if (k == p) Some("")
        else if (k.startsWith(p + "/")) Some(k.substring(p.length + 1))
        else None
      rel.exists(r => depth < 0 || r.isEmpty || r.count(_ == '/') < depth)
    }
  }

  /** ≙ `contains` (`nimhdf5/files.nim:518-561`): true for tables and groups. */
  def contains(name: String): Boolean = {
    checkOpen()
    val n = norm(name)
    manifest.tables.contains(n) || manifest.groups.contains(n)
  }

  def isTable(name: String): Boolean = { checkOpen(); manifest.tables.contains(norm(name)) }
  def isGroup(name: String): Boolean = { checkOpen(); manifest.groups.contains(norm(name)) }

  def nrows(name: String): Long = resolved(name).rows

  /** Number of physical segments behind a table (introspection/tests). */
  def segmentCount(name: String): Int = resolved(name).segments.size

  /** Table metadata with hardlink (alias) resolution. */
  private[graft] def resolved(name: String): TableMeta = {
    checkOpen()
    var n = norm(name)
    var seen = Set.empty[String]
    var meta = manifest.tables.getOrElse(n,
      throw new NoSuchElementException(s"no such table: $name"))
    while (meta.aliasOf.isDefined) {
      val next = meta.aliasOf.get
      if (seen(next)) throw new IllegalStateException(s"alias cycle at $name")
      seen += next; n = next
      meta = manifest.tables.getOrElse(n,
        throw new NoSuchElementException(s"dangling alias $name -> $n"))
    }
    meta
  }

  private[graft] def commit(): Unit = Manifest.save(fs, rootPath, manifest)

  /** Mark a table as an N-D dataset with the given shape/maxshape
    * (≙ dataspace metadata, `nimhdf5/dataspaces.nim`). -1 ≙ unlimited. */
  private[graft] def setNdMeta(name: String, shape: Vector[Long], maxShape: Vector[Long]): Unit = {
    checkWritable()
    val n = norm(name)
    val m = manifest.tables(n)
    manifest.tables += n -> m.copy(kind = "ndarray", shape = shape, maxShape = maxShape)
    commit()
  }

  private[graft] def setShape(name: String, shape: Vector[Long]): Unit = {
    checkWritable()
    val n = norm(name)
    manifest.tables += n -> manifest.tables(n).copy(shape = shape)
    commit()
  }

  // ---------------------------------------------------------------- groups

  /** Recursive group create ≙ `create_group` mkdir -p semantics
    * (`nimhdf5/groups.nim:204-246`). Groups are pure catalog entries. */
  def createGroup(name: String): Unit = {
    checkWritable()
    val n = norm(name)
    if (n.nonEmpty) {
      val parts = n.split('/')
      val all = parts.indices.map(i => parts.take(i + 1).mkString("/"))
      manifest.groups ++= all
      commit()
    }
  }

  private def ensureParentGroups(tableName: String): Unit = {
    val parts = tableName.split('/')
    if (parts.length > 1)
      manifest.groups ++= (1 until parts.length).map(i => parts.take(i).mkString("/"))
  }

  // ---------------------------------------------------------------- io util

  private[graft] def tableDir(name: String): Path =
    new Path(rootPath, "tables/" + encode(name))

  /** Injective, FS-safe encoding of a table name into a directory name:
    * every escaped char (incl. '%' itself) becomes a FIXED-WIDTH %XXXX
    * escape, so distinct names can never collide. */
  private[graft] def encode(name: String): String =
    name.map {
      case c if (c.isLetterOrDigit && c < 128) || c == '.' || c == '-' || c == '_' => c.toString
      case c => f"%%${c.toInt}%04X"
    }.mkString

  private val segCounter = new java.util.concurrent.atomic.AtomicLong(0)

  /** Write one parquet segment (df must already carry a dense LOCAL
    * `_rowid`, ordered within partitions) and return its metadata.
    * chunkSize → `maxRecordsPerFile`: the row-group/file analog of the
    * HDF5 chunk (`nimtables.nim:60`). A local frame (rows already on the
    * driver, [[RowIds.localRows]]) is written on the driver
    * by Spark's own parquet writer ([[DriverParquet.write]]), with no
    * Spark job; any other frame by a Spark write. */
  private[graft] def writeSegment(
      name: String, df: DataFrame,
      chunkSize: Option[Long], codec: Option[String]): SegmentMeta = {
    checkWritable()
    val segRel = "tables/" + encode(name) +
      f"/seg-${System.currentTimeMillis()}%013d-${segCounter.getAndIncrement()}%04d"
    val segPath = new Path(rootPath, segRel)
    val chunk = chunkSize.orElse(defaultChunkSize)
    val cod = codec.orElse(defaultCodec)
    // Per-file row counts go into the manifest NOW, so no later mutation
    // ever re-reads a footer: refinement needs one dir listing only.
    val fileRows = RowIds.localRows(df) match {
      case Some(rows) => DriverParquet.write(spark, segPath, df.schema, rows, chunk, cod)
      case None =>
        var w = df.write.mode("overwrite")
        chunk.foreach(n => w = w.option("maxRecordsPerFile", n))
        cod.foreach(c => w = w.option("compression", c))
        w.parquet(segPath.toString)
        // counts from the footers of the files just written, read in parallel
        val files = HDFStore.inIdOrder(fs.listStatus(segPath).toSeq
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))).toArray
        val conf = spark.sparkContext.hadoopConfiguration
        java.util.Arrays.stream(files).parallel()
          .mapToLong(MetaIO.footer(conf, _)(_.getRecordCount)).toArray.toVector
    }
    SegmentMeta(segRel, fileRows.sum, 0L,
      if (fileRows.size > 1) fileRows else Vector.empty)
  }

  /** Drop segment data no longer referenced by any catalog entry (old
    * copy-on-write versions). References may be whole segment dirs or
    * individual files inside them (file-granular mutations): a dir with
    * only some files live keeps exactly those files.
    *
    * Safety under the multi-writer optimistic-concurrency model: liveness
    * is computed from the LATEST committed catalog — a stale handle must
    * not treat segments committed behind its back as garbage — and the
    * handle must itself be current (version advance ⇒
    * `ConcurrentModificationException`, reload and retry). `graceMs`
    * additionally spares segment dirs younger than the window (their
    * timestamp is in the dir name), protecting a concurrent writer's
    * written-but-not-yet-committed segments. The default (10 min) is
    * conservative — a writer that staged segments just before this call
    * can still commit them; pass 0 to reclaim everything unreferenced
    * (safe ONLY when this handle is provably the sole writer). */
  def vacuum(graceMs: Long = 600000L): Unit = {
    checkWritable()
    val latest = Manifest.load(fs, rootPath, None)
    if (latest.version != manifest.version)
      throw new java.util.ConcurrentModificationException(
        s"manifest advanced to v${latest.version} behind this handle (at v${manifest.version}); reload before vacuum")
    val cutoff = System.currentTimeMillis() - graceMs
    val SegTs = """seg-(\d{13})-\d+.*""".r
    val refs: Set[String] = latest.tables.values.flatMap(_.segments.map(_.dir)).toSet
    val tablesRoot = new Path(rootPath, "tables")
    if (fs.exists(tablesRoot)) {
      fs.listStatus(tablesRoot).foreach { tdir =>
        fs.listStatus(tdir.getPath).foreach { seg =>
          val rel = "tables/" + tdir.getPath.getName + "/" + seg.getPath.getName
          val young = seg.getPath.getName match {
            case SegTs(ts) => ts.toLong > cutoff
            case _         => false
          }
          if (!refs.contains(rel) && !young) {
            val liveInside = refs.exists(_.startsWith(rel + "/"))
            if (!liveInside) fs.delete(seg.getPath, true)
            else if (fs.getFileStatus(seg.getPath).isDirectory) {
              fs.listStatus(seg.getPath).foreach { f =>
                val frel = rel + "/" + f.getPath.getName
                if (f.isFile && f.getPath.getName.endsWith(".parquet") && !refs.contains(frel))
                  fs.delete(f.getPath, false)
              }
            }
          }
        }
        if (fs.listStatus(tdir.getPath).isEmpty) fs.delete(tdir.getPath, true)
      }
    }
  }

  // ---------------------------------------------------------------- tables

  /** Create/overwrite a table from a DataFrame — ≙ `store[name] = rows`
    * (`nimtables.nim:94-104`). Row order of `df` becomes table position
    * order (its partition order is preserved, like the reference preserves
    * seq order). */
  def put(name: String, df: DataFrame,
          chunkSize: Option[Long] = None, codec: Option[String] = None): Unit =
    putWithMeta(name, df, chunkSize, codec, identity)

  /** [[put]] + a catalog-entry transform in the SAME atomic commit (e.g.
    * N-D kind/shape metadata riding the create, so a crash can't leave a
    * plain "table" where an ndarray was meant). */
  private[graft] def putWithMeta(name: String, df: DataFrame,
          chunkSize: Option[Long], codec: Option[String],
          metaFn: TableMeta => TableMeta): Unit = {
    checkWritable()
    val n = norm(name)
    require(n.nonEmpty, "empty table name")
    require(!manifest.groups.contains(n),
      s"cannot create table '$n': a group with that name exists")
    // an incoming _rowid column defines the order EXPLICITLY (a multi-file
    // scan's partition order is size-packed, not positional)
    val withIds =
      if (df.columns.contains(RowIds.Col)) RowIds.attach(RowIds.sorted(df).drop(RowIds.Col))
      else RowIds.attach(df)
    val seg = writeSegment(n, withIds, chunkSize, codec)
    ensureParentGroups(n)
    // overwriting a base that hardlinks alias: the old data must stay
    // reachable through them — same heir promotion as drop()
    manifest.tables.get(n).foreach(old => promoteHeir(n, old))
    val dataSchema = StructType(withIds.schema.fields.filterNot(_.name == RowIds.Col))
    manifest.tables += n -> metaFn(TableMeta("table", Vector(seg), dataSchema.json,
      chunkSize.orElse(defaultChunkSize), codec.orElse(defaultCodec), None))
    commit()
  }

  /** Typed create — `store[name] = seq` with a case-class row type. */
  def put[T <: Product](name: String, rows: Seq[T],
          chunkSize: Option[Long], codec: Option[String])(implicit enc: Encoder[T]): Unit =
    put(name, spark.createDataset(rows).toDF(), chunkSize, codec)

  def put[T <: Product](name: String, rows: Seq[T])(implicit enc: Encoder[T]): Unit =
    put(name, rows, None, None)

  /** Untyped (schema-on-read) table handle — ≙ nimhdf5's `withDset`
    * dynamic path (`nimhdf5/datasets.nim:727-773`). */
  def table(name: String): HDFTable = {
    checkOpen()
    val n = norm(name)
    resolved(n) // existence check
    new HDFTable(this, n)
  }

  /** Typed table handle — ≙ `store[name, T]` (`nimtables.nim:111-131`);
    * validates the stored layout against the Encoder-derived layout
    * exactly like `checkCompatiblity` (`nimtables.nim:133-138`). */
  def typed[T <: Product](name: String)(implicit enc: Encoder[T]): TypedTable[T] = {
    val t: HDFTable = table(name)
    SchemaUtil.checkCompatibility(enc.schema, t.schema)
    new TypedTable[T](t)
  }

  /** Drop a table or group name — ≙ `delete(store, name)`
    * (`nimtables.nim:106-109`). Like the reference (H5Ldelete on a missing
    * name) this silently no-ops on unknown names; like HDF5 unlink, data
    * shared with an alias stays until the last name is gone (use
    * [[vacuum]] to reclaim). */
  /** HDF5 unlink semantics: if other hardlinks point at base `n`, the
    * object survives — promote one alias to carry the data and repoint
    * the rest at it. No-op when `meta` is itself an alias. */
  private def promoteHeir(n: String, meta: TableMeta): Unit = {
    if (meta.aliasOf.isEmpty) {
      val aliases = manifest.tables.collect {
        case (k, v) if v.aliasOf.contains(n) => k
      }.toSeq.sorted
      aliases.headOption.foreach { heir =>
        manifest.tables += heir -> meta
        aliases.tail.foreach { other =>
          manifest.tables += other -> manifest.tables(other).copy(aliasOf = Some(heir))
        }
      }
    }
  }

  def drop(name: String): Unit = {
    checkWritable()
    val n = norm(name)
    if (manifest.tables.contains(n) || manifest.groups.contains(n)) {
      // group drop detaches the whole subtree (≙ HDF5 unlink of a group:
      // descendants become unreachable), tables first so each gets its
      // heir promotion against hardlinks outside the subtree
      val victims =
        if (manifest.groups.contains(n))
          n +: (manifest.tables.keys ++ manifest.groups)
            .filter(_.startsWith(n + "/")).toSeq.sorted
        else Seq(n)
      victims.foreach { v =>
        manifest.tables.get(v).foreach { meta =>
          manifest.tables -= v
          promoteHeir(v, meta)
        }
        manifest.groups -= v
        manifest.attrs -= v
      }
      commit()
    }
  }

  /** Hardlink ≙ `create_hardlink` (`nimhdf5/files.nim:363-390`): a second
    * catalog name resolving to the same data. */
  def hardlink(target: String, linkName: String): Unit = {
    checkWritable()
    val t = norm(target); val l = norm(linkName)
    resolved(t) // must exist
    require(!manifest.tables.contains(l) && !manifest.groups.contains(l),
      s"name already exists: $linkName")
    ensureParentGroups(l)
    manifest.tables += l -> manifest.tables(t).copy(segments = Vector.empty, aliasOf = Some(t))
    commit()
  }

  /** Copy ≙ nimhdf5 `copy` (`nimhdf5/h5util.nim:159-209`): an independent
    * object with the source's data + attrs. Within one store this is PURE
    * METADATA — the new entry references the same immutable segments, and
    * the first mutation of either side diverges through the normal
    * copy-on-write path (new segment dirs + manifest swap); [[vacuum]]
    * keeps any segment referenced by ANY catalog entry. A 100 TB table
    * copy is therefore one catalog commit, not a driver-side byte funnel.
    * Cross-store copies remain physical file copies (different roots). */
  def copy(src: String, dst: String, dstStore: HDFStore = this): Unit = {
    dstStore.checkWritable()
    val s = norm(src); val d = dstStore.norm(dst)
    val meta = resolved(s)
    val newSegs =
      if (dstStore eq this) meta.segments // shared refs; CoW diverges on mutation
      else meta.segments.map { seg =>
        val rel = "tables/" + dstStore.encode(d) +
          f"/seg-${System.currentTimeMillis()}%013d-${dstStore.segCounter.getAndIncrement()}%04d"
        FileUtil.copy(fs, new Path(rootPath, seg.dir),
          dstStore.fs, new Path(dstStore.rootPath, rel),
          false, spark.sparkContext.hadoopConfiguration)
        // idBase MUST survive the copy: file-granular runs carry stored ids
        // starting at idBase, and the bytes were copied verbatim
        SegmentMeta(rel, seg.rows, seg.idBase, seg.fileRows)
      }
    require(!dstStore.manifest.groups.contains(d),
      s"cannot copy onto '$d': a group with that name exists")
    dstStore.ensureParentGroups(d)
    // overwriting an existing dst: hardlinks pointing at it must keep the
    // OLD data — same heir promotion as put()/drop()
    dstStore.manifest.tables.get(d).foreach(old => dstStore.promoteHeir(d, old))
    dstStore.manifest.tables += d -> meta.copy(segments = newSegs, aliasOf = None)
    manifest.attrs.get(s).foreach { kv =>
      dstStore.manifest.attrs += d -> kv
    }
    dstStore.commit()
  }

  // ---------------------------------------------------------------- attrs

  private def checkObject(obj: String): String = {
    val n = norm(obj)
    if (n.nonEmpty && !manifest.tables.contains(n) && !manifest.groups.contains(n))
      throw new NoSuchElementException(s"no such object for attributes: $obj")
    n
  }

  /** ≙ `write_attribute` (`nimhdf5/attributes.nim:207-319`); overwrites
    * like the reference's delete-then-write. `obj` = "" for the store
    * root, a group name, or a table name. */
  def setAttr(obj: String, key: String, value: Any): Unit = {
    checkWritable()
    val n = checkObject(obj)
    val cur = manifest.attrs.getOrElse(n, Map.empty)
    manifest.attrs += n -> (cur + (key -> AttrValue.of(value)))
    commit()
  }

  /** ≙ `read_attribute` (`nimhdf5/attributes.nim:364-437`). */
  def getAttr(obj: String, key: String): AttrValue =
    attr(obj, key).getOrElse(throw new NoSuchElementException(s"no attribute $key on $obj"))

  def attr(obj: String, key: String): Option[AttrValue] = {
    checkOpen()
    manifest.attrs.getOrElse(checkObject(obj), Map.empty).get(key)
  }

  /** ≙ `existsAttribute` (`nimhdf5/attributes.nim:169-186`). */
  def hasAttr(obj: String, key: String): Boolean = attr(obj, key).isDefined

  /** ≙ `deleteAttribute` (`nimhdf5/attributes.nim:188-205`). */
  def deleteAttr(obj: String, key: String): Unit = {
    checkWritable()
    val n = checkObject(obj)
    manifest.attrs.get(n).foreach { kv => manifest.attrs += n -> (kv - key); commit() }
  }

  def attrKeys(obj: String): Seq[String] = {
    checkOpen()
    manifest.attrs.getOrElse(checkObject(obj), Map.empty).keys.toSeq.sorted
  }

  /** ≙ `copy_attributes` (`nimhdf5/attributes.nim:532-545`). */
  def copyAttrs(src: String, dst: String): Unit = {
    checkWritable()
    val s = checkObject(src); val d = checkObject(dst)
    val merged = manifest.attrs.getOrElse(d, Map.empty) ++ manifest.attrs.getOrElse(s, Map.empty)
    manifest.attrs += d -> merged
    commit()
  }

  // ---------------------------------------------------------------- close

  /** Register every table as a SQL temp view `<prefix><name>` (slashes →
    * underscores), so the whole store is queryable via `spark.sql`. */
  def registerViews(prefix: String = "hdf_"): Unit = {
    checkOpen()
    keys.foreach { k =>
      table(k).df.createOrReplaceTempView(prefix + k.replace('/', '_'))
    }
  }

  /** ≙ file close discipline (`nimhdf5/files.nim:250-325`). Spark commits
    * on write, so this only fences further use. */
  override def close(): Unit = { closed = true }
}

object HDFStore {
  private val PartFile = """part-(\d+)-.*-c(\d+)(\..*)?""".r

  /** A segment's parquet files in id order. A write task names its files
    * `part-<task>-<uuid>-c<counter><ext>` with the counter padded to only
    * three digits, so past 999 files of one task name order is not write
    * order (`c1000` sorts before `c101`): the task and counter numbers
    * compare as numbers. Other names follow, by name. */
  private[graft] def inIdOrder(files: Seq[FileStatus]): Seq[FileStatus] =
    files.sortBy(f => f.getPath.getName match {
      case PartFile(task, counter, _) => (task.toLong, counter.toLong, "")
      case name => (Long.MaxValue, Long.MaxValue, name)
    })

  /** ≙ `openHDFStore(filename, mode, chunkSize, compression)`
    * (`nimtables.nim:60-89`). */
  def open(
      spark: SparkSession,
      path: String,
      mode: StoreMode = StoreMode.Infer,
      chunkSize: Option[Long] = None,
      compression: Boolean = false,
      codec: Option[String] = None): HDFStore = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = Manifest.exists(fs, p)
    val effCodec = codec.orElse(if (compression) Some("gzip") else None)
    mode match {
      case StoreMode.Read =>
        if (!exists) throw new java.io.FileNotFoundException(s"no store at $path")
        new HDFStore(spark, path, readOnly = true, chunkSize, effCodec)
      case StoreMode.ReadWrite =>
        if (!exists) throw new java.io.FileNotFoundException(s"no store at $path")
        new HDFStore(spark, path, readOnly = false, chunkSize, effCodec)
      case StoreMode.Overwrite =>
        if (fs.exists(p)) fs.delete(p, true)
        fs.mkdirs(p)
        val st = new HDFStore(spark, path, readOnly = false, chunkSize, effCodec)
        st.commit() // materialize an empty catalog
        st
      case StoreMode.Infer =>
        if (exists) new HDFStore(spark, path, readOnly = false, chunkSize, effCodec)
        else {
          fs.mkdirs(p)
          val st = new HDFStore(spark, path, readOnly = false, chunkSize, effCodec)
          st.commit()
          st
        }
    }
  }
}
