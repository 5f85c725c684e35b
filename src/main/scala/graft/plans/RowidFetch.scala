package graft.plans

import scala.collection.mutable.ArrayBuffer
import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, BindReferences,
  Expression, InterpretedUnsafeProjection, NamedExpression, Predicate, PredicateHelper,
  UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.SparkSession
import org.apache.spark.sql.execution.datasources.{FileFormat,
  FilePartition, FileScanRDD, HadoopFsRelation, LogicalRelation, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.StructType

/**
 * Fetch-by-rowid over a file relation: the rows of a set of rowids, read
 * only from the parquet row groups whose id statistics can hold one of them
 * and, when the read runs in the calling thread, served from decoded row
 * groups kept in memory — the Spark analogue of the reference's
 * `DataTable::Fetch` from buffer-managed column segments with projection
 * pushdown (hnsw_index_scan.cpp:95-121). The same reads serve a filtered
 * top-k's allow-list pass ([[allowList]]): the rowids of every row that
 * passes the condition. No query is planned per read.
 *
 *  - **Readers.** The relation's `FileFormat` reader function over the
 *    read's columns (the id, the projection's and the condition's
 *    references), as `FileSourceStrategy` builds it. Building it broadcasts
 *    the hadoop conf, so it is kept in a bounded LRU keyed by everything it
 *    depends on: the SparkContext (a broadcast of a stopped context is never
 *    reused), the file format, schemas and options, the read columns, the
 *    condition (normalized to column ordinals, so a new DataFrame over the
 *    same files reuses it; None for a reader that pushes no filters) and
 *    the session's SQL conf settings other than this library's own
 *    `spark.graft.*` keys, which no reader reads.
 *  - **Row-group locator.** Each parquet file's footer summary (row-group
 *    byte ranges and row counts, each integer column's min and max, each
 *    column's uncompressed size) is cached by path, length and modification
 *    time, so a rewritten file gets a new one; index builds size their input
 *    from the same summaries ([[rowCount]]). A fetch keeps the row groups
 *    whose id [min, max] holds a hit (or that have no statistics), an
 *    allow-list pass all of them, and reads each as one split; parquet keeps
 *    the row group whose midpoint falls in a split. Other formats, and files
 *    whose footer cannot be read, are read whole, so the read reports their
 *    errors.
 *  - **Row-group cache.** When the splits pack into one partition (Spark's
 *    own `FilePartition.getFilePartitions`, `spark.sql.files.maxPartitionBytes`,
 *    `openCostInBytes`), each parquet split is taken from [[RowGroupCache]]:
 *    the split's full decoded rows as `UnsafeRow`s, keyed by the file's
 *    path, length and modification time, the row group's start, the reader
 *    key without its condition (read columns, schemas, options, SQL confs)
 *    and the SparkContext. A miss reads the split once, in the calling
 *    thread, through a reader that pushes no filters: parquet's column-index
 *    and dictionary filtering drop rows inside a row group, and the cached
 *    rows must serve every condition. So a new predicate literal still hits,
 *    and a warm read opens no file, builds no reader and starts no job.
 *    The cache holds a sixteenth of the driver's max heap, evicting the
 *    least recently used; a split whose read columns' uncompressed size in
 *    the footer exceeds a quarter of that, or whose decoded rows turn out
 *    to, is streamed through the pushed reader as any read and never kept,
 *    and so is a split of another format. A file replaced in place gets a
 *    new length or mtime, so a new key; a file deleted after it was cached
 *    is still served from memory while the relation's file listing is
 *    unchanged, as a listing made before any read would name it.
 *  - **Execution.** The rowid membership, the condition and the projection
 *    (for the allow-list, the condition) are applied by one partition
 *    function. A fetch tests membership first and evaluates the condition
 *    and projection, interpreted, only on the rows that pass it; the
 *    allow-list pass, which tests every row, generates its predicate (the
 *    codegen cache serves every query of a shape). The function runs on the
 *    driver over cached rows, and in a `FileScanRDD` (input metrics,
 *    missing and corrupt file handling, `FAILED_READ_FILE` errors) over
 *    streamed splits, in the calling thread ([[Bridge.collectInThread]]).
 *    Splits that pack into more than one partition are read through the
 *    pushed reader, as one job, and never cached.
 */
private[graft] object RowidFetch extends PredicateHelper {

  /** What one read returned (unordered) and what it cost: splits decoded
    * from files, splits served from the row-group cache, whether a reader
    * was built and whether a job ran. */
  final case class Result[T](rows: Array[T], splitsRead: Int, splitsCached: Int,
      readerBuilt: Boolean, job: Boolean)

  /** Everything a reader function depends on. */
  private[graft] final case class ReaderKey(sc: SparkContext, format: Class[_],
      dataSchema: StructType, partitionSchema: StructType, options: Map[String, String],
      readColumns: Seq[String], condition: Option[Expression], sqlConf: Map[String, String])

  /** The session's SQL confs a file reader can depend on: all but this
    * library's own `spark.graft.*` keys, which no reader reads, so setting
    * one (say, `spark.graft.hnsw.rewrite.enabled`) keeps both caches warm. */
  private def readerConf(session: SparkSession): Map[String, String] =
    session.sessionState.conf.getAllConfs.filter { case (k, _) => !k.startsWith("spark.graft.") }

  private final class Reader(val read: PartitionedFile => Iterator[InternalRow],
      val requiredSchema: StructType)

  /** A row group's split, its row count, the [min, max] of each integer
    * column that records them (by dotted path), and the uncompressed bytes
    * of each top-level column (lower-cased name). */
  private final case class RowGroup(start: Long, length: Long, rows: Long,
      bounds: Map[String, (Long, Long)], columnBytes: Map[String, Long])

  private[graft] final case class FileKey(path: String, length: Long, mtime: Long)

  private val MaxReaders = 32
  private val MaxFooters = 4096

  private def lru[K, V](max: Int): java.util.LinkedHashMap[K, V] =
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size() > max
    }

  private val readers = lru[ReaderKey, Reader](MaxReaders)
  private val footers = lru[FileKey, Array[RowGroup]](MaxFooters)

  /** The driver's row-group cache. A var so a spec can swap in one with a
    * small budget. */
  @volatile private[graft] var rowGroupCache = new RowGroupCache(Runtime.getRuntime.maxMemory / 16)

  /** Rows of `relation` whose `idAttr` is in `hits` and that pass
    * `condition`, projected to `fetchList`. */
  def fetch(session: SparkSession, relation: LogicalRelation, idAttr: Attribute,
      hits: Array[Long], condition: Option[Expression],
      fetchList: Seq[NamedExpression]): Result[InternalRow] = {
    val sorted = hits.sorted
    read(session, relation, idAttr, fetchList.flatMap(_.references), condition, Some(sorted)) {
      (rowAttrs, idOrdinal) => (i, rows) =>
        // Rowid membership first; the condition and the projection run
        // interpreted on the at most k rows that pass it, which costs less
        // than generating their code.
        val keep = condition.map { c =>
          val p = Predicate.createInterpreted(BindReferences.bindReference(c, rowAttrs))
          p.initialize(i)
          p
        }
        val project = {
          val p = InterpretedUnsafeProjection.createProjection(
            BindReferences.bindReferences[Expression](fetchList, rowAttrs))
          p.initialize(i)
          p
        }
        rows.filter { r =>
          !r.isNullAt(idOrdinal) &&
            java.util.Arrays.binarySearch(sorted, r.getLong(idOrdinal)) >= 0 &&
            keep.forall(_.eval(r))
        }.map(r => project(r).copy())
    }
  }

  /** The allow-list of a filtered top-k: the non-null rowids of the rows
    * that pass `condition`, sorted ascending. Reads only the rowid and the
    * condition's columns, from every row group. A partition stops after
    * `maxIds + 1` ids, so a list longer than `maxIds` means "over the
    * bound", not the whole list. */
  def allowList(session: SparkSession, relation: LogicalRelation, idAttr: Attribute,
      condition: Expression, maxIds: Int): Result[Long] = {
    val parts = read(session, relation, idAttr, Nil, Some(condition), None) {
      (rowAttrs, idOrdinal) => (i, rows) =>
        val keep = Predicate.create(condition, rowAttrs)
        keep.initialize(i)
        val ids = new scala.collection.mutable.ArrayBuilder.ofLong
        var n = 0
        while (n <= maxIds && rows.hasNext) {
          val r = rows.next()
          if (!r.isNullAt(idOrdinal) && keep.eval(r)) { ids += r.getLong(idOrdinal); n += 1 }
        }
        Iterator.single(ids.result())
    }
    val ids = parts.rows.flatten
    java.util.Arrays.sort(ids)
    parts.copy(rows = ids)
  }

  /** A split to read, its file's key and, for a parquet row group, the
    * uncompressed bytes of the read's columns in it. */
  private final case class Split(file: PartitionedFile, key: FileKey, bytes: Option[Long])

  /**
   * One read of `relation`: the id, `references` and `condition`'s columns,
   * from the row groups that can hold one of `hits` (sorted; None = every
   * row group), through `perPartition` — given the reader's row attributes
   * and the id's ordinal there, it maps partition `i`'s rows to results.
   */
  private def read[T: ClassTag](session: SparkSession, relation: LogicalRelation,
      idAttr: Attribute, references: Seq[Attribute], condition: Option[Expression],
      hits: Option[Array[Long]])(
      perPartition: (Seq[Attribute], Int) => (Int, Iterator[InternalRow]) => Iterator[T])
      : Result[T] = {
    val fs = relation.relation.asInstanceOf[HadoopFsRelation]
    val partAttrs = relation.resolve(fs.partitionSchema, session.sessionState.conf.resolver)
    val partSet = AttributeSet(partAttrs)
    val reads = AttributeSet(idAttr +: (references ++ condition.toSeq.flatMap(_.references)))
    val dataAttrs = relation.output.filter(a => reads.contains(a) && !partSet.contains(a))
    val conjuncts = condition.toSeq.flatMap(splitConjunctivePredicates)
    val dataFilters = conjuncts.filterNot(_.references.exists(partSet.contains))
    val readColumns = dataAttrs.map(_.name.toLowerCase(java.util.Locale.ROOT))

    val idName = Some(idAttr.name).filter(fs.dataSchema.fieldNames.contains)
    val parquet = fs.fileFormat.isInstanceOf[ParquetFileFormat]
    lazy val footerConf = session.sessionState.newHadoopConfWithOptions(fs.options)
    val listed = fs.location.listFiles(conjuncts.filter(_.references.subsetOf(partSet)), Nil)
    val splits = listed.flatMap { dir =>
      dir.files.flatMap { f =>
        val st = f.fileStatus
        val key = FileKey(st.getPath.toString, st.getLen, st.getModificationTime)
        def split(start: Long, length: Long, bytes: Option[Long]) = Split(PartitionedFile(
          dir.values, SparkPath.fromFileStatus(st), start, length, Array.empty[String],
          st.getModificationTime, st.getLen), key, bytes)
        val groups = if (parquet && idName.isDefined) rowGroups(st, key, footerConf) else None
        groups.fold(Seq(split(0, st.getLen, None)))(_.toSeq
          .filter(g => hits.forall(holdsHit(_, idName.flatMap(g.bounds.get))))
          .map(g => split(g.start, g.length,
            Some(readColumns.map(g.columnBytes.getOrElse(_, 0L)).sum))))
      }
    }
    if (splits.isEmpty) return Result(Array.empty[T], 0, 0, readerBuilt = false, job = false)

    // The reader's rows: the data columns read, then every partition column.
    val rowAttrs = dataAttrs ++ partAttrs
    val compute = perPartition(rowAttrs, rowAttrs.indexWhere(_.exprId == idAttr.exprId))
    var built = false
    def reader(pushed: Boolean): Reader = {
      val (r, b) = readerFor(session, relation, fs, dataAttrs,
        if (pushed) condition else None, if (pushed) dataFilters else Nil)
      built |= b
      r
    }
    def scan(r: Reader, partitions: Seq[FilePartition]) = new FileScanRDD(session, r.read,
      partitions, r.requiredSchema, Nil, fs.fileFormat.fileConstantMetadataExtractors,
      new FileSourceOptions(fs.options))

    val partitions = FilePartition.getFilePartitions(session, splits.map(_.file),
      session.sessionState.conf.filesMaxPartitionBytes)
    if (partitions.length > 1) {
      val rows = Bridge.mapPartitionsWithIndex(scan(reader(pushed = true), partitions))(compute)
        .collect()
      return Result(rows, splits.length, 0, built, job = true)
    }

    // One partition: splits from the row-group cache, fills of cacheable
    // misses, and the rest streamed through the pushed reader.
    val cache = rowGroupCache
    val shape = ReaderKey(session.sparkContext, fs.fileFormat.getClass, fs.dataSchema,
      fs.partitionSchema, fs.options, dataAttrs.map(_.name), None,
      readerConf(session))
    val keys = splits.map(s => RowGroupCache.Key(shape, s.key, s.file.start))
    val held = keys.map(cache.get).toArray
    def inMemory(i: Int) = held(i) != null && (held(i) ne RowGroupCache.TooLarge)
    val fromMemory = splits.indices.count(inMemory)
    val misses = splits.indices.filter(i => held(i) == null && splits(i).bytes.exists(_ <= cache.cap))
    if (misses.nonEmpty) {
      val fill = scan(reader(pushed = false),
        misses.indices.map(j => FilePartition(j, Array(splits(misses(j)).file))))
      val schema = DataTypeUtils.fromAttributes(rowAttrs)
      val cap = cache.cap
      val decoded = Bridge.mapPartitionsWithIndex(fill) { (_, rows) =>
        Iterator.single(RowGroupCache.decode(rows, schema, cap))
      }
      for (j <- misses.indices) {
        val (rows, bytes) = Bridge.collectInThread(decoded, j).head
          .getOrElse((RowGroupCache.TooLarge, 0L))
        cache.put(keys(misses(j)), rows, bytes)
        held(misses(j)) = rows
      }
    }
    val out = ArrayBuffer.empty[T]
    out ++= compute(0, splits.indices.iterator.filter(inMemory).flatMap(held(_)))
    val streamed = splits.indices.filterNot(inMemory).map(splits(_).file)
    if (streamed.nonEmpty) out ++= Bridge.collectInThread(Bridge.mapPartitionsWithIndex(
      scan(reader(pushed = true), Seq(FilePartition(0, streamed.toArray))))(compute))
    Result(out.toArray, splits.length - fromMemory, fromMemory, built, job = false)
  }

  /** The cached reader of this shape, and whether this call built it. With
    * `condition` None it pushes no filters. */
  private def readerFor(session: SparkSession, relation: LogicalRelation, fs: HadoopFsRelation,
      dataAttrs: Seq[Attribute], condition: Option[Expression],
      dataFilters: Seq[Expression]): (Reader, Boolean) = {
    val key = ReaderKey(session.sparkContext, fs.fileFormat.getClass, fs.dataSchema,
      fs.partitionSchema, fs.options, dataAttrs.map(_.name),
      condition.map(c => QueryPlan.normalizeExpressions(c, relation.output).canonicalized),
      readerConf(session))
    readers.synchronized {
      val hit = readers.get(key)
      if (hit != null) return (hit, false)
    }
    // Build outside the lock; a duplicate build by a concurrent caller is
    // harmless.
    val pushed = Bridge.pushedFilters(fs, dataFilters, relation.output)
    val requiredSchema = DataTypeUtils.fromAttributes(dataAttrs)
    val read = fs.fileFormat.buildReaderWithPartitionValues(session, fs.dataSchema,
      fs.partitionSchema, requiredSchema, pushed,
      fs.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      session.sessionState.newHadoopConfWithOptions(fs.options))
    val reader = new Reader(read, requiredSchema)
    readers.synchronized {
      readers.keySet().removeIf(_.sc.isStopped)
      readers.put(key, reader)
    }
    (reader, true)
  }

  /** Rows in the files of `fs`, summed from the cached footers: an upper
    * bound on what a scan of it returns, whatever its filters. None when
    * the relation is not parquet or a footer cannot be read. */
  def rowCount(session: SparkSession, fs: HadoopFsRelation): Option[Long] = {
    if (!fs.fileFormat.isInstanceOf[ParquetFileFormat]) return None
    lazy val conf = session.sessionState.newHadoopConfWithOptions(fs.options)
    fs.location.listFiles(Nil, Nil).flatMap(_.files).foldLeft(Option(0L)) { (total, f) =>
      val st = f.fileStatus
      for {
        n <- total
        groups <- rowGroups(st, FileKey(st.getPath.toString, st.getLen, st.getModificationTime), conf)
      } yield n + groups.map(_.rows).sum
    }
  }

  /** Row groups of a parquet file in file order, each split from its first
    * byte to the next one's (the last to the end of the file), so each
    * split holds its own row group's midpoint and no other. None when the
    * footer cannot be read. */
  private def rowGroups(st: FileStatus, key: FileKey,
      conf: => Configuration): Option[Array[RowGroup]] = {
    val cached = footers.synchronized(footers.get(key))
    if (cached != null) return Some(cached)
    val blocks = try {
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf),
        ParquetMetadataConverter.NO_FILTER).getBlocks
    } catch { case scala.util.control.NonFatal(_) => return None }
    import scala.jdk.CollectionConverters._
    val starts = blocks.asScala.map { b =>
      val columns = b.getColumns.asScala
      val bounds = columns.flatMap { c =>
        Option(c.getStatistics).filter(_.hasNonNullValue)
          .flatMap(s => (s.genericGetMin, s.genericGetMax) match {
            case (lo: java.lang.Integer, hi: java.lang.Integer) => Some((lo.longValue, hi.longValue))
            case (lo: java.lang.Long, hi: java.lang.Long) => Some((lo.longValue, hi.longValue))
            case _ => None
          })
          .map(c.getPath.toDotString -> _)
      }.toMap
      val bytes = columns.groupMapReduce(
        _.getPath.toArray.head.toLowerCase(java.util.Locale.ROOT))(_.getTotalUncompressedSize)(_ + _)
      (b.getStartingPos, b.getRowCount, bounds, bytes)
    }.sortBy(_._1)
    val ends = starts.drop(1).map(_._1) :+ st.getLen
    val groups = starts.zip(ends).map { case ((s, rows, bounds, bytes), e) =>
      RowGroup(s, e - s, rows, bounds, bytes)
    }.toArray
    footers.synchronized(footers.put(key, groups))
    Some(groups)
  }

  /** Whether a row group whose ids span `ids` (None: not recorded) can hold
    * one of the sorted hits. */
  private def holdsHit(sorted: Array[Long], ids: Option[(Long, Long)]): Boolean = ids.forall {
    case (lo, hi) =>
      val i = java.util.Arrays.binarySearch(sorted, lo)
      val at = if (i >= 0) i else -i - 1
      at < sorted.length && sorted(at) <= hi
  }
}

/**
 * Decoded parquet row groups on the driver, for [[RowidFetch]]'s in-thread
 * reads: each entry is one split's full rows as `UnsafeRow`s. The byte total
 * (rows' sizes plus a per-row overhead) stays within `budget`, least
 * recently used entries evicted first; no entry is over [[cap]], a quarter
 * of the budget. A split whose rows passed the cap while they were decoded
 * is held as [[RowGroupCache.TooLarge]], so later reads stream it without
 * decoding it again; at most [[RowGroupCache.MaxEntries]] entries are held.
 * Entries of a stopped SparkContext are dropped on the next put. Cached rows
 * are shared between threads and only read.
 */
private[graft] final class RowGroupCache(val budget: Long) {
  import RowGroupCache.{Key, MaxEntries}

  private final class Entry(val rows: Array[UnsafeRow], val bytes: Long)

  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var total = 0L

  /** The largest entry. */
  def cap: Long = budget / 4

  /** The rows of `key`, [[RowGroupCache.TooLarge]], or null. */
  def get(key: Key): Array[UnsafeRow] = synchronized {
    val e = entries.get(key)
    if (e == null) null else e.rows
  }

  /** Adds `rows` (`bytes` ≤ [[cap]]) as `key`'s entry. A concurrent
    * caller's fill of the same key is replaced and no longer counted. */
  def put(key: Key, rows: Array[UnsafeRow], bytes: Long): Unit = synchronized {
    require(bytes <= cap, s"$bytes bytes over the entry cap $cap")
    val prev = entries.put(key, new Entry(rows, bytes))
    total += bytes - (if (prev == null) 0L else prev.bytes)
    // Least recently used first; the entry just put is the last.
    val it = entries.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.shape.sc.isStopped ||
          ((total > budget || entries.size > MaxEntries) && e.getKey != key)) {
        total -= e.getValue.bytes
        it.remove()
      }
    }
  }

  /** The bytes held. */
  def bytes: Long = synchronized(total)

  def clear(): Unit = synchronized { entries.clear(); total = 0L }

  /** The SparkContexts of the entries held. */
  def contexts: Set[SparkContext] = synchronized {
    import scala.jdk.CollectionConverters._
    entries.keySet().asScala.map(_.shape.sc).toSet
  }
}

private[graft] object RowGroupCache {
  /** A split's rows: the read's shape (a reader key without a condition),
    * its file and the row group's start. */
  final case class Key(shape: RowidFetch.ReaderKey, file: RowidFetch.FileKey, start: Long)

  /** The entry of a split too large to hold. */
  val TooLarge: Array[UnsafeRow] = new Array[UnsafeRow](0)

  val MaxEntries = 4096

  /** Bytes counted per row beyond its data: the row's and its byte array's
    * headers and references. */
  val RowOverhead = 64L

  /** `rows` as `UnsafeRow` copies of `schema` and their bytes, or None as
    * soon as the bytes pass `cap`. */
  def decode(rows: Iterator[InternalRow], schema: StructType,
      cap: Long): Option[(Array[UnsafeRow], Long)] = {
    val toUnsafe = UnsafeProjection.create(schema)
    val out = ArrayBuffer.empty[UnsafeRow]
    var bytes = 0L
    while (rows.hasNext) {
      val r = toUnsafe(rows.next()).copy()
      bytes += r.getSizeInBytes + RowOverhead
      if (bytes > cap) return None
      out += r
    }
    Some((out.toArray, bytes))
  }
}
