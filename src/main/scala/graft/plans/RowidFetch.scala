package graft.plans

import scala.reflect.ClassTag

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkContext
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.catalyst.{FileSourceOptions, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression,
  NamedExpression, Predicate, PredicateHelper, UnsafeProjection}
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
 * through a file reader built once per fetch shape and only from the
 * parquet row groups whose id statistics can hold one of them — the Spark
 * analogue of the reference's `DataTable::Fetch` with projection pushdown
 * (hnsw_index_scan.cpp:95-121). The same reads serve a filtered top-k's
 * allow-list pass ([[allowList]]): the rowids of every row that passes the
 * condition. No query is planned per read.
 *
 *  - **Reader.** The relation's `FileFormat` reader function over the
 *    read's columns (the id, the projection's and the condition's
 *    references), with the condition's translatable filters pushed, as
 *    `FileSourceStrategy` builds it. Building it broadcasts the hadoop
 *    conf, so it is kept in a bounded LRU keyed by everything it depends
 *    on: the SparkContext (a broadcast of a stopped context is never
 *    reused), the file format, schemas and options, the read columns, the
 *    condition (normalized to column ordinals, so a new DataFrame over the
 *    same files reuses it) and the session's SQL conf settings.
 *  - **Row-group locator.** Each parquet file's footer summary (row-group
 *    byte ranges, the id column's min and max) is cached by path, length
 *    and modification time, so a rewritten file gets a new one. A fetch
 *    keeps the row groups whose [min, max] holds a hit (or that have no
 *    statistics), an allow-list pass all of them, and reads each as one
 *    split; parquet keeps the row group whose midpoint falls in a split.
 *    Other formats, and files whose footer cannot be read, are read whole,
 *    so the read reports their errors.
 *  - **Execution.** The splits are packed by Spark's own
 *    `FilePartition.getFilePartitions` (`spark.sql.files.maxPartitionBytes`,
 *    `openCostInBytes`) into a `FileScanRDD` (input metrics, missing and
 *    corrupt file handling, `FAILED_READ_FILE` errors). The rowid
 *    membership, the condition and the projection (for the allow-list, the
 *    condition) are applied in the partition function, which builds its
 *    predicate and projection there: the codegen cache serves every query
 *    of a shape. One partition is computed in the calling thread
 *    ([[Bridge.collectInThread]]), more as one job.
 */
private[graft] object RowidFetch extends PredicateHelper {

  /** What one read returned (unordered) and what it cost: splits read,
    * whether the reader was built and whether a job ran. */
  final case class Result[T](rows: Array[T], splits: Int, readerBuilt: Boolean, job: Boolean)

  /** Everything a reader function depends on. */
  private final case class ReaderKey(sc: SparkContext, format: Class[_], dataSchema: StructType,
      partitionSchema: StructType, options: Map[String, String], readColumns: Seq[String],
      condition: Option[Expression], sqlConf: Map[String, String])

  private final class Reader(val read: PartitionedFile => Iterator[InternalRow],
      val requiredSchema: StructType, val hadoopConf: Configuration)

  /** A row group's split and the id column's [min, max], when recorded. */
  private final case class RowGroup(start: Long, length: Long, ids: Option[(Long, Long)])

  private final case class FileKey(path: String, length: Long, mtime: Long)

  private val MaxReaders = 32
  private val MaxFooters = 4096

  private def lru[K, V](max: Int): java.util.LinkedHashMap[K, V] =
    new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size() > max
    }

  private val readers = lru[ReaderKey, Reader](MaxReaders)
  private val footers = lru[FileKey, Array[RowGroup]](MaxFooters)

  /** Rows of `relation` whose `idAttr` is in `hits` and that pass
    * `condition`, projected to `fetchList`. */
  def fetch(session: SparkSession, relation: LogicalRelation, idAttr: Attribute,
      hits: Array[Long], condition: Option[Expression],
      fetchList: Seq[NamedExpression]): Result[InternalRow] = {
    val sorted = hits.sorted
    read(session, relation, idAttr, fetchList.flatMap(_.references), condition, Some(sorted)) {
      (rowAttrs, idOrdinal) => (i, rows) =>
        val keep = condition.map { c => val p = Predicate.create(c, rowAttrs); p.initialize(i); p }
        val project = UnsafeProjection.create(fetchList, rowAttrs)
        project.initialize(i)
        rows.filter { r =>
          !r.isNullAt(idOrdinal) &&
            java.util.Arrays.binarySearch(sorted, r.getLong(idOrdinal)) >= 0 &&
            keep.forall(_.eval(r))
        }.map(r => project(r).copy())
    }
  }

  /** The allow-list of a filtered top-k: the non-null rowids of the rows
    * that pass `condition`, sorted ascending. Reads only the rowid and the
    * condition's columns, with the condition pushed to the reader, from
    * every row group. A partition stops after `maxIds + 1` ids, so a list
    * longer than `maxIds` means "over the bound", not the whole list. */
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
    val (reader, built) = readerFor(session, relation, fs, dataAttrs, condition,
      conjuncts.filterNot(_.references.exists(partSet.contains)))

    val idName = Some(idAttr.name).filter(fs.dataSchema.fieldNames.contains)
    val parquet = fs.fileFormat.isInstanceOf[ParquetFileFormat]
    val splits = fs.location.listFiles(conjuncts.filter(_.references.subsetOf(partSet)), Nil)
      .flatMap { dir =>
        dir.files.flatMap { f =>
          val st = f.fileStatus
          def split(start: Long, length: Long) = PartitionedFile(dir.values,
            SparkPath.fromFileStatus(st), start, length, Array.empty[String],
            st.getModificationTime, st.getLen)
          val groups = if (parquet) idName.flatMap(rowGroups(st, _, reader.hadoopConf)) else None
          groups.fold(Seq(split(0, st.getLen)))(_.toSeq
            .filter(g => hits.forall(holdsHit(_, g))).map(g => split(g.start, g.length)))
        }
      }
    if (splits.isEmpty) return Result(Array.empty[T], 0, built, job = false)

    val partitions = FilePartition.getFilePartitions(session, splits,
      session.sessionState.conf.filesMaxPartitionBytes)
    val scan = new FileScanRDD(session, reader.read, partitions, reader.requiredSchema,
      Nil, fs.fileFormat.fileConstantMetadataExtractors, new FileSourceOptions(fs.options))
    // The reader's rows: the data columns read, then every partition column.
    val rowAttrs = dataAttrs ++ partAttrs
    val rdd = Bridge.mapPartitionsWithIndex(scan)(
      perPartition(rowAttrs, rowAttrs.indexWhere(_.exprId == idAttr.exprId)))
    val job = partitions.length > 1
    val rows = if (job) rdd.collect() else Bridge.collectInThread(rdd)
    Result(rows, splits.length, built, job)
  }

  /** The cached reader of this fetch shape, and whether this call built it. */
  private def readerFor(session: SparkSession, relation: LogicalRelation, fs: HadoopFsRelation,
      dataAttrs: Seq[Attribute], condition: Option[Expression],
      dataFilters: Seq[Expression]): (Reader, Boolean) = {
    val key = ReaderKey(session.sparkContext, fs.fileFormat.getClass, fs.dataSchema,
      fs.partitionSchema, fs.options, dataAttrs.map(_.name),
      condition.map(c => QueryPlan.normalizeExpressions(c, relation.output).canonicalized),
      session.sessionState.conf.getAllConfs)
    readers.synchronized {
      val hit = readers.get(key)
      if (hit != null) return (hit, false)
    }
    // Build outside the lock; a duplicate build by a concurrent caller is
    // harmless.
    val pushed = Bridge.pushedFilters(fs, dataFilters, relation.output)
    val requiredSchema = DataTypeUtils.fromAttributes(dataAttrs)
    val hadoopConf = session.sessionState.newHadoopConfWithOptions(fs.options)
    val read = fs.fileFormat.buildReaderWithPartitionValues(session, fs.dataSchema,
      fs.partitionSchema, requiredSchema, pushed,
      fs.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"), hadoopConf)
    val reader = new Reader(read, requiredSchema, hadoopConf)
    readers.synchronized {
      readers.keySet().removeIf(_.sc.isStopped)
      readers.put(key, reader)
    }
    (reader, true)
  }

  /** Row groups of a parquet file in file order, each split from its first
    * byte to the next one's (the last to the end of the file), so each
    * split holds its own row group's midpoint and no other. None when the
    * footer cannot be read. */
  private def rowGroups(st: FileStatus, idName: String,
      conf: Configuration): Option[Array[RowGroup]] = {
    val key = FileKey(st.getPath.toString, st.getLen, st.getModificationTime)
    val cached = footers.synchronized(footers.get(key))
    if (cached != null) return Some(cached)
    val blocks = try {
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(st, conf),
        ParquetMetadataConverter.NO_FILTER).getBlocks
    } catch { case scala.util.control.NonFatal(_) => return None }
    import scala.jdk.CollectionConverters._
    val starts = blocks.asScala.map { b =>
      val ids = b.getColumns.asScala.find(_.getPath.toDotString == idName)
        .map(_.getStatistics).filter(s => s != null && s.hasNonNullValue)
        .flatMap(s => (s.genericGetMin, s.genericGetMax) match {
          case (lo: Number, hi: Number) => Some((lo.longValue, hi.longValue))
          case _ => None
        })
      (b.getStartingPos, ids)
    }.sortBy(_._1)
    val ends = starts.drop(1).map(_._1) :+ st.getLen
    val groups = starts.zip(ends).map { case ((s, ids), e) => RowGroup(s, e - s, ids) }.toArray
    footers.synchronized(footers.put(key, groups))
    Some(groups)
  }

  /** Whether a row group can hold one of the sorted hits. */
  private def holdsHit(sorted: Array[Long], g: RowGroup): Boolean = g.ids.forall {
    case (lo, hi) =>
      val i = java.util.Arrays.binarySearch(sorted, lo)
      val at = if (i >= 0) i else -i - 1
      at < sorted.length && sorted(at) <= hi
  }
}
