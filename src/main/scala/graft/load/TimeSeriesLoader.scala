package graft.load

import graft.core._
import graft.meta._
import graft.validate.{FileValidator, TimeSeriesValidator}
import org.apache.hadoop.fs.{FileStatus, Path => HadoopPath}
import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Expression, GreaterThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, PartitionSpec}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.io.{IOException, UncheckedIOException}
import java.nio.charset.Charset
import java.nio.file.{Files, Path, Paths}
import java.time.{Instant, ZoneId}
import java.time.temporal.ChronoUnit
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** Loaded-corpus result (reference FileDataFrame.get_dataframe +
  * concat_metadata, load_file.py:1863-1878). `df` is in timestamp order
  * (sorted on file-edge chunks, see `TimeSeriesLoader`); `unsorted` holds
  * the same rows before that sort, for the analyses that order the series
  * themselves.
  */
final case class LoadedSeries(
    df: DataFrame,
    files: Seq[FileMetadata],
    timestampColumn: Option[String],
    errors: ErrorCollector,
    discoveryStats: Option[DiscoveryStats],
    // the ONE context map threaded through the whole PostProcessingHook
    // chain (reference ts_extensions.py:58-75): hooks see each other's
    // entries and callers read accumulated stats (e.g.
    // processing_stats.outliers_removed) after load
    hookContext: Map[String, Any] = Map.empty
)(unsorted: DataFrame) {
  /** A4 concat metadata. The reference computes end_time with min() — a bug
    * (load_file.py:1873-1875); we implement the documented max().
    */
  def concatMetadata: Map[String, Any] = Map(
    "total_files" -> files.size,
    "start_time" -> files.flatMap(_.startTime).sortBy(_.getTime).headOption,
    "end_time" -> files.flatMap(_.endTime).sortBy(_.getTime).lastOption,
    "size_in_bytes" -> df.queryExecution.optimizedPlan.stats.sizeInBytes
  )

  private def tsColOrThrow: String = timestampColumn.getOrElse(
    throw new TimeValidationException("no timestamp column detected"))

  /** Reference analyze_time_series_continuity (load_file.py:2024-2125) as a
    * method on the loaded corpus. Reads the rows before the loader's time
    * sort: the diff window orders the series itself, so the sort's range
    * exchange and sampling job would be paid for nothing.
    */
  def analyzeContinuity(
      expectedFrequency: Option[String] = None,
      minGapSize: String = "1min"
  ): graft.ts.Continuity.ContinuityReport =
    graft.ts.Continuity.analyze(unsorted, tsColOrThrow,
      expectedFrequency.map(graft.core.Offsets.parse),
      graft.core.Offsets.parse(minGapSize))

  /** Reference resample_time_series (load_file.py:2241-2360) as a method on
    * the loaded corpus, one global series; original frame untouched.
    * Numeric columns are aggregated; the metadata columns (`source_file`,
    * `file_start_time`, `file_end_time`) take the row nearest to each bucket.
    * "ffill"/"bfill" fill every column, "interpolate" only the numeric ones.
    * The grid bounds stay in the plan; only `includeAllGaps = false` collects
    * them while building. Like `analyzeContinuity` it reads the rows before
    * the loader's time sort: buckets are aggregated, and the fill windows
    * order the grid themselves.
    */
  def resample(
      frequency: String,
      methodResample: Option[String] = None,
      methodFill: Option[String] = None,
      fillLimit: Option[Int] = None,
      includeAllGaps: Boolean = true,
      maxGapSize: Option[String] = None
  ): DataFrame =
    graft.ts.Resample.resampleTimeSeries(unsorted, tsColOrThrow, frequency,
      methodResample, methodFill, fillLimit, includeAllGaps, maxGapSize)

  /** Reference generate_time_series_report (load_file.py:1023-1102). */
  def fileReport(config: TimeSeriesConfig = TimeSeriesConfig()): graft.meta.FileReport.TimeSeriesFileReport =
    graft.meta.FileReport.generate(files, config)
}

/** The flagship pipeline (reference FileDataFrame.initialize_processing,
  * load_file.py:1263-1323): discover -> extract metadata -> validate
  * sequence -> header check -> read + attach metadata -> union -> transform
  * -> parse timestamps -> sort -> clean names -> hooks.
  *
  * Spark-first shape (NOT the reference's per-file pandas loop):
  *   - steps 1-3 are metadata-plane and stay on the driver; row data NEVER
  *     lands on the driver;
  *   - the read is ONE multi-path csv scan per distinct header with an
  *     enforced all-string schema (so Catalyst sees a single scan node:
  *     column pruning, limit pushdown and partition-level parallelism all
  *     apply), not N unioned per-file plans whose lineage would grow
  *     O(files). The scan is built from discovery's own file list: Spark
  *     neither lists nor globs the paths again (see scanFiles);
  *   - per-file constants (FileMetadataColumns) attach in each scan by
  *     looking up the scan's own `_metadata.file_path` in a driver-side map
  *     — no join, no shuffle, and the plan's size estimate stays that of
  *     the CSV bytes. The lookup is a native expression (`FileMetadataOf`),
  *     not a `udf`: no per-row encoder conversion, and no
  *     `ResolveEncodersInUDF` pass, which took about 10 ms of analysis per
  *     load + resample build (20 warm builds, `ingest_few_large`, local[4]).
  *     In-memory uploads attach the same values as literals;
  *   - from there files and uploads share one path: the same header check,
  *     one `DataTransformer` call on the whole frame, one timestamp parse,
  *     naming and hooks;
  *   - the optional time sort runs last, on `LoadedSeries.df` only. The
  *     files are time-ordered chunks of one series, so their names' start
  *     times give the range edges: one exchange that passes a computed
  *     partition id through (`repartitionById`) and a sort within each
  *     partition, with no sampling job (see timeSorted). Continuity and
  *     resample read the frame from before it: each re-orders the series in
  *     its own window or aggregate, so a sort under them would cost an
  *     exchange per action and change no result.
  */
object TimeSeriesLoader {
  /** Per-file columns on every loaded row (P4): file name, start time, end time. */
  val FileMetadataColumns: Seq[String] = Seq("source_file", "file_start_time", "file_end_time")

  /** One file's FileMetadataColumns values, in their order. */
  private def metadataValues(m: FileMetadata): (String, java.sql.Timestamp, java.sql.Timestamp) =
    (new java.io.File(m.filepath).getName, m.startTime.orNull, m.endTime.orNull)

  /** Adds FileMetadataColumns from a struct whose `_1.._3` follow their order. */
  private def withMetadata(df: DataFrame, values: Column): DataFrame =
    df.withColumns(ListMap(FileMetadataColumns.zipWithIndex.map { case (c, i) =>
      c -> values(s"_${i + 1}")
    }: _*))
}

class TimeSeriesLoader(
    spark: SparkSession,
    discovery: FileDiscoveryConfig = FileDiscoveryConfig(),
    loading: LoadingConfig = LoadingConfig(),
    naming: ColumnNamingConfig = ColumnNamingConfig(),
    tsConfig: TimeSeriesConfig = TimeSeriesConfig(),
    extractor: MetadataExtractor = new TimeMetadataExtractor(),
    fileFilter: Option[FileFilter] = None,
    contentValidator: Option[FileValidator] = None,
    transformer: DataTransformer = new DefaultDataTransformer(),
    hooks: Seq[PostProcessingHook] = Nil,
    sortByTimestamp: Boolean = true
) {
  import TimeSeriesLoader._
  private val errors = new ErrorCollector

  private def filt: FileFilter =
    fileFilter.getOrElse(new MetadataFileFilter(extractor))

  /** Steps 1-3: discovery + metadata + sequence validation. */
  def discoverAndValidate(basePath: String): (Seq[FileMetadata], DiscoveryStats) = {
    val res = Discovery.discover(basePath, discovery, filt, contentValidator)
    val metas = Discovery.extractAll(res.files, extractor, errors)
    validateSequence(metas)
    (metas, res.stats)
  }

  private def validateSequence(metas: Seq[FileMetadata]): Unit = {
    val validator = new TimeSeriesValidator(tsConfig)
    val verdict = validator.isValidSequence(metas)
    if (!verdict.isValid) {
      errors.add(ProcessingError(
        verdict.errorMessage.getOrElse("time-series validation failed"),
        ErrorSeverity.Critical, "TimeValidationError"))
      if (tsConfig.failOnValidationError)
        throw new TimeValidationException(verdict.errorMessage.getOrElse("invalid sequence"))
    }
  }

  /** Full pipeline from a directory. */
  def load(basePath: String): LoadedSeries = {
    val (metas, stats) = discoverAndValidate(basePath)
    loadFiles(metas, Some(stats))
  }

  /** Full pipeline from an explicit file list (S2). */
  def loadPaths(paths: Seq[String]): LoadedSeries = {
    val res = Discovery.fromFiles(paths, filt, contentValidator)
    val metas = Discovery.extractAll(res.files, extractor, errors)
    validateSequence(metas)
    loadFiles(metas, Some(res.stats))
  }

  /** In-memory uploads (S3): batch source from (name, bytes) pairs. */
  def loadUploads(uploads: Seq[(String, Array[Byte])]): LoadedSeries = {
    import spark.implicits._
    val valid = Discovery.fromUploads(uploads, extractor)
    val metas = valid.map { case (name, _) =>
      scala.util.Try(extractor.extractMetadata(Paths.get(name)))
        .getOrElse(FileMetadata(name))
    }
    validateSequence(metas)
    val lines = valid.map { case (_, bytes) => new String(bytes, loading.encoding).linesIterator.toSeq }
    val headers = enforceHeaders(metas,
      metas.zip(lines).map { case (m, ls) => sample(m.filepath, ls.iterator, probeRows) })
    val parts = metas.zip(headers).zip(lines).map { case ((m, h), ls) =>
      withMetadata(csvReader(h).csv(spark.createDataset(ls)), typedLit(metadataValues(m)))
    }
    assemble(parts, headers.head, metas, None)
  }

  /** The CSV options of both readers (uploads' `csvReader`, files' `scanFiles`). */
  private val csvOptions: Map[String, String] = Map(
    "sep" -> loading.delimiter,
    "header" -> "true",
    "encoding" -> loading.encoding,
    "mode" -> "PERMISSIVE")

  /** All-string schema over one ordered header: the transformer step
    * reproduces to_numeric(errors=coerce) on top of it.
    */
  private def stringSchema(header: Seq[String]): StructType =
    StructType(header.map(c => StructField(c, StringType, nullable = true)))

  private def csvReader(header: Seq[String]) =
    spark.read.options(csvOptions).schema(stringSchema(header))

  /** A local file as the qualified Hadoop path the scan reports it by. */
  private def hadoopPath(file: String): HadoopPath =
    new HadoopPath(new java.io.File(file).getAbsoluteFile.toURI)

  /** One CSV scan over files discovery already found. Each file is statted
    * once on the driver and the scan's file index is seeded with those
    * statuses, so Spark neither lists the paths again (above 32 paths its
    * listing is a distributed job) nor reads them as globs (a `[`, `{` or
    * `?` in a file name stays literal). `InMemoryFileIndex`,
    * `FileStatusCache`, `HadoopFsRelation` and `CSVFileFormat` are
    * Spark-internal classes; the plan is the one `spark.read.csv` builds.
    */
  private def scanFiles(header: Seq[String], paths: Seq[String]): DataFrame = {
    val conf = spark.sessionState.newHadoopConfWithOptions(csvOptions)
    val statuses = paths.map { p =>
      val hp = hadoopPath(p)
      try hp.getFileSystem(conf).getFileStatus(hp)
      catch { case e: IOException => fail(p, s"Cannot read $p: $e", e) }
    }
    val statusOf = statuses.map(s => s.getPath -> Array(s)).toMap
    val known = new FileStatusCache {
      override def getLeafFiles(path: HadoopPath): Option[Array[FileStatus]] = statusOf.get(path)
      def putLeafFiles(path: HadoopPath, files: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val schema = stringSchema(header)
    val index = new InMemoryFileIndex(spark, statuses.map(_.getPath), csvOptions, Some(schema),
      known, Some(PartitionSpec.emptySpec))
    spark.baseRelationToDataFrame(
      HadoopFsRelation(index, new StructType(), schema, None, new CSVFileFormat, csvOptions)(spark))
  }

  /** Records a per-file load failure in the error ledger and raises it. */
  private def fail(file: String, msg: String, cause: Throwable = null): Nothing = {
    errors.add(ProcessingError(msg, ErrorSeverity.Error, "DataLoadingError", Some(file)))
    throw new DataLoadingException(msg, cause)
  }

  /** S5: header of the first file without reading data (manual limit
    * pushdown, reference nrows=0 at load_file.py:1727).
    */
  def originalColumnNames(path: String): Seq[String] = sampleFile(Paths.get(path), 0)._1

  /** A source's header and first data lines, split on the delimiter and trimmed. */
  private type Sample = (Seq[String], Vector[Array[String]])

  /** Data lines `enforceHeaders` samples per source. */
  private val probeRows = 10

  private def sample(name: String, lines: Iterator[String], rows: Int): Sample = {
    val sep = java.util.regex.Pattern.quote(loading.delimiter)
    if (!lines.hasNext) throw new DataLoadingException(s"File is empty: $name")
    val header = lines.next().split(sep).map(_.trim).toSeq
    (header, lines.take(rows).map(_.split(sep, -1).map(_.trim)).toVector)
  }

  /** `sample` from ONE bounded read of a file, decoded with `loading.encoding`. */
  private def sampleFile(p: Path, rows: Int): Sample =
    try {
      val s = Files.lines(p, Charset.forName(loading.encoding))
      try sample(p.toString, s.iterator().asScala, rows)
      finally s.close()
    } catch {
      case e @ (_: IOException | _: UncheckedIOException) => fail(p.toString, s"Cannot read $p: $e", e)
    }

  /** P5: per-file header + dtype enforcement against file #1 (reference
    * load_file.py:1489-1531: column mismatch at :1513-1522, np.issubdtype
    * dtype mismatch at :1525-1531), for files and uploads alike. One bounded
    * sample per file — metadata-plane cost, the data itself is scanned
    * exactly once, later. Returns every file's ordered header: a file with
    * the same column SET in a different ORDER is legal (pandas concat aligns
    * by name) but must get its own positional schema at read time — see
    * loadFiles.
    */
  private def enforceHeaders(metas: Seq[FileMetadata], samples: Seq[Sample]): Seq[Seq[String]] = {
    val headers = samples.map(_._1)
    val ref = headers.head
    val refNumeric = ref.zip(numericColumns(samples.head._2, ref.size)).toMap
    metas.tail.zip(samples.tail).foreach { case (m, (h, rows)) =>
      if (h.toSet != ref.toSet)
        fail(m.filepath, s"Column mismatch in ${m.filepath}: expected ${ref.mkString(",")} got ${h.mkString(",")}")
      // compare BY NAME (not position): reordered files align by name at
      // read time, so only a column flipping numeric<->non-numeric under
      // its own name is the reference's "Data type mismatch"
      h.zip(numericColumns(rows, h.size)).foreach { case (cname, tn) =>
        (refNumeric(cname), tn) match {
          case (Some(a), Some(b)) if a != b =>
            fail(m.filepath, s"Data type mismatch in ${m.filepath}: column '$cname'")
          case _ => () // no data observed on one side -> cannot judge
        }
      }
    }
    headers
  }

  /** Per-column numeric-ness of sampled data lines: Some(true)=all
    * non-empty values parse as double, Some(false)=some don't, None=no data
    * observed.
    */
  private def numericColumns(rows: Vector[Array[String]], nCols: Int): Seq[Option[Boolean]] = {
    val dec = java.util.regex.Pattern.quote(loading.decimal)
    (0 until nCols).map { i =>
      val vals = rows.map(_.lift(i).getOrElse("")).filter(_.nonEmpty)
      if (vals.isEmpty) None
      else Some(vals.forall(v =>
        scala.util.Try(v.replaceAll(dec, ".").toDouble).isSuccess))
    }
  }

  private def detectTimestampColumn(header: Seq[String]): Option[String] =
    loading.timestampColumn.orElse(header.find(_.toLowerCase.contains("time")))

  /** Steps 4+: one scan per distinct header ordering (one scan, period, in
    * the overwhelmingly common identical-headers case), each tagging its
    * rows with per-file metadata. A positional schema over a REORDERED file
    * would silently misassign values (the reference's pandas concat aligns
    * by name), so files are grouped by their exact ordered header and each
    * group reads with its own schema before a by-name union.
    */
  def loadFiles(metas: Seq[FileMetadata], stats: Option[DiscoveryStats]): LoadedSeries = {
    require(metas.nonEmpty, "no files to load")
    val headers = enforceHeaders(metas, metas.map(m => sampleFile(Paths.get(m.filepath), probeRows)))

    // per-file metadata keyed by the exact string the scan reports as
    // _metadata.file_path (a Hadoop-qualified, URI-encoded "file:/..." URI);
    // the O(1) map lookup runs per row inside the scan's own stage
    val files = FileRows(metas.map(m => hadoopPath(m.filepath).toUri.toString -> metadataValues(m)))

    // group by ordered header, preserving first-appearance order so the
    // result's column order is file #1's order (pandas concat parity)
    val parts = headers.distinct.map { h =>
      val paths = metas.zip(headers).collect { case (m, hh) if hh == h => m.filepath }
      val scan = scanFiles(h, paths)
      withMetadata(scan, GraftExpressionBridge.column(FileMetadataOf(
        GraftExpressionBridge.expression(scan.metadataColumn("_metadata")("file_path")), files)))
    }
    assemble(parts, headers.head, metas, stats)
  }

  /** F1/F2: strict format first, then an ordered fallback over common
    * formats (the Spark-native, codegen'd replacement for the reference's
    * per-row dateparser.parse fallback — its acknowledged hot spot,
    * load_file.py:1932-1955). Each date family is one pattern whose time
    * part is optional (`[ HH:mm[:ss]]`). The configured dateOrder
    * (reference DATE_ORDER, load_file.py:1945,1976) decides which
    * slashed-numeric family wins on ambiguous inputs like 01/02/2024.
    * One `ParseTimestamp` call gives what `coalesce(try_to_timestamp(trim(c),
    * f) ...)` over the same formats gives, but a format that does not fit
    * the string costs no thrown exception: with `try_to_timestamp`, every
    * row that misses the configured format threw and caught one per CSV
    * scan.
    */
  private[load] def parseTimestamp(c: Column): Column = {
    val slashed = loading.dateOrder.toUpperCase match {
      case "MDY" => Seq("MM/dd/yyyy", "dd/MM/yyyy")
      case "YMD" => Seq("yyyy/MM/dd", "dd/MM/yyyy")
      case _ => Seq("dd/MM/yyyy", "MM/dd/yyyy") // DMY (reference default)
    }
    val fallbacks = (loading.timeFormat +:
      ("yyyy-MM-dd" +: slashed).map(d => s"$d[ HH:mm[:ss]]") :+
      "MM-dd-yyyy HH:mm:ss" :+ "yyyy/MM/dd HH:mm:ss").distinct
    GraftExpressionBridge.column(ParseTimestamp(GraftExpressionBridge.expression(c), fallbacks))
  }

  /** The one finish step for both sources. `parts` are all-string frames
    * already tagged with FileMetadataColumns; the timestamp column comes
    * from the first header (O1), the transformer runs once on the union.
    * Hooks see the frame before the time sort, which runs last.
    */
  private def assemble(
      parts: Seq[DataFrame],
      header: Seq[String],
      metas: Seq[FileMetadata],
      stats: Option[DiscoveryStats]
  ): LoadedSeries = {
    val tsCol = detectTimestampColumn(header)
    val transformed = transformer.transform(
      parts.reduce(_.unionByName(_, allowMissingColumns = true)), tsCol, loading)
    val parsed = tsCol match {
      case Some(tc) if transformed.schema(tc).dataType == StringType =>
        // F1 strict parse with F2-style coalesce fallback over common formats
        transformed.withColumn(tc, parseTimestamp(col(tc)))
      case _ => transformed
    }
    val renamed = applyNaming(parsed)
    val tsRenamed = tsCol.map(cleanName)
    // one accumulating context shared by every hook in the chain (reference
    // threads a single dict, ts_extensions.py:58-75, load_file.py:1853-1861)
    val context = scala.collection.mutable.Map.empty[String, Any]
    val hooked = hooks.foldLeft(renamed) { (acc, h) =>
      try h.process(acc, context)
      catch {
        case e: Exception => // hook errors logged, pipeline continues (ts_extensions.py:70-75)
          errors.add(ProcessingError(e.getMessage, ErrorSeverity.Warning, "HookError"))
          acc
      }
    }
    val sorted = tsRenamed match {
      case Some(tc) if sortByTimestamp && hooked.columns.contains(tc) => timeSorted(hooked, tc, metas)
      case _ => hooked
    }
    LoadedSeries(sorted, metas, tsRenamed, errors, stats, context.toMap)(hooked)
  }

  /** `df` in `tc` order, nulls first, sorted on file-edge chunks. The files
    * are time-ordered chunks of one series, so their names already give
    * range edges and the sort needs no sampling job: contiguous groups of
    * files in start-time order (at most one per shuffle partition), each
    * edge the first start time of a group, read as a wall-clock time in the
    * session zone like the rows' own timestamps. A row goes to the
    * partition numbered by the edges at or below its timestamp (a null to
    * 0), so partition i holds only rows earlier than partition i+1 and each
    * partition sorts itself. A file whose rows stray outside its name's
    * range only skews the partitions; the order holds whatever the names
    * claim. Fewer than two groups, or a column that is not a timestamp,
    * take a plain `orderBy`.
    */
  private def timeSorted(df: DataFrame, tc: String, metas: Seq[FileMetadata]): DataFrame = {
    val starts = metas.flatMap(_.startTime).sortBy(_.getTime)
    val groups = math.min(starts.size, spark.sessionState.conf.defaultNumShufflePartitions)
    val zone = ZoneId.of(spark.sessionState.conf.sessionLocalTimeZone)
    val edges = (1 until groups).map { g =>
      ChronoUnit.MICROS.between(Instant.EPOCH, starts(g * starts.size / groups).toLocalDateTime.atZone(zone))
    }.distinct.sorted
    if (edges.isEmpty || df.schema(tc).dataType != TimestampType) df.orderBy(col(tc))
    else df.repartitionById(edges.size + 1, GraftExpressionBridge.column(
        edgesAtOrBelow(GraftExpressionBridge.expression(col(tc)), edges, 0, edges.size)))
      .sortWithinPartitions(col(tc))
  }

  /** How many of the ascending `edges` (µs) lie at or below `ts`, known to
    * be in [lo, hi]; 0 for a null `ts`. A balanced tree of CASE WHENs, one
    * comparison per level. Built from Catalyst expressions, not Column
    * functions: the same tree written with `>=`/`when` made every 4-file
    * load's sort step 2.3-4.8 ms slower (local[4], 30 interleaved warm
    * builds, four runs, measured with the loader's native kernels in).
    */
  private def edgesAtOrBelow(ts: Expression, edges: IndexedSeq[Long], lo: Int, hi: Int): Expression =
    if (lo == hi) Literal(lo)
    else {
      val mid = (lo + hi) / 2
      CaseWhen(Seq(GreaterThanOrEqual(ts, Literal(edges(mid), TimestampType)) ->
        edgesAtOrBelow(ts, edges, mid + 1, hi)), edgesAtOrBelow(ts, edges, lo, mid))
    }

  private def cleanName(c: String): String = {
    val stripped = if (naming.stripWhitespace) c.trim else c // C1
    val renamed = naming.renameMap.getOrElse(stripped, stripped) // C2
    if (naming.cleanColumnNames) { // C3: keep last " - " segment
      val parts = renamed.split(" - ")
      parts.last.trim
    } else renamed
  }

  private def applyNaming(df: DataFrame): DataFrame = {
    val newNames = df.columns.toIndexedSeq.map(c => if (FileMetadataColumns.contains(c)) c else cleanName(c))
    df.toDF(newNames: _*)
  }
}
