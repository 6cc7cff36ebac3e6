package graft.load

import graft.SparkSpec
import graft.core._
import graft.meta.{Discovery, TimeMetadataExtractor}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateMutableProjection
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.GraftExpressionBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** End-to-end CSV pipeline parity (the reference's flagship
  * initialize_processing; tests/test_load_file.py:890-897, 1336-1352 pins:
  * concat sorted monotonic, metadata columns present + typed, numeric
  * coercion, column cleaning C1-C3).
  */
class LoaderSpec extends SparkSpec {

  // humidity mixes letters in BOTH files: per-file dtypes agree (object),
  // matching the reference's np.issubdtype rule, while still exercising
  // to_numeric(coerce) -> null
  private def writeFixture(dir: Path): Unit = {
    Files.writeString(dir.resolve("01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"),
      "timestamp;Plant - Sensor - Temp; humidity\n" +
        "01/01/2024 00:30;21.0;xyz\n" + // out of order + garbage numeric
        "01/01/2024 00:00;20.5;30\n")
    Files.writeString(dir.resolve("01-01-2024 01_00_00 - 01-01-2024 02_00_00.csv"),
      "timestamp;Plant - Sensor - Temp; humidity\n" +
        "01/01/2024 01:00;22.0;35\n" +
        "01/01/2024 01:30;23.0;n/a\n")
  }

  private def tmpDir(): Path = Files.createTempDirectory("graft-loader-spec")

  /** A directory's files as in-memory uploads: the same bytes, no file behind them. */
  private def uploadsOf(dir: Path): Seq[(String, Array[Byte])] =
    Files.list(dir).iterator().asScala.toSeq.map(f => (f.getFileName.toString, Files.readAllBytes(f)))

  test("full pipeline: discover -> validate -> load -> coerce -> sort -> clean names") {
    val dir = tmpDir()
    writeFixture(dir)
    val loaded = new TimeSeriesLoader(spark).load(dir.toString)
    val df = loaded.df

    // C1-C3: " humidity" trimmed; "Plant - Sensor - Temp" -> last segment
    assert(df.columns.toSet == Set("timestamp", "Temp", "humidity",
      "source_file", "file_start_time", "file_end_time"))
    // F1: strict dd/MM/yyyy HH:mm parse -> TimestampType
    assert(df.schema("timestamp").dataType == TimestampType)
    assert(df.schema("file_start_time").dataType == TimestampType)

    val rows = df.collect()
    assert(rows.length == 4)
    // O1: sorted monotonic (reference pin :890-897)
    val tss = rows.map(_.getTimestamp(df.columns.indexOf("timestamp")))
    assert(tss.sliding(2).forall { case Array(a, b) => !a.after(b) })
    assert(tss.head == ts("2024-01-01 00:00:00"))
    // P4: to_numeric(coerce): "xyz"/"n/a" -> null, "30"/"35" -> doubles
    val hIdx = df.columns.indexOf("humidity")
    assert(rows.count(_.isNullAt(hIdx)) == 2)
    assert(rows.map(r => if (r.isNullAt(hIdx)) 0.0 else r.getDouble(hIdx)).sum == 65.0)
    // J2: per-file metadata attach
    val sIdx = df.columns.indexOf("source_file")
    assert(rows.map(_.getString(sIdx)).distinct.length == 2)

    assert(loaded.timestampColumn == Some("timestamp"))
    // A4 concat metadata: documented max() for end_time (not the reference's min bug)
    assert(loaded.concatMetadata("total_files") == 2)
    assert(loaded.concatMetadata("end_time") == Some(ts("2024-01-01 02:00:00")))
  }

  test("discovery stats: invalid files are filtered with reasons, not loaded") {
    val dir = tmpDir()
    writeFixture(dir)
    Files.writeString(dir.resolve("notes.txt"), "not a csv")
    Files.writeString(dir.resolve("badname.csv"), "a;b\n1;2\n")
    Files.writeString(dir.resolve("01-01-2024 03_00_00 - 01-01-2024 04_00_00.csv"), "")

    val loader = new TimeSeriesLoader(spark,
      discovery = FileDiscoveryConfig(filePattern = "*"),
      tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.None_))
    val (metas, stats) = loader.discoverAndValidate(dir.toString)
    assert(metas.size == 2)
    assert(stats.totalFound == 5)
    assert(stats.invalid == 3)
    assert(stats.invalidReasons.exists(_._2.contains("pattern")), "badname.csv reason")
    assert(stats.invalidReasons.exists(_._2.contains("empty")), "empty file reason")
  }

  test("column mismatch across files raises DataLoadingException (P5 pin :719-746)") {
    val dir = tmpDir()
    writeFixture(dir)
    Files.writeString(dir.resolve("01-01-2024 02_00_00 - 01-01-2024 03_00_00.csv"),
      "timestamp;DIFFERENT\n01/01/2024 02:00;1\n")
    val loader = new TimeSeriesLoader(spark,
      tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.None_))
    assertThrows[DataLoadingException](loader.load(dir.toString))
    // uploads go through the same header check
    val e = intercept[DataLoadingException](loader.loadUploads(uploadsOf(dir)))
    assert(e.getMessage.contains("Column mismatch in 01-01-2024 02_00_00 - 01-01-2024 03_00_00.csv"))
  }

  test("dtype mismatch across files raises (P5 pin :748-780: letters in a numeric column)") {
    val dir = tmpDir()
    Files.writeString(dir.resolve("01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"),
      "timestamp;v\n01/01/2024 00:00;1.5\n01/01/2024 00:30;2.5\n")
    Files.writeString(dir.resolve("01-01-2024 01_00_00 - 01-01-2024 02_00_00.csv"),
      "timestamp;v\n01/01/2024 01:00;abc\n01/01/2024 01:30;def\n")
    val loader = new TimeSeriesLoader(spark,
      tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.None_))
    for (load <- Seq(() => loader.load(dir.toString), () => loader.loadUploads(uploadsOf(dir)))) {
      val e = intercept[DataLoadingException](load())
      assert(e.getMessage.contains("Data type mismatch"))
    }
  }

  test("delimiter variants ',' '\\t' '|' load identically (pin :782-805)") {
    for (d <- Seq(",", "\t", "|")) {
      val dir = tmpDir()
      Files.writeString(dir.resolve("01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"),
        s"timestamp${d}v\n01/01/2024 00:00${d}1.5\n01/01/2024 00:30${d}2.5\n")
      val loaded = new TimeSeriesLoader(spark,
        loading = graft.core.LoadingConfig(delimiter = d),
        tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.None_))
        .load(dir.toString)
      assert(loaded.df.count() == 2, s"delimiter '$d'")
      assert(loaded.df.select(sum(col("v"))).head().getDouble(0) == 4.0, s"delimiter '$d'")
    }
  }

  test("explicit timestampColumn with prefixed name (FIXTURES §3 shape)") {
    val dir = tmpDir()
    Files.writeString(dir.resolve("01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"),
      "Type1 SubType - Column1 - Value;Type1 SubType - Time;Extra - Data\n" +
        "2;01/01/2023 11:00;B\n1;01/01/2023 10:00;A\n")
    val loaded = new TimeSeriesLoader(spark,
      loading = graft.core.LoadingConfig(
        timestampColumn = Some("Type1 SubType - Time")),
      tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.None_))
      .load(dir.toString)
    val df = loaded.df
    // cleaned names keep last " - " segment
    assert(df.columns.take(3).toSet == Set("Value", "Time", "Data"))
    assert(df.schema("Time").dataType == TimestampType)
    assert(loaded.timestampColumn == Some("Time"))
    val times = df.collect().map(_.getTimestamp(df.columns.indexOf("Time")))
    assert(times.head == ts("2023-01-01 10:00:00")) // sorted monotonic
  }

  test("uploads with empty bytes or non-matching names are filtered (FIXTURES §5)") {
    val good = ("01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv",
      "timestamp;v\n01/01/2024 00:00;1.0\n".getBytes("UTF-8"))
    assertThrows[FileDiscoveryException](
      Discovery.fromUploads(Seq(("x.csv", Array.empty[Byte])),
        new TimeMetadataExtractor()))
    val kept = Discovery.fromUploads(
      Seq(good, ("empty.csv", Array.empty[Byte]), ("badname.csv", "a;b".getBytes)),
      new TimeMetadataExtractor())
    assert(kept.map(_._1) == Seq(good._1))
  }

  test("missing directory raises FileDiscoveryException (pin :422-433)") {
    assertThrows[FileDiscoveryException](
      new TimeSeriesLoader(spark).load("/nonexistent/graft/path"))
  }

  test("strict sequence validation fails on a big inter-file gap") {
    val dir = tmpDir()
    writeFixture(dir)
    // file 3 starts 2h after file 2 ends; maxAllowedGap default 15min
    Files.writeString(dir.resolve("01-01-2024 04_00_00 - 01-01-2024 05_00_00.csv"),
      "timestamp;Plant - Sensor - Temp; humidity\n01/01/2024 04:00;1.0;n/a\n")
    val strict = new TimeSeriesLoader(spark,
      tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.Strict))
    assertThrows[TimeValidationException](strict.load(dir.toString))
    // Lenient tolerates gaps (only overlaps are fatal)
    val lenient = new TimeSeriesLoader(spark,
      tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.Lenient))
    assert(lenient.load(dir.toString).df.count() == 5)
  }

  test("loadUploads: in-memory batch source (S3)") {
    val uploads = Seq(
      ("01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv",
        "timestamp;v\n01/01/2024 00:00;1.5\n01/01/2024 00:30;2.5\n".getBytes("UTF-8")),
      ("01-01-2024 01_00_00 - 01-01-2024 02_00_00.csv",
        "timestamp;v\n01/01/2024 01:00;3.5\n".getBytes("UTF-8"))
    )
    val loaded = new TimeSeriesLoader(spark).loadUploads(uploads)
    val df = loaded.df
    assert(df.count() == 3)
    assert(df.select(sum(col("v"))).head().getDouble(0) == 7.5)
    assert(df.columns.contains("source_file"))
  }

  test("renameMap applies after trim, before prefix cleaning (C2 order)") {
    val dir = tmpDir()
    writeFixture(dir)
    val loader = new TimeSeriesLoader(spark,
      naming = ColumnNamingConfig(renameMap = Map("humidity" -> "hum")),
      tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.None_))
    val df = loader.load(dir.toString).df
    assert(df.columns.contains("hum"))
    assert(!df.columns.contains("humidity"))
  }

  test("decimal=',' normalizes European decimals before coercion (survey trap #8)") {
    val dir = tmpDir()
    Files.writeString(dir.resolve("01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"),
      "timestamp;v\n01/01/2024 00:00;21,5\n01/01/2024 00:30;1.234\n")
    val loader = new TimeSeriesLoader(spark,
      loading = graft.core.LoadingConfig(decimal = ","),
      tsConfig = graft.core.TimeSeriesConfig(strategy = graft.core.ValidationStrategy.None_))
    // the same bytes as uploads must give the same values
    for (loaded <- Seq(loader.load(dir.toString), loader.loadUploads(uploadsOf(dir)))) {
      val vs = loaded.df.orderBy("timestamp").collect()
        .map(r => if (r.isNullAt(1)) None else Some(r.getDouble(1)))
      assert(vs(0) == Some(21.5))
    }
  }

  test("originalColumnNames reads the header only (S5)") {
    val dir = tmpDir()
    writeFixture(dir)
    val loader = new TimeSeriesLoader(spark)
    val f = dir.resolve("01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv").toString
    assert(loader.originalColumnNames(f) ==
      Seq("timestamp", "Plant - Sensor - Temp", "humidity"))
  }

  test("LoadedSeries exposes the reference's analysis/resample/report methods") {
    val dir = tmpDir()
    writeFixture(dir)
    val loaded = new TimeSeriesLoader(spark,
      tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.None_))
      .load(dir.toString)
    val report = loaded.analyzeContinuity()
    assert(report.inferredFrequency == Some("1800s")) // 30-min fixture cadence
    assert(report.totalPoints == 4)
    val resampled = loaded.resample("30min", methodResample = Some("mean"))
    assert(resampled.count() == 4) // 00:00..01:30 at 30min
    val fr = loaded.fileReport()
    assert(fr.totalFiles == 2 && fr.coveragePercent == 100.0)
  }

  test("PipelineBuilder wires all five extension points (reference create_pipeline)") {
    val dir = tmpDir()
    writeFixture(dir)
    assert(PipelineBuilder.ExtensionPoints.size == 5)
    val loaded = PipelineBuilder(spark)
      .withTimeSeriesConfig(graft.core.TimeSeriesConfig(
        strategy = graft.core.ValidationStrategy.None_))
      .withNaming(graft.core.ColumnNamingConfig(renameMap = Map("humidity" -> "hum")))
      .withTransformer(new MarkingTransformer)
      .addHook(new OutlierRemovalHook(Seq("hum"), threshold = 100.0))
      .build()
      .load(dir.toString)
    assert(loaded.df.columns.contains("hum"))
    assert(loaded.df.count() == 4)
    // the builder's transformer ran on the directory load, on top of the
    // default coercion (hum is numeric, so the hook could run)
    assert(loaded.df.filter(col("marked")).count() == 4)
    assert(loaded.hookContext.contains("processing_stats"))
  }

  /** Default coercion plus a `marked` column; counts its calls and records
    * whether the metadata columns were already on the frame it saw.
    */
  private class MarkingTransformer extends DataTransformer {
    val calls = new java.util.concurrent.atomic.AtomicInteger
    @volatile var sawMetadata = false
    override def transform(df: org.apache.spark.sql.DataFrame, timestampColumn: Option[String],
        loading: LoadingConfig) = {
      calls.incrementAndGet()
      sawMetadata = TimeSeriesLoader.FileMetadataColumns.forall(df.columns.contains)
      new DefaultDataTransformer().transform(df, timestampColumn, loading)
        .withColumn("marked", lit(true))
    }
  }

  test("the transformer runs once per load, on the tagged whole frame, for a " +
    "directory, a path list and uploads alike") {
    val dir = tmpDir()
    writeFixture(dir)
    val noValidation = TimeSeriesConfig(strategy = ValidationStrategy.None_)
    val paths = Files.list(dir).iterator().asScala.map(_.toString).toSeq
    val loads = Seq[TimeSeriesLoader => LoadedSeries](
      _.load(dir.toString), _.loadPaths(paths), _.loadUploads(uploadsOf(dir)))
    for ((run, i) <- loads.zipWithIndex) {
      val t = new MarkingTransformer
      val loaded = run(new TimeSeriesLoader(spark, tsConfig = noValidation, transformer = t))
      assert(t.calls.get() == 1, s"load #$i: transformer calls")
      assert(t.sawMetadata, s"load #$i: metadata columns missing before the transformer")
      assert(loaded.df.filter(col("marked")).count() == loaded.df.count(), s"load #$i")
      assert(loaded.df.schema("timestamp").dataType == TimestampType, s"load #$i")
    }
  }

  test("an explicit timestampColumn without 'time' in its name is reported, " +
    "parsed and sorted on uploads as on a directory") {
    val dir = tmpDir()
    Files.writeString(dir.resolve("01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"),
      "Datum;v\n01/01/2024 00:30;2\n01/01/2024 00:00;1\n")
    Files.writeString(dir.resolve("01-01-2024 01_00_00 - 01-01-2024 02_00_00.csv"),
      "Datum;v\n01/01/2024 01:00;3\n")
    val loader = new TimeSeriesLoader(spark, loading = LoadingConfig(timestampColumn = Some("Datum")),
      tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.None_))
    for (loaded <- Seq(loader.load(dir.toString), loader.loadUploads(uploadsOf(dir)))) {
      assert(loaded.timestampColumn == Some("Datum"))
      assert(loaded.df.select("Datum").collect().map(_.getTimestamp(0)).toSeq ==
        Seq(ts("2024-01-01 00:00:00"), ts("2024-01-01 00:30:00"), ts("2024-01-01 01:00:00")))
      assert(loaded.analyzeContinuity().totalPoints == 3)
    }
  }

  test("TimeMetadataExtractor parses the default filename pattern (P3)") {
    val ex = new TimeMetadataExtractor()
    val m = ex.extractMetadata(java.nio.file.Paths.get(
      "/data/01-15-2024 08_30_00 - 01-15-2024 09_30_00.csv"))
    assert(m.startTime == Some(ts("2024-01-15 08:30:00")))
    assert(m.endTime == Some(ts("2024-01-15 09:30:00")))
    assert(!ex.isValidFilename("random.csv"))
    assertThrows[FileParsingException](
      ex.extractMetadata(java.nio.file.Paths.get("random.csv")))
  }

  test("RegexMetadataExtractor: named groups -> times + additional metadata") {
    val ex = new graft.meta.RegexMetadataExtractor(
      pattern = """(\w+)_(\w+)_(\d{2}-\d{2}-\d{4} \d{2}_\d{2}_\d{2})\.csv""",
      groupNames = Seq("site", "sensor", "start"))
    val m = ex.extractMetadata(java.nio.file.Paths.get(
      "plant1_temp_01-15-2024 08_30_00.csv"))
    assert(m.startTime == Some(ts("2024-01-15 08:30:00")))
    assert(m.endTime == None)
    assert(m.additional == Map("site" -> "plant1", "sensor" -> "temp"))
    assert(ex.isValidFilename("plant1_temp_01-15-2024 08_30_00.csv"))
    assert(!ex.isValidFilename("nope.csv"))
  }

  test("reordered columns align BY NAME, never by position (pandas concat " +
    "parity: a positional schema would silently swap the values)") {
    val dir = tmpDir()
    Files.writeString(dir.resolve("01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"),
      "timestamp;a;b\n01/01/2024 00:00;1;100\n")
    Files.writeString(dir.resolve("01-01-2024 01_00_00 - 01-01-2024 02_00_00.csv"),
      "timestamp;b;a\n01/01/2024 01:00;200;2\n") // same set, swapped order
    val loaded = new TimeSeriesLoader(spark,
      tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.None_))
      .load(dir.toString)
    val rows = loaded.df.orderBy("timestamp").select("a", "b").collect()
    assert(rows.map(_.getDouble(0)).toSeq == Seq(1.0, 2.0), "column a misassigned")
    assert(rows.map(_.getDouble(1)).toSeq == Seq(100.0, 200.0), "column b misassigned")
  }

  test("dateOrder resolves ambiguous slashed dates (reference DATE_ORDER, " +
    "load_file.py:1945,1976): 01/02/2024 is Feb 1 under DMY, Jan 2 under MDY") {
    for ((order, expected) <- Seq("DMY" -> ts("2024-02-01 00:00:00"),
                                  "MDY" -> ts("2024-01-02 00:00:00"))) {
      val dir = tmpDir()
      Files.writeString(dir.resolve("01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"),
        "timestamp;v\n01/02/2024;1.0\n")
      val loaded = new TimeSeriesLoader(spark,
        loading = LoadingConfig(dateOrder = order),
        tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.None_))
        .load(dir.toString)
      val got = loaded.df.select("timestamp").head().getTimestamp(0)
      assert(got == expected, s"dateOrder=$order parsed $got")
    }
  }

  private val zoneKey = "spark.sql.session.timeZone"
  private val policyKey = "spark.sql.legacy.timeParserPolicy"
  private val excludedKey = "spark.sql.optimizer.excludedRules"

  test("timestamp fallback: one optional-time pattern per date family parses " +
    "exactly like the three fixed patterns it replaces") {
    // the previous fallback list, kept as the reference
    def reference(order: String, timeFormat: String): Seq[String] = {
      val slashed = order match {
        case "MDY" => Seq(
          "MM/dd/yyyy HH:mm:ss", "MM/dd/yyyy HH:mm", "MM/dd/yyyy",
          "dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy HH:mm", "dd/MM/yyyy")
        case "YMD" => Seq(
          "yyyy/MM/dd HH:mm:ss", "yyyy/MM/dd HH:mm", "yyyy/MM/dd",
          "dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy HH:mm", "dd/MM/yyyy")
        case _ => Seq(
          "dd/MM/yyyy HH:mm:ss", "dd/MM/yyyy HH:mm", "dd/MM/yyyy",
          "MM/dd/yyyy HH:mm:ss", "MM/dd/yyyy HH:mm", "MM/dd/yyyy")
      }
      (Seq(timeFormat, "yyyy-MM-dd HH:mm:ss", "yyyy-MM-dd HH:mm", "yyyy-MM-dd") ++
        slashed ++ Seq("MM-dd-yyyy HH:mm:ss", "yyyy/MM/dd HH:mm:ss")).distinct
    }
    // the last six pass the structural parse but fail resolution (Feb 31,
    // hour 24, Feb 29 of a common year) or fall in Europe/Berlin's DST gap
    val inputs = Seq("2024-01-02", "2024-01-02 03:04", "2024-01-02 03:04:05",
      "2024-01-02T03:04:05", "2024-01-02 03:04:05.678", "  2024-01-02 03:04  ",
      "2024-01-02 03", "2024-01-02 03:", "2024-1-2", "2024-02-30",
      "01/02/2024", "01/02/2024 03:04", "01/02/2024 03:04:05", "13/02/2024 03:04",
      "02/13/2024", "2024/01/02", "2024/01/02 03:04", "2024/01/02 03:04:05",
      "01-02-2024 03:04:05", "01-02-2024", "1/2/2024 3:04", "garbage", "",
      "31/02/2024 10:00", "2024-01-02 24:00:00", "29/02/2023",
      "2024-03-31 02:30:00", "31/03/2024 02:30", "03/31/2024 02:30:00")
    val rows = inputs.map(s => InternalRow(UTF8String.fromString(s))) :+ InternalRow(null)
    val configs = for {
      order <- Seq("DMY", "MDY", "YMD")
      fmt <- Seq("dd/MM/yyyy HH:mm", "yyyy-MM-dd HH:mm:ss", "MM/dd/yyyy")
    } yield (order, fmt)
    val sessions = Seq("UTC" -> "CORRECTED", "Europe/Berlin" -> "CORRECTED",
      "UTC" -> "LEGACY", "UTC" -> "EXCEPTION")
    import spark.implicits._
    val saved = Seq(zoneKey, policyKey, excludedKey).map(k => k -> spark.conf.getOption(k))
    try for ((zone, policy) <- sessions) {
      spark.conf.set(zoneKey, zone)
      spark.conf.set(policyKey, policy)
      // a LocalRelation projection would be evaluated (interpreted) by
      // ConvertToLocalRelation; kept as a Project, its optimized expressions
      // (GetTimestamp for try_to_timestamp) are evaluated below both ways
      spark.conf.set(excludedKey, "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
      // per config: the kernel, the coalesce it replaces (same formats), and
      // the fixed patterns. The last agrees only under CORRECTED: a LEGACY
      // SimpleDateFormat reads `[...]` as literal text, and under EXCEPTION
      // which inputs raise depends on the patterns
      def tried(formats: Seq[String]) = coalesce(formats.map(f => try_to_timestamp(trim(col("s")), lit(f))): _*)
      val cols = configs.flatMap { case (order, fmt) =>
        val kernel = new TimeSeriesLoader(spark,
          loading = LoadingConfig(dateOrder = order, timeFormat = fmt)).parseTimestamp(col("s"))
        val formats = GraftExpressionBridge.expression(kernel).asInstanceOf[ParseTimestamp].formats
        Seq(kernel, tried(formats), tried(reference(order, fmt)))
      }
      val plan = Seq("").toDF("s").select(cols: _*).queryExecution.optimizedPlan
      val (exprs, input) = plan match {
        case Project(list, rel: LocalRelation) => (list.map(BindReferences.bindReference(_, rel.output)), rel)
      }
      assert(exprs.length == 3 * configs.length && input.output.length == 1)
      val kernels = exprs.flatMap(_.collect { case k: ParseTimestamp => k })
      assert(kernels.length == configs.length)
      assert(kernels.forall(_.gates.forall(g => (g != null) == (policy == "CORRECTED"))), policy)
      val paths: Seq[(String, Expression => InternalRow => Any)] = Seq(
        "interpreted" -> (e => r => e.eval(r)),
        "generated" -> { e =>
          val proj = GenerateMutableProjection.generate(Seq(e))
          r => proj(r).get(0, TimestampType)
        })
      var parsed, threw = 0
      def same(got: Try[Any], want: Try[Any]): Boolean = (got, want) match {
        case (Success(a), Success(b)) => a == b
        case (Failure(a), Failure(b)) => a.getClass == b.getClass
        case _ => false
      }
      for ((path, evaluator) <- paths; ((order, fmt), i) <- configs.zipWithIndex) {
        val Seq(kernel, replaced, fixed) = exprs.slice(3 * i, 3 * i + 3).map(evaluator)
        for ((row, s) <- rows.zip(inputs :+ null)) {
          val got = Try(kernel(row))
          val at = s"'$s' under $zone/$policy, $path, dateOrder=$order timeFormat=$fmt"
          assert(same(got, Try(replaced(row))), s"$at: $got vs ${Try(replaced(row))}")
          if (policy == "CORRECTED") assert(same(got, Try(fixed(row))), s"$at: $got vs fixed ${Try(fixed(row))}")
          if (got.toOption.exists(_ != null)) parsed += 1
          if (got.isFailure) threw += 1
        }
      }
      assert(parsed > 0 && parsed < 2 * configs.length * rows.length, s"$zone/$policy")
      assert((threw > 0) == (policy == "EXCEPTION"), s"$zone/$policy")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("metadata attach keeps exact per-file values for ' ', '+' and '%' in " +
    "file paths, on both sides of a by-name union") {
    val dir = tmpDir()
    val sub = Files.createDirectories(dir.resolve("a+b %ct"))
    val plain = "01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"
    // a space, a '+' and a valid escape '%41' (a URL decode would read 'A');
    // the swapped header gives this file its own scan before the union
    val odd = "x y+z%41 01-01-2024 01_00_00 - 01-01-2024 02_00_00.csv"
    Files.writeString(sub.resolve(plain), "timestamp;v\n01/01/2024 00:00;1.5\n")
    Files.writeString(sub.resolve(odd), "v;timestamp\n2.5;01/01/2024 01:00\n")
    val loaded = new TimeSeriesLoader(spark,
      tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.None_))
      .load(sub.toString)
    val got = loaded.df.orderBy("timestamp")
      .select("v", "source_file", "file_start_time", "file_end_time").collect()
      .map(r => (r.getDouble(0), r.getString(1), r.getTimestamp(2), r.getTimestamp(3))).toSeq
    assert(got == Seq(
      (1.5, plain, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00")),
      (2.5, odd, ts("2024-01-01 01:00:00"), ts("2024-01-01 02:00:00"))))
  }

  test("file metadata and timestamps attach through one expression each: no ScalaUDF, " +
    "one parse_timestamp, a plan text that does not grow with the file count, and " +
    "resample still reuses its bounds exchange") {
    def load(files: Int): LoadedSeries = {
      val dir = tmpDir()
      val fmt = java.time.format.DateTimeFormatter.ofPattern("MM-dd-yyyy HH_mm_ss")
      val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
      for (i <- 0 until files) {
        val (s, e) = (t0.plusMinutes(10L * i), t0.plusMinutes(10L * i + 10))
        Files.writeString(dir.resolve(s"${s.format(fmt)} - ${e.format(fmt)}.csv"),
          s"timestamp;v\n${s.toLocalDate} ${s.toLocalTime};$i\n")
      }
      new TimeSeriesLoader(spark).load(dir.toString)
    }
    val (few, many) = (load(3), load(300))
    for (loaded <- Seq(few, many)) {
      val exprs = loaded.df.queryExecution.analyzed.flatMap(_.expressions)
      assert(!exprs.exists(_.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.ScalaUDF])))
      assert(exprs.map(_.collect { case _: ParseTimestamp => 1 }.sum).sum == 1)
      assert(!exprs.exists(_.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.GetTimestamp])))
    }
    // what may differ: the digits of expression ids and file counts, and one
    // more branch of the file-edge tree in each plan (2 edges for 3 files, 3
    // for 300; about 350 characters in all). A per-file table would add
    // 297 entries of 50 characters or more.
    val lengths = Seq(few, many).map(_.df.queryExecution.toString.length)
    assert(math.abs(lengths(1) - lengths(0)) < 1000, s"plan text lengths $lengths")
    val resampled = few.resample("1min", Some("mean"))
    assert(resampled.collect().length == 21)
    assert(resampled.queryExecution.executedPlan.toString.contains("ReusedExchange"))
  }

  /** Rows per `source_file` of a loaded frame. */
  private def rowsPerSource(loaded: LoadedSeries): Map[String, Long] =
    loaded.df.groupBy("source_file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  test("file names with glob metacharacters '[', '{' load literally") {
    val dir = tmpDir()
    val brackets = "Plant [1A] - Data - 01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"
    val braces = "Plant {1A} - Data - 01-01-2024 01_00_00 - 01-01-2024 02_00_00.csv"
    Files.writeString(dir.resolve(brackets), "timestamp;v\n01/01/2024 00:00;1.5\n")
    Files.writeString(dir.resolve(braces), "timestamp;v\n01/01/2024 01:00;2.5\n")
    val loaded = new TimeSeriesLoader(spark).load(dir.toString)
    assert(rowsPerSource(loaded) == Map(brackets -> 1L, braces -> 1L))
    assert(loaded.df.select(sum(col("v"))).head().getDouble(0) == 4.0)
  }

  test("a file name with '?' reads only itself, not a sibling it would match as a glob") {
    val dir = tmpDir()
    val question = "Plant 1A? - Data - 01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"
    val sibling = "Plant 1AB - Data - 01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"
    Files.writeString(dir.resolve(question), "timestamp;v\n01/01/2024 00:00;1\n01/01/2024 00:30;2\n")
    Files.writeString(dir.resolve(sibling), "timestamp;v\n01/01/2024 00:15;4\n")
    // loadFiles skips the sequence check, which would reject the two files' equal time ranges
    val metas = Seq(question, sibling).map(n => new TimeMetadataExtractor().extractMetadata(dir.resolve(n)))
    val loaded = new TimeSeriesLoader(spark).loadFiles(metas, None)
    assert(loaded.df.count() == 3)
    assert(rowsPerSource(loaded) == Map(question -> 2L, sibling -> 1L))
  }

  test("the header and dtype probe decodes with loading.encoding (latin-1 header)") {
    val dir = tmpDir()
    val name = "01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"
    Files.write(dir.resolve(name),
      "Time;Temp °C\n01/01/2024 00:00;20.5\n01/01/2024 00:30;21.5\n"
        .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1))
    val loader = new TimeSeriesLoader(spark, loading = LoadingConfig(encoding = "ISO-8859-1"))
    assert(loader.originalColumnNames(dir.resolve(name).toString) == Seq("Time", "Temp °C"))
    val df = loader.load(dir.toString).df
    assert(df.columns.contains("Temp °C"))
    assert(df.orderBy("Time").select("Temp °C").collect().map(_.getDouble(0)).toSeq == Seq(20.5, 21.5))
  }

  test("a file that vanishes between discovery and load raises DataLoadingException naming it") {
    val dir = tmpDir()
    writeFixture(dir)
    val loader = new TimeSeriesLoader(spark)
    val (metas, stats) = loader.discoverAndValidate(dir.toString)
    val gone = "01-01-2024 01_00_00 - 01-01-2024 02_00_00.csv"
    Files.delete(dir.resolve(gone))
    val e = intercept[DataLoadingException](loader.loadFiles(metas, Some(stats)))
    assert(e.getMessage.contains(gone))
  }

  test("building a load over 40 files (past Spark's 32-path listing threshold) starts no Spark job") {
    val dir = tmpDir()
    val fmt = java.time.format.DateTimeFormatter.ofPattern("MM-dd-yyyy HH_mm_ss")
    val day = java.time.format.DateTimeFormatter.ofPattern("dd/MM/yyyy HH:mm")
    val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    for (i <- 0 until 40) {
      val (s, e) = (t0.plusHours(i), t0.plusHours(i + 1))
      Files.writeString(dir.resolve(s"${s.format(fmt)} - ${e.format(fmt)}.csv"),
        s"timestamp;v\n${s.format(day)};$i\n")
    }
    val loader = new TimeSeriesLoader(spark)
    val (metas, stats) = loader.discoverAndValidate(dir.toString)
    val (loaded, jobs) = withJobCount(loader.loadFiles(metas, Some(stats)))
    assert(jobs == 0)
    assert(loaded.df.inputFiles.length == 40)
    assert(loaded.df.count() == 40)
  }

  test("size estimate of the loaded frame stays within 4x the CSV bytes on disk") {
    val dir = tmpDir()
    writeFixture(dir)
    val csvBytes = Files.list(dir).iterator().asScala.map(Files.size).sum
    val loaded = new TimeSeriesLoader(spark,
      tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.None_))
      .load(dir.toString)
    val estimate = loaded.concatMetadata("size_in_bytes").asInstanceOf[BigInt]
    assert(estimate <= 4 * csvBytes, s"estimate $estimate B for $csvBytes B of CSV")
  }

  test("hook chain shares ONE context; OutlierRemovalHook records " +
    "processing_stats.outliers_removed (reference ts_extensions.py:202-207)") {
    val dir = tmpDir()
    Files.writeString(dir.resolve("01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"),
      "timestamp;v\n" +
        (0 until 30).map(i => f"01/01/2024 00:$i%02d;10.0").mkString("\n") +
        "\n01/01/2024 00:30;1000.0\n") // one wild outlier
    val seen = new java.util.concurrent.atomic.AtomicReference[Option[Any]](None)
    val witness = new PostProcessingHook {
      override def process(df: org.apache.spark.sql.DataFrame,
          context: scala.collection.mutable.Map[String, Any]) = {
        seen.set(context.get("processing_stats")) // must see the earlier hook's entry
        df
      }
    }
    val loaded = new TimeSeriesLoader(spark,
      tsConfig = TimeSeriesConfig(strategy = ValidationStrategy.None_),
      hooks = Seq(new OutlierRemovalHook(Seq("v")), witness))
      .load(dir.toString)
    assert(loaded.df.count() == 30, "outlier row should be removed")
    val stats = loaded.hookContext("processing_stats")
      .asInstanceOf[scala.collection.mutable.Map[String, Any]]
    assert(stats("outliers_removed") == 1L)
    assert(seen.get().isDefined, "second hook did not see the first hook's context")
  }

  test("OutlierRemovalHook OVERWRITES outliers_removed with this run's count " +
    "(reference ts_extensions.py:204-207), including 0; empty frame untouched") {
    import spark.implicits._
    val hook = new OutlierRemovalHook(Seq("v"))
    val ctx = scala.collection.mutable.Map[String, Any]()
    def removed = ctx("processing_stats")
      .asInstanceOf[scala.collection.mutable.Map[String, Any]]("outliers_removed")
    val wild = ((1 to 30).map(_ => 10.0) :+ 1000.0).toDF("v")
    hook.process(wild, ctx)
    assert(removed == 1L)
    // a second, clean run overwrites with 0 — it does NOT accumulate to 1
    hook.process((1 to 10).map(_.toDouble).toDF("v"), ctx)
    assert(removed == 0L)
    // non-empty frame with NO configured column present still records 0
    hook.process(wild, ctx) // removed back to 1
    hook.process(Seq(1.0).toDF("other"), ctx)
    assert(removed == 0L)
    // zero-std column: reference `continue`s, then writes 0 unconditionally
    hook.process(Seq(5.0, 5.0, 5.0).toDF("v"), ctx)
    assert(removed == 0L)
    // empty frame: reference returns before touching context (:180-181)
    val ctxEmpty = scala.collection.mutable.Map[String, Any]()
    hook.process(Seq.empty[Double].toDF("v"), ctxEmpty)
    assert(!ctxEmpty.contains("processing_stats"))
  }

  test("continuity and resample on LoadedSeries equal the same analyses of the sorted df, " +
    "with and without an OutlierRemovalHook; df stays in timestamp order") {
    val dir = tmpDir()
    // three hourly files at 1-minute cadence: the second written newest
    // first, the third with a 10-minute outage and one outlier at 02:45
    def file(h: Int, rows: Seq[(Int, Double)]): Unit =
      Files.writeString(dir.resolve(f"01-01-2024 $h%02d_00_00 - 01-01-2024 ${h + 1}%02d_00_00.csv"),
        "timestamp;v\n" + rows.map { case (m, v) => f"01/01/2024 $h%02d:$m%02d;$v\n" }.mkString)
    file(0, (0 until 60).map(m => (m, m.toDouble)))
    file(1, (0 until 60).reverse.map(m => (m, 60.0 + m)))
    file(2, (0 until 60).filterNot(m => m >= 20 && m < 30)
      .map(m => (m, if (m == 45) 10000.0 else 120.0 + m)))
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.sortBy(_.getTimestamp(0).getTime)
    for (hooks <- Seq(Nil, Seq(new OutlierRemovalHook(Seq("v"))))) {
      val loaded = new TimeSeriesLoader(spark, hooks = hooks).load(dir.toString)
      val tss = loaded.df.select("timestamp").collect().map(_.getTimestamp(0))
      assert(tss.length == (if (hooks.isEmpty) 170 else 169))
      assert(tss.sliding(2).forall { case Array(a, b) => a.before(b) }, s"hooks=$hooks")
      val report = loaded.analyzeContinuity()
      assert(report == graft.ts.Continuity.analyze(loaded.df, "timestamp"))
      assert(report.gaps.size == 1)
      val resampled = loaded.resample("1min", Some("mean"))
      assert(resampled.columns.toSeq == loaded.df.columns.toSeq)
      assert(sortedRows(resampled) == sortedRows(
        graft.ts.Resample.resampleTimeSeries(loaded.df, "timestamp", "1min", Some("mean"))))
    }
  }

  /** Global (true) or per-partition (false) sorts in `df`'s logical plan. */
  private def sortKinds(df: org.apache.spark.sql.DataFrame): Seq[Boolean] =
    df.queryExecution.logical.collect { case s: org.apache.spark.sql.catalyst.plans.logical.Sort => s.global }

  test("loaded.df sorts on file-edge chunks: timestamp order with nulls first, the rows " +
    "of a global orderBy, each row in the partition its timestamp names, one job fewer; " +
    "in the JVM's zone and away from it") {
    val dir = tmpDir()
    // v is the row's wall-clock minute of 01/01/2024 (-1 on the row whose
    // timestamp does not parse); files at 10-minute cadence
    def file(name: String, minutes: Seq[Int], extra: String = ""): Path = {
      val p = dir.resolve(name)
      Files.writeString(p, "timestamp;v\n" + minutes.map(m =>
        f"01/01/2024 ${m / 60}%02d:${m % 60}%02d;$m\n").mkString + extra)
      p
    }
    def hourly(h: Int, minutes: Seq[Int], extra: String = ""): Path =
      file(f"01-01-2024 $h%02d_00_00 - 01-01-2024 ${h + 1}%02d_00_00.csv", minutes, extra)
    val named = Seq(
      hourly(0, 0 to 50 by 10),
      hourly(1, (60 to 110 by 10).reverse),
      hourly(2, 120 to 170 by 10),
      hourly(3, 400 to 450 by 10), // rows at 06:40-07:30, outside the name's 03:00-04:00
      hourly(4, 240 to 290 by 10, "not a time;-1\n"),
      hourly(5, 300 to 350 by 10),
      hourly(6, 360 to 390 by 10))
    val ex = new TimeMetadataExtractor()
    val metas = named.map(ex.extractMetadata) :+
      FileMetadata(file("extra readings.csv", Seq(155, 165, 500)).toString)
    // 7 start times over 4 shuffle partitions: groups of files 0, 1-2, 3-4,
    // 5-6, so the edges are the starts of files 1, 3 and 5
    val edgeMinutes = Seq(60, 180, 300)
    val zone = spark.conf.get("spark.sql.session.timeZone")
    val jvmOffset = java.util.TimeZone.getDefault.toZoneId.getRules.getOffset(java.time.Instant.now)
    val away = Seq("Asia/Tokyo", "America/Los_Angeles")
      .find(z => java.time.ZoneId.of(z).getRules.getOffset(java.time.Instant.now) != jvmOffset).get
    try {
      for (z <- Seq(java.util.TimeZone.getDefault.getID, away)) {
        spark.conf.set("spark.sql.session.timeZone", z)
        val loaded = new TimeSeriesLoader(spark).loadFiles(metas, None)
        assert(sortKinds(loaded.df) == Seq(false), z)
        val rows = loaded.df.collect().toSeq
        assert(rows.length == 6 * 6 + 4 + 3 + 1, z)
        assert(rows.head.isNullAt(0), z)
        val tss = rows.tail.map(_.getTimestamp(0))
        assert(tss.sliding(2).forall { case Seq(a, b) => a.before(b) }, z)
        val reference = new TimeSeriesLoader(spark, sortByTimestamp = false)
          .loadFiles(metas, None).df.orderBy("timestamp").collect().toSeq
        assert(rows == reference, z)
        val placed = loaded.df.select("v").rdd
          .mapPartitionsWithIndex((i, it) => it.map(r => (i, r.getDouble(0)))).collect()
        assert(placed.forall { case (i, v) => i == edgeMinutes.count(_ <= v) }, s"$z: ${placed.toSeq}")
        assert(placed.map(_._1).distinct.length == 4, z)
        val (_, jobs) = withJobCount(loaded.df.write.format("noop").mode("overwrite").save())
        assert(jobs == 2, z)
      }
    } finally spark.conf.set("spark.sql.session.timeZone", zone)
  }

  test("a one-file load, or files with no start time in their names, sort with orderBy") {
    val dir = tmpDir()
    writeFixture(dir)
    val loader = new TimeSeriesLoader(spark)
    val (metas, _) = loader.discoverAndValidate(dir.toString)
    for (ms <- Seq(metas.take(1), metas.map(m => FileMetadata(m.filepath)))) {
      val df = loader.loadFiles(ms, None).df
      assert(sortKinds(df) == Seq(true))
      val tss = df.select("timestamp").collect().map(_.getTimestamp(0))
      assert(tss.length == 2 * ms.size)
      assert(tss.sliding(2).forall { case Array(a, b) => !a.after(b) })
    }
  }

  test("extractAll aggregates failures into one FileParsingException") {
    val dir = tmpDir()
    Files.writeString(dir.resolve("good 01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"), "x\n1\n")
    Files.writeString(dir.resolve("bad.csv"), "x\n1\n")
    val errs = new ErrorCollector
    assertThrows[FileParsingException](
      Discovery.extractAll(
        Seq(dir.resolve("good 01-01-2024 00_00_00 - 01-01-2024 01_00_00.csv"),
          dir.resolve("bad.csv")),
        new TimeMetadataExtractor(), errs))
    assert(errs.byType("FileParsingError").size == 1)
  }
}
