package graft.load

import graft.SparkSpec
import graft.core._
import graft.meta.{Discovery, TimeMetadataExtractor}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import scala.jdk.CollectionConverters._

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
