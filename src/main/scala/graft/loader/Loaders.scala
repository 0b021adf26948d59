package graft.loader

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Loader layer (SURVEY.md §2.1): scan instrument data into the event /
  * timed dataframes. [[Hdf5Minimal]] reads the raw instrument files
  * ([[MpesLoader]], [[InstrumentH5Loader]]); as in the reference's flash
  * loader, raw files can be converted once into a Parquet "buffer" lake
  * and scanned from there (`sed/loader/flash/loader.py:617-742`).
  */
trait Loader {

  /** S8 `BaseLoader` contract (`sed/loader/base/loader.py:19-181`). */
  def readDataframe(spark: SparkSession, paths: Seq[String]): (DataFrame, Option[DataFrame])

  /** Per-file elapsed seconds (`get_elapsed_time`). */
  def elapsedTime(df: DataFrame, tsCol: String): Double =
    df.agg((max(col(tsCol)) - min(col(tsCol))).cast("double")).first().getDouble(0)

  /** Events per second (`get_count_rate`). */
  def countRate(df: DataFrame, tsCol: String): Double = {
    val r = df.agg(count(lit(1)).cast("double"),
      (max(col(tsCol)) - min(col(tsCol))).cast("double")).first()
    val dt = r.getDouble(1)
    if (dt <= 0) 0.0 else r.getDouble(0) / dt
  }
}

object GenericLoader extends Loader {

  /** S2 `gather_files` natural sort (`sed/loader/utils.py:17-55`): digit
    * runs compare numerically, text runs lexicographically.
    */
  def naturalSortKey(s: String): Seq[(Int, String)] =
    "\\d+|\\D+".r.findAllIn(s).map { part =>
      if (part.head.isDigit) (0, f"${BigInt(part)}%040d") else (1, part)
    }.toSeq

  /** [[naturalSortKey]]'s ordering as a serializable Ordering[String] —
    * usable executor-side (`RDD.takeOrdered`) for bounded first-N file
    * selection without collecting a full file list to the driver.
    */
  val naturalOrdering: Ordering[String] =
    Ordering.by(naturalSortKey)(
      scala.math.Ordering.Implicits.seqOrdering[Seq, (Int, String)])

  def naturalSort(files: Seq[String]): Seq[String] =
    files.sorted(naturalOrdering)

  /** S2 file gathering: glob a folder by extension, natural-sort, slice
    * `[fStart, fEnd) by fStep`.
    */
  def gatherFiles(
      folder: String,
      extension: String,
      fStart: Option[Int] = None,
      fEnd: Option[Int] = None,
      fStep: Int = 1,
      sorting: Boolean = true,
  ): Seq[String] = {
    val all = Option(new java.io.File(folder).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(s".$extension"))
      .map(_.getPath)
      .toSeq
    val sorted = if (sorting) naturalSort(all) else all
    val sliced = sorted.slice(fStart.getOrElse(0), fEnd.getOrElse(sorted.length))
    sliced.grouped(fStep).map(_.head).toSeq
  }

  /** S9 run-id file resolution (`sed/loader/mpes/loader.py:673-715`,
    * `sed/loader/flash/loader.py:114-168`): per-facility glob patterns
    * with the run id substituted, e.g. `"Scan{run}_*"` or
    * `"*_run{run}_*"`. Natural-sorted like [[gatherFiles]].
    */
  def getFilesFromRunId(
      folder: String,
      runId: String,
      extension: String,
      pattern: String = "*{run}*",
  ): Seq[String] = {
    val glob = pattern.replace("{run}", runId)
    val rx = ("^" + java.util.regex.Pattern.quote(glob)
      .replace("*", "\\E.*\\Q").replace("?", "\\E.\\Q") + "$").r
    val all = Option(new java.io.File(folder).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(s".$extension") &&
        rx.matches(f.getName.stripSuffix(s".$extension")))
      .map(_.getPath).toSeq
    require(all.nonEmpty, s"No files found for run $runId in $folder")
    naturalSort(all)
  }

  /** S1 `GenericLoader.read_dataframe`: scan an explicit list of parquet,
    * csv or json files into one frame.
    *
    * Parquet is planned as ONE scan over every file, so the physical plan
    * holds one `FileSourceScanExec`, not a `Union` of one scan per file.
    * A single-schema scan would null-fill or drop the columns of any file
    * that disagrees, so the driver first reads every file's footer (row
    * groups skipped) and requires the same column names with the same
    * parquet types in every file, in any column order. The first file
    * that differs from the first path's fails the read with an
    * IllegalArgumentException naming that file and its columns. The
    * scan's schema comes from the first file's footer, as Spark's own
    * inference would derive it from that one file, so no Spark job runs
    * and columns come out in the first path's order; partition columns
    * of a directory path follow them.
    *
    * Without `withOrdering`, row order follows Spark's packing of the
    * files into scan partitions, not the order of `paths`. With it, a
    * `file_id` column holds each row's index in `paths` and `seq` a row
    * index rising within each file — the stable global ordering the
    * window-based fills require (SURVEY.md §7.4 risk 3). For that parquet
    * keeps one frame per file, each reading with the single scan's schema.
    * csv and json always read each file on its own, since their inference
    * scans the data, and union the frames by name.
    */
  def read(
      spark: SparkSession,
      paths: Seq[String],
      ftype: String = "parquet",
      withOrdering: Boolean = false,
  ): DataFrame = {
    require(paths.nonEmpty, "No valid files or folders found!")
    def perFile(readOne: String => DataFrame): DataFrame =
      paths.zipWithIndex.map { case (p, i) =>
        val df = readOne(p)
        if (withOrdering)
          df.withColumn("file_id", lit(i))
            .withColumn("seq", monotonically_increasing_id())
        else df
      }.reduce(_.unionByName(_))
    ftype match {
      case "parquet" =>
        // no data file: the plain scan names the missing path or schema
        val scan = footerSchema(spark, paths)
          .fold(spark.read.parquet(paths: _*))(spark.read.schema(_).parquet(paths: _*))
        if (withOrdering) perFile(spark.read.schema(scan.schema).parquet(_))
        else scan
      case "csv" =>
        perFile(spark.read.option("header", "true").option("inferSchema", "true").csv(_))
      case "json" => perFile(spark.read.json(_))
      case other  => throw new IllegalArgumentException(s"Unknown file type: $other")
    }
  }

  /** The schema of [[read]]'s single parquet scan. Every data file under
    * `paths` (a path may be a file, a directory or a glob) must have the
    * same top-level column names with the same parquet types as the first
    * one, in any order. The schema is built from the first file's footer
    * as Spark's `ParquetFileFormat.readSchemaFromFooter` builds it: the
    * Spark schema a Spark writer stored in the footer, else the parquet
    * schema converted under the session's parquet settings. `None` when
    * no path holds a data file; the scan then names the path.
    */
  private def footerSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    import org.apache.hadoop.fs.{FileSystem, Path}
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.metadata.FileMetaData
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetReadSupport, ParquetToSparkSchemaConverter}
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    def dataFiles(fs: FileSystem, p: Path): Seq[Path] =
      Option(fs.globStatus(p)).toSeq.flatten.flatMap { st =>
        if (!st.isDirectory) Seq(st.getPath)
        else fs.listStatus(st.getPath).toSeq
          .filterNot(c => c.getPath.getName.startsWith("_") || c.getPath.getName.startsWith("."))
          .flatMap(c => dataFiles(fs, c.getPath))
      }
    val files = paths.flatMap { p =>
      val hp = new Path(p)
      dataFiles(hp.getFileSystem(conf), hp)
    }
    @annotation.nowarn("cat=deprecation")
    def footer(f: Path): FileMetaData =
      ParquetFileReader.readFooter(conf, f, SKIP_ROW_GROUPS).getFileMetaData
    def columnsOf(m: FileMetaData): Seq[org.apache.parquet.schema.Type] =
      m.getSchema.getFields.asScala.toSeq
    def show(cols: Seq[org.apache.parquet.schema.Type]): String =
      cols.map(_.toString.replaceAll("\\s+", " ").trim).mkString("[", ", ", "]")
    files.headOption.map { first =>
      val meta = footer(first)
      val want = columnsOf(meta)
      files.tail.foreach { f =>
        val got = columnsOf(footer(f))
        if (got.sortBy(_.getName) != want.sortBy(_.getName))
          throw new IllegalArgumentException(
            s"GenericLoader.read needs the same parquet columns in every file: " +
              s"$f has ${show(got)}, but $first has ${show(want)}")
      }
      Option(meta.getKeyValueMetaData.get(ParquetReadSupport.SPARK_METADATA_KEY))
        .flatMap(json => scala.util.Try(DataType.fromJson(json)).toOption)
        .collect { case st: StructType => st }
        .getOrElse(new ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(meta.getSchema))
    }
  }

  override def readDataframe(
      spark: SparkSession,
      paths: Seq[String],
  ): (DataFrame, Option[DataFrame]) =
    (read(spark, paths), None)
}

/** Flash/SXP-style channel loader (S6/F1-F7, S7): consumes per-train rows
  * holding channel arrays at three granularities and aligns everything on
  * the `(trainId, pulseId, electronId)` index.
  *
  * Input shape per channel table:
  *  - per_electron: `trainId, <ch>: array<double>` — one value per pulse
  *    entry, exploded to electrons
  *  - per_pulse: `trainId, <ch>: array<double>` — one value per pulse
  *  - per_train: `trainId, <ch>: double`
  */
object ChannelLoader {

  /** [[assemble]]'s `smallFrame` routing is sensible only below this
    * single-file size (~a few hundred MB ≈ a few M events): above it the
    * two-phase fill's parallel sort beats a one-task window even for one
    * file (see InstrumentH5Loader's call site).
    */
  val smallFrameMaxBytes: Long = 512L << 20

  /** Single input files at or below this size load EAGERLY: the lazy
    * multi-stage assemble (channel joins + window fills, several
    * exchanges — 11-13 Spark jobs per materialization on the real
    * flash/sxp fixtures) runs ONCE at read time, spills to a compact
    * session-temp parquet, and the returned frame is that scan — every
    * later materialization is ONE exchange-free job instead of a re-run
    * of the whole assemble. This mirrors the reference's own posture
    * (its `read_dataframe` walks an in-memory graph in milliseconds;
    * Spark's multi-job re-assemble paid a 12–88× scheduler floor on
    * ≤300 k-event files, BENCH_REF round 12). Values are identical by
    * construction — the eager path materializes the exact lazy plan
    * (spec-pinned on the real instrument fixtures). Larger or multi-file
    * loads keep the fully-lazy distributed plan.
    */
  val driverLocalMaxBytes: Long = 64L << 20

  /** True when `paths` is one file at or below [[driverLocalMaxBytes]]
    * (and `spark.graft.loader.eagerSmall` isn't set to false — the
    * opt-out exists for parity testing and debugging, not tuning).
    */
  def eagerSmallLoad(spark: org.apache.spark.sql.SparkSession,
      paths: Seq[String]): Boolean = {
    val len: Option[Long] =
      if (paths.size != 1) None
      else try {
        val hp = new org.apache.hadoop.fs.Path(paths.head)
        Some(hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .getFileStatus(hp).getLen)
      } catch { case _: Exception => None }
    eagerSmallLoad(spark, len)
  }

  /** [[eagerSmallLoad]] with the single file's length already in hand
    * (no extra metadata round trip — callers that sized the smallFrame
    * gate pass the same status here). `None` = not a single readable
    * file. The conf key and threshold live HERE only, so the two
    * loaders' eager behavior cannot silently diverge.
    *
    * LOCAL MODE ONLY: [[driverLocal]] spills to a `java.io.tmpdir`
    * directory and reads it back. On a cluster the coalesce(1) write
    * task lands on an executor's local disk (file:// default FS — the
    * read-back then fails) or resolves against the cluster FS while the
    * shutdown hook cleans only the driver-local path (HDFS/S3 — a
    * silent spill leak). The optimization targets the interactive
    * single-node case the reference serves; clusters keep the lazy
    * distributed plan, which is the right plan there anyway.
    */
  def eagerSmallLoad(spark: org.apache.spark.sql.SparkSession,
      singleFileLen: Option[Long]): Boolean =
    spark.sparkContext.isLocal &&
      spark.conf.get("spark.graft.loader.eagerSmall", "true").toBoolean &&
      singleFileLen.exists(_ <= driverLocalMaxBytes)

  /** One spill root per JVM, cleaned by ONE shutdown hook (a hook per
    * load would grow the JVM's hook set without bound in a long-lived
    * session). Spills live until JVM exit BY NECESSITY: the returned
    * frames reference them lazily, so nothing earlier is safe to
    * delete. Each is one parquet file ≤ the ≤64 MB source (usually far
    * smaller compressed); a long-lived service loading unbounded
    * distinct files should set `spark.graft.loader.eagerSmall=false`.
    * (The reference's own parquet buffers persist PERMANENTLY by
    * design — exit-scoped spill is strictly tighter.) */
  private lazy val spillRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_eager_load")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(root.toString)).deleteRecursively()
        ()
      } catch { case _: Throwable => () }))
    root
  }
  private val spillSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Run `df`'s plan once, spill the rows to a compact session-temp
    * parquet, and return the scan (see [[driverLocalMaxBytes]]). Schema
    * and values are unchanged; downstream transforms still distribute.
    * Three constructions were measured before this one (297 k-row mpes
    * fixture, 9 cols):
    *  - `createDataFrame(collect(), schema)` keeps EXTERNAL Rows in the
    *    plan and re-converts every field per execution (~1 s);
    *  - a LocalRelation of internal rows re-serializes the rows into the
    *    tasks per execution (`parallelize` ships data inside the task
    *    partitions, ~0.3 s);
    *  - even CACHED, the ParallelCollectionRDD stays in the cached plan's
    *    lineage, so every job still serializes the row data into its
    *    task binaries (~0.3–0.4 s per action, cache hit or not).
    * A parquet spill has none of these: the lineage is a file scan whose
    * tasks carry only split metadata — one ~40–80 ms job per
    * materialization, the OS page cache holds the bytes, and nothing
    * pins executor memory. The spill lives under the JVM temp dir and is
    * removed on shutdown.
    */
  def driverLocal(df: DataFrame): DataFrame = {
    val dir = spillRoot.resolve(s"spill_${spillSeq.incrementAndGet()}").toString
    // one output file: the data is ≤ driverLocalMaxBytes by the caller's
    // gate, and a single file scans as a single clean split (20 shuffle
    // partitions would otherwise fragment into 20 tiny files)
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    df.sparkSession.read.parquet(dir)
  }

  /** Canonical path key for matching driver-side input paths against the
    * `path` column of [[fileBytesFrame]]: both go through the same URI
    * normalization (`file:/x`, `file:///x` and a bare `/x` all map to
    * `file:///x`), so file-id assignment cannot silently miss on scheme
    * spelling. Non-local schemes keep their authority.
    */
  def normPath(p: String): String = {
    val u = new org.apache.hadoop.fs.Path(p).toUri
    val scheme = Option(u.getScheme).getOrElse("file")
    val auth = Option(u.getAuthority).getOrElse("")
    s"$scheme://$auth${u.getPath}"
  }

  /** Executor-side `(path, content)` frame — one whole file per row,
    * spread over `min(nFiles, defaultParallelism)` tasks. This replaces
    * the `binaryFile` source for decode inputs: binaryFile PACKS files
    * into partitions by byte size (`spark.sql.files.maxPartitionBytes`,
    * 128 MB), which is right for IO-bound scans and wrong for CPU-bound
    * per-file decode — 64 × 3.8 MB instrument files packed into two
    * 128 MB partitions ran the whole decode on 2 of 32 cores (the
    * round-11 `loader64` rehearsal measured the cliff: 34.7 s vs ~3 s
    * spread). Only path strings shuffle (round-robin); each task opens
    * its files through the Hadoop FS layer, so every binaryFile scheme
    * (hdfs://, s3a://, file:) keeps working, and the 2 GB binaryFile
    * per-file ceiling becomes an explicit require.
    */
  private[loader] def fileBytesFrame(
      spark: SparkSession, ordered: Seq[String]): DataFrame = {
    import spark.implicits._
    val n = math.max(1, math.min(ordered.length,
      spark.sparkContext.defaultParallelism))
    // ship the SESSION'S Hadoop configuration (spark.hadoop.* — S3
    // credentials, endpoints, kerberos) to the tasks: a bare
    // `new Configuration()` there reads only classpath XML and would
    // silently drop what binaryFile honored
    val confBox = spark.sparkContext.broadcast(
      org.apache.spark.GraftSparkBridge.hadoopConfBox(spark.sparkContext))
    spark.createDataset(ordered).repartition(n)
      .mapPartitions { paths =>
        val conf = confBox.value.value
        paths.map { p =>
          val hp = new org.apache.hadoop.fs.Path(p)
          val fs = hp.getFileSystem(conf)
          val len = fs.getFileStatus(hp).getLen
          require(len <= Int.MaxValue - 512,
            s"$p is ${len} B — exceeds the single-buffer decode limit")
          val buf = new Array[Byte](len.toInt)
          val in = fs.open(hp)
          try in.readFully(0, buf) finally in.close()
          (p, buf)
        }
      }.toDF("path", "content")
  }


  /** The 7 named `dldAux` slots of the HEXTOF detector
    * (`sed/config/flash_example_config.yaml:95-167`).
    */
  val AuxNames: Seq[String] = Seq(
    "sampleBias", "tofVoltage", "extractorVoltage", "extractorCurrent",
    "cryoTemperature", "sampleTemperature", "dldTimeBinSize",
  )

  /** F1 `create_multi_index_per_electron`: explode the pulse-id array,
    * subtract `ubidOffset`, drop negative pulses, enumerate `electronId`
    * within (train, pulse).
    */
  def electronIndex(pulseIds: DataFrame, ubidOffset: Int): DataFrame = {
    val exploded = pulseIds.select(
      col("trainId"),
      posexplode(col("pulseId")).as(Seq("_pos", "_pid")))
      .select(col("trainId"), col("_pos"),
        (col("_pid") - ubidOffset).as("pulseId"))
      .filter(col("pulseId") >= 0)
    exploded.withColumn("electronId",
      row_number().over(
        Window.partitionBy("trainId", "pulseId").orderBy("_pos")) - 1)
      .drop("_pos")
  }

  /** F2 `create_dataframe_per_electron`: explode a per-electron channel
    * onto the positional index, dropping NaN values.
    */
  def perElectron(ch: DataFrame, name: String): DataFrame =
    ch.select(col("trainId"), posexplode(col(name)).as(Seq("_pos", name)))
      .filter(!isnan(col(name)))

  /** F3 `create_dataframe_per_pulse`: explode a pulse-resolved channel
    * onto (trainId, pulseId).
    */
  def perPulse(ch: DataFrame, name: String): DataFrame =
    ch.select(col("trainId"), posexplode(col(name)).as(Seq("pulseId", name)))

  /** F3 `dldAux` fan-out: slice a fixed-position aux array into named
    * scalar columns.
    */
  def auxFanout(ch: DataFrame, auxCol: String, names: Seq[String]): DataFrame =
    ch.select(col("trainId") +: names.zipWithIndex.map { case (n, i) =>
      col(auxCol)(i).as(n)
    }: _*)

  /** F5 `concatenate_channels`: chained FULL OUTER equi-join of channel
    * frames on the shared index — the only join in the reference. Frames
    * arrive hash-partitioned on the join keys, so the chain reuses one
    * exchange per side; per-file volumes are small (buffer files), so AQE
    * may broadcast.
    */
  def concatenateChannels(frames: Seq[DataFrame], on: Seq[String]): DataFrame =
    frames.reduce((l, r) => l.join(r, on, "full_outer"))

  /** F6/F7 + T16: assemble the electron and timed ("pulse") dataframes
    * from channel tables. `perTrainCols` are forward-filled onto electrons
    * in (trainKeys, pulseId, electronId) order; the timed frame keeps rows
    * with `electronId == 0 or null` (`flash/loader.py:825-830`).
    *
    * `trainKeys` defaults to the reference's global-trainId indexing;
    * multi-file loads whose train ids may collide across files pass
    * `Seq("file_id", "trainId")` so channels never cross-join between
    * files.
    */
  def assemble(
      electronFrame: DataFrame,
      pulseFrames: Seq[DataFrame],
      trainFrames: Seq[DataFrame],
      tofColumn: String,
      trainKeys: Seq[String] = Seq("trainId"),
      smallFrame: Boolean = false,
  ): (DataFrame, DataFrame) = {
    val withPulse = pulseFrames.foldLeft(electronFrame)(
      (acc, f) => acc.join(f, trainKeys :+ "pulseId", "full_outer"))
    val joined = trainFrames.foldLeft(withPulse)(
      (acc, f) => acc.join(f, trainKeys, "full_outer"))
    val trainCols = trainFrames.flatMap(_.columns).filterNot(trainKeys.contains)
    val filled = graft.dfops.DfOps.forwardFill(
      joined.withColumn("_ord",
        struct(trainKeys.map(col) :+ col("pulseId") :+ col("electronId"): _*)),
      trainCols, "_ord", smallFrame = smallFrame).drop("_ord")
    val events = filled.na.drop(Seq(tofColumn))
    val timed = filled.filter(col("electronId") === 0 || col("electronId").isNull)
    (events, timed)
  }

  /** S7 SXP variant (`sed/loader/sxp/loader.py:226-318`): the DAQ
    * concatenates several macrobunches' pulse arrays into one train
    * record; boundaries are where the pulse id *decreases*. Emits one row
    * per pulse entry with its recovered `macrobunchId` — a per-train lag
    * window over the explode order (the shuffle keys on trainId, so
    * window state never crosses trains).
    */
  def segmentMacrobunches(raw: DataFrame): DataFrame = {
    val exploded = raw.select(
      col("trainId"), posexplode(col("pulseId")).as(Seq("_pos", "pulse")))
    val w = Window.partitionBy("trainId").orderBy("_pos")
    exploded
      .withColumn("_desc",
        when(col("pulse") < lag(col("pulse"), 1).over(w), 1).otherwise(0))
      .withColumn("macrobunchId",
        sum(col("_desc")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("_desc", "_pos")
  }

  /** F6 parquet buffering with schema check against the expected channel
    * set (`flash/loader.py:617-742`): write once, validate on reuse.
    */
  def bufferToParquet(
      df: DataFrame,
      path: String,
      expectedColumns: Seq[String],
      forceRecreate: Boolean = false,
  ): DataFrame = {
    val spark = df.sparkSession
    // existence through the Hadoop FS for the path's scheme: a
    // java.io.File check is always false on hdfs://'/s3a:// buffers, so
    // a cluster would silently REWRITE the buffer lake on every reuse
    // call instead of scanning it
    val hp = new org.apache.hadoop.fs.Path(path)
    val exists = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(hp)
    if (!exists || forceRecreate)
      df.write.mode("overwrite").parquet(path)
    val buffered = spark.read.parquet(path)
    val missing = expectedColumns.toSet -- buffered.columns.toSet
    require(missing.isEmpty,
      s"The available parquet files do not match the configured channels: missing $missing")
    buffered
  }
}
